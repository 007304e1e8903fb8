"""Standing plan-shape invariants over the ENTIRE query registry
(docs/SCALE.md): every registered query's physical plan, built at
sf0.001, must satisfy

1. no unpartitioned ordered Window over a data-scaling grain — global
   ordered windows are allowed ONLY over bounded-domain series
   (calendar day/week indices, the prefix-sum ``_band`` coarsening,
   the ``_cand_`` candidate-store grain), and EVERY order column must
   be such a grain;
2. every allowlisted unpartitioned ordered window must also pass a
   RUNTIME growth probe: its input row count is measured at BOTH
   sf0.001 and sf0.01, and a 10× data scale-up may grow the window's
   input by at most ``_GROWTH_FACTOR`` — a bounded series (calendar
   span, fixed band count, capped candidate store) stays ~flat while
   any grain that scales with data grows ~10×, so a fact-grain column
   merely ALIASED to a bounded name still fails
   (test_probe_catches_aliased_fact_grain is the counter-example).
   An absolute ceiling ``_WINDOW_ABS_CAP`` backstops grains that are
   technically span-bounded but already too large to single-sort;
3. no ``CartesianProduct`` (a cross join that is not a broadcast);
4. no ``BatchEvalPython`` (row-at-a-time Python UDF) anywhere;
5. no window partitioned ONLY by known low-cardinality columns over
   un-aggregated input (the 5-task funnel class, docs/SCALE.md §sf10);
6. no explicitly BROADCAST-hinted join side that scans a data-scaling
   table without a bounding node beneath (the forced-broadcast OOM
   class, docs/SCALE.md §broadcast-hint policy) — stats/AQE-chosen
   broadcasts carry no hint and are never flagged.

Plan segments behind ``localCheckpoint`` are covered by interception:
during the sweep, ``DataFrame.localCheckpoint`` is patched to run the
shape checks (window/funnel/broadcast-hint/cartesian/BatchEvalPython)
on the PRE-checkpoint plan before taking the checkpoint, so a
scale-killer inside a checkpointed subplan fails CI like any other
(test_checkpoint_interception_catches_bad_subplan is the
counter-example). The sweep empties the session cache first, so every
cached build (PQ fit, IVF routing, ...) runs, and is intercepted, even
when an earlier test warmed it. Remaining limits (the checks are
proxies, not proofs): the name check is a column-name heuristic; and
the growth probe measures one 10× step, so a grain that scales with
data only beyond sf0.01 (e.g. a dimension that saturates at small SF)
passes, and it does not descend into checkpointed segments.

This generalizes the per-query pins (test_distributed_rank_plans,
test_semantic_ts_plans, test_ann_pq) into one registry-wide gate: a new
query with a scale-killer plan fails CI the round it is added, not the
round the judge reads its plan.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame as PyDataFrame
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.window import Window

from tile_processor_spark.plans.registry import all_specs
from tile_processor_spark.session import session_cache_clear
from tile_processor_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
SF10 = "/root/testdata/sf0.01"

# Bounded-domain order grains a global ordered window may run over: the
# calendar-index series (one row per day/week/... of SPAN, independent
# of fact cardinality — ~2.4k rows for the 7-year TPC-H span), the
# two-pass prefix-sum band series (fixed band count by construction,
# see docs/SCALE.md), and the streaming top-k candidate store
# (≤ TOPK_CANDIDATES_PER_BATCH × batches rows). EVERY order column of
# an unpartitioned ordered window must match; the claim is then
# verified at runtime by the growth probe below.
_BOUNDED_COL = re.compile(
    r"^\s*(?:_band|_cand_\w+|day|day_idx|week_idx|hour_idx|month_idx)#"
)

# Sort-direction tokens only ever printed inside an ORDER spec; a
# 2-group Window line without them is partition-only (no ordering), not
# an unpartitioned ordered window.
_ORDER_TOKEN = re.compile(r"\b(ASC|DESC)\b")

#: max growth of an allowlisted global window's input under a 10× data
#: scale-up (sf0.001 → sf0.01). A grain that scales WITH the data (fact
#: rows, customers, users, (day, user) pairs) measures ≈ the full 10×;
#: a domain-bounded series measures well under it — saturated domains
#: (the events day series, the _band/_cand_ series) grow ~1–2×, and
#: even still-saturating value domains (per-part revenue bands, per-
#: customer recency days: occupancy → domain size) measure ≤ ~5–6×
#: with the gap widening every further decade. 6 is the separating
#: line for one measured step; ``_WINDOW_ABS_CAP`` backstops it.
_GROWTH_FACTOR = 6

#: growth is measured against at least this floor, so a near-empty
#: series at sf0.001 (e.g. 20 occupied days) isn't flagged for noise.
_GROWTH_FLOOR = 64

#: absolute ceiling on an allowlisted global window's input at sf0.01 —
#: span-bounded grains must also be SMALL enough to sort on one
#: partition without being a bottleneck (largest legitimate series: the
#: ~2.4k-day TPC-H calendar).
_WINDOW_ABS_CAP = 8192


def _top_level_groups(s: str) -> list[str]:
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def _split_order_cols(spec: str) -> list[str]:
    """Split an order spec on top-level commas (function-call commas
    stay inside their parens)."""
    out, depth, cur = [], 0, []
    for ch in spec:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def _window_violations(plan: str) -> list[str]:
    out = []
    for line in plan.splitlines():
        if not re.search(r"\bWindow \[", line):
            continue
        groups = _top_level_groups(line.split("Window ", 1)[1])
        # Window prints [exprs], [partitionSpec], [orderSpec]; a
        # 3-group line is partitioned (any grain is fine — the shuffle
        # spreads it); a 2-group line is either partition-only (no
        # ORDER tokens: fine) or an unpartitioned ordered window, whose
        # order columns must ALL be bounded-domain series.
        if len(groups) == 3 or len(groups) < 2:
            continue
        spec = groups[1]
        if not _ORDER_TOKEN.search(spec):
            continue  # partition-only window
        if not all(_BOUNDED_COL.match(c) for c in _split_order_cols(spec)):
            out.append(f"fact-grain global window: [{spec[:120]}]")
    return out


def _iter_logical(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _iter_logical(ch.apply(i))


# Columns whose cardinality does NOT grow with the data: a window
# partitioned ONLY by these funnels the fact stream through a handful
# of tasks no matter how large the cluster — the funnel class measured
# at 13.7× on the sf1→sf10 rehearsal step (docs/SCALE.md §sf10).
_LOW_CARD_COLS = {
    "event_type",
    "o_orderpriority",
    "o_orderstatus",
    "l_returnflag",
    "l_linestatus",
    "lang",
    "label",
    "n_name",
    "r_name",
    "shard",  # N_SHARDS is a fixed constant — docs-per-shard scales
}


# Tables whose ROW COUNT scales with the data volume: an explicit
# broadcast hint on a frame that scans one of these without first
# reducing it (aggregate / limit / dedup) is an OOM commitment at
# 100 TB. nation/region/tile-config frames are domain-bounded.
# Matched against scan rootPaths — both the driver layout
# (<sf>/<table>.parquet) and the shm ingest layout (.../<key>-<table>).
_SCALING_TABLE = re.compile(
    r"[-/](lineitem|orders|customer|supplier|part|events|documents|embeddings)"
    r"(\.parquet)?/?$"
)


def _scans_scaling_table(node) -> bool:
    for n in _iter_logical(node):
        if n.getClass().getSimpleName() != "LogicalRelation":
            continue
        try:
            paths = n.relation().location().rootPaths()
            root_strs = [paths.apply(i).toString() for i in range(paths.size())]
        except Exception:
            continue  # non-file relation — can't classify, skip
        if any(_SCALING_TABLE.search(p) for p in root_strs):
            return True
    return False

#: node classes that bound (or hide) the hinted side's cardinality:
#: aggregates/dedup reduce grain, limits cap rows, local relations are
#: literals, LogicalRDD is a checkpoint boundary (blind spot, same as
#: the window sweep's).
_BOUNDING_NODES = {
    "Aggregate",
    "GlobalLimit",
    "Deduplicate",
    "LocalRelation",
    "LogicalRDD",
}


def _hinted_broadcast_violations(df) -> list[str]:
    """Joins in the OPTIMIZED logical plan carrying an explicit
    BROADCAST hint whose hinted side scans a data-scaling table with
    no bounding node beneath — the forced-broadcast OOM class the
    round-8 audit removed (docs/SCALE.md §broadcast-hint policy).
    Size-statistics/AQE broadcasts carry no hint and are never
    flagged."""
    root = df._jdf.queryExecution().optimizedPlan()
    out = []
    for node in _iter_logical(root):
        if node.getClass().getSimpleName() != "Join":
            continue
        h = node.hint()
        for side_name, hint_opt, child in (
            ("left", h.leftHint(), node.left()),
            ("right", h.rightHint(), node.right()),
        ):
            if not hint_opt.isDefined():
                continue
            strat = hint_opt.get().strategy()
            if not strat.isDefined():
                continue
            if "BROADCAST" not in strat.get().toString().upper():
                continue
            bounded = any(
                n.getClass().getSimpleName() in _BOUNDING_NODES
                for n in _iter_logical(child)
            )
            if not bounded and _scans_scaling_table(child):
                out.append(
                    f"forced broadcast of an unbounded scaling-table frame "
                    f"({side_name} side of a join)"
                )
    return out


# Single-child nodes whose output row count is at most their input's:
# a GlobalLimit seen through ONLY these still bounds the ancestor.
_CARD_NONINCREASING = {
    "Project",
    "Filter",
    "Sort",
    "SubqueryAlias",
    "ResolvedHint",
    "Repartition",
    "RepartitionByExpression",
    "Window",
    "WindowGroupLimit",
    "Deduplicate",
    "Distinct",
    "Sample",
    "LocalLimit",
}


def _globallimit_bound(node) -> int | None:
    """Literal GlobalLimit on the window input's SPINE, or None. A
    GlobalLimit is a plan-level proof the window's input cardinality is
    capped regardless of data volume — banded_topk's size dispatch
    emits one (limit = the caller's measured row bound) exactly so this
    sweep can tell an intentionally-small naive window from a funnel.
    Only a limit reached through single-child cardinality-nonincreasing
    nodes counts: a limit() buried under one side of a join (or any
    multiplying node like Generate/Expand/Union) does NOT bound the
    window's input, so honoring the smallest limit ANYWHERE in the
    subtree let a limited dimension side exempt a genuinely unbounded
    fact-grain window (r9 advice)."""
    cur = node
    while True:
        name = cur.getClass().getSimpleName()
        if name == "GlobalLimit":
            m = re.match(r"^(\d+)$", cur.limitExpr().toString())
            return int(m.group(1)) if m else None
        if name not in _CARD_NONINCREASING or cur.children().size() != 1:
            return None
        cur = cur.children().apply(0)


def _funnel_windows(df) -> list[str]:
    """Windows in the OPTIMIZED logical plan partitioned ONLY by known
    low-cardinality columns over un-aggregated input — the 5-task
    funnel class. A window whose child subtree contains an Aggregate
    is exempt: its input is a grouped series (hourly buckets, cell
    counts, histogram bins), bounded per partition key. A child
    subtree carrying a literal GlobalLimit of at most NAIVE_TOPK_ROWS
    is also exempt: the input is row-capped in the plan itself
    (banded_topk's size dispatch). Name-proxy caveats: a low-card
    column hiding under an alias, an Aggregate that doesn't actually
    reduce grain, and plan segments behind localCheckpoint are all
    invisible to this check."""
    from tile_processor_spark.plans.chunked_windows import NAIVE_TOPK_ROWS

    root = df._jdf.queryExecution().optimizedPlan()
    out = []
    for node in _iter_logical(root):
        if node.getClass().getSimpleName() != "Window":
            continue
        ps = node.partitionSpec()
        if ps.isEmpty():
            continue
        names = [
            re.sub(r"#\d+L?$", "", ps.apply(i).toString())
            for i in range(ps.size())
        ]
        if not all(n in _LOW_CARD_COLS for n in names):
            continue  # any computed/cell/high-card column spreads the shuffle
        has_agg = any(
            ch.getClass().getSimpleName() == "Aggregate"
            for ch in _iter_logical(node.child())
        )
        bound = _globallimit_bound(node.child())
        if bound is not None and bound <= NAIVE_TOPK_ROWS:
            continue  # row-capped input: intentionally-small naive window
        if not has_agg:
            out.append(
                f"low-cardinality funnel window: partitionBy({names}) "
                "over un-aggregated input"
            )
    return out


def _unpartitioned_window_input_counts(df) -> list[int]:
    """For each unpartitioned ordered Window in the OPTIMIZED logical
    plan, rebuild its child as a fresh DataFrame (``Dataset.ofRows`` —
    a fully prepared plan, unlike executing physical fragments) and
    count its rows capped at ``_WINDOW_ABS_CAP``+1 — the runtime side
    of the bounded-grain verification."""
    spark = df.sparkSession
    root = df._jdf.queryExecution().optimizedPlan()
    counts = []
    for node in _iter_logical(root):
        if node.getClass().getSimpleName() != "Window":
            continue
        if node.partitionSpec().isEmpty() and not node.orderSpec().isEmpty():
            child_df = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                spark._jsparkSession, node.child()
            )
            counts.append(child_df.limit(_WINDOW_ABS_CAP + 1).count())
    return counts


def _window_growth_issues(build_fn) -> list[str]:
    """Probe every allowlisted unpartitioned ordered window of a query:
    input rows at sf0.001 vs sf0.01 must grow ≤ ``_GROWTH_FACTOR`` (over
    the noise floor) and stay under ``_WINDOW_ABS_CAP``."""
    c_small = _unpartitioned_window_input_counts(build_fn(SF))
    if not c_small:
        return []
    c_big = _unpartitioned_window_input_counts(build_fn(SF10))
    if len(c_big) != len(c_small):
        return [
            f"global-window count differs across SFs "
            f"({len(c_small)} at sf0.001, {len(c_big)} at sf0.01)"
        ]
    issues = []
    for small, big in zip(c_small, c_big):
        if big > _WINDOW_ABS_CAP:
            issues.append(
                f"global window consumes >{_WINDOW_ABS_CAP} rows at sf0.01"
            )
        if big > _GROWTH_FACTOR * max(small, _GROWTH_FLOOR):
            issues.append(
                f"global window input scales with data ({small} rows at "
                f"sf0.001 → {big} at sf0.01) — bounded-grain claim is false"
            )
    return issues


def _shape_issues(df) -> list[str]:
    """All plan-SHAPE invariants (everything except the runtime growth
    probe) for one DataFrame — shared by the main sweep and the
    localCheckpoint interception."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    issues = _window_violations(plan)
    issues.extend(_funnel_windows(df))
    issues.extend(_hinted_broadcast_violations(df))
    if "CartesianProduct" in plan:
        issues.append("CartesianProduct (non-broadcast cross join)")
    if "BatchEvalPython" in plan:
        issues.append("BatchEvalPython (row-at-a-time Python UDF)")
    return issues


@contextmanager
def _checked_checkpoints(sink: list[str]):
    """Patch DataFrame.localCheckpoint to shape-check the
    PRE-checkpoint plan (checkpointing replaces the lineage with a
    LogicalRDD, making the subplan invisible to any later check) and
    append violations to ``sink`` before taking the real checkpoint.
    Both the abstract base and the concrete ``classic.DataFrame``
    define localCheckpoint, so patch every class in the MRO that owns
    one — patching only the base would be shadowed by the subclass."""
    owners = [
        klass
        for klass in (ClassicDataFrame, PyDataFrame)
        if "localCheckpoint" in klass.__dict__
    ]
    origs = {klass: klass.localCheckpoint for klass in owners}

    def make_patched(orig):
        def patched(self, *args, **kwargs):
            sink.extend(
                f"checkpointed subplan: {i}" for i in _shape_issues(self)
            )
            return orig(self, *args, **kwargs)

        return patched

    for klass, orig in origs.items():
        klass.localCheckpoint = make_patched(orig)
    try:
        yield
    finally:
        for klass, orig in origs.items():
            klass.localCheckpoint = orig


def test_all_registry_plans_hold_scale_invariants(spark):
    session_cache_clear()  # intercept every cached build's checkpoints
    specs = all_specs()
    assert len(specs) >= 187
    failures: dict[str, list[str]] = {}
    for name, spec in specs.items():
        ckpt_issues: list[str] = []
        try:
            with _checked_checkpoints(ckpt_issues):
                df = spec.spark_fn(spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # a query that cannot even plan is a failure
            failures[name] = [f"build error: {type(e).__name__}: {e}"]
            continue
        issues = ckpt_issues
        issues.extend(_window_violations(plan))
        issues.extend(_funnel_windows(df))
        issues.extend(_hinted_broadcast_violations(df))
        if "CartesianProduct" in plan:
            issues.append("CartesianProduct (non-broadcast cross join)")
        if "BatchEvalPython" in plan:
            issues.append("BatchEvalPython (row-at-a-time Python UDF)")
        # the name check passed for any remaining global ordered
        # windows — verify the boundedness claim by measuring how their
        # inputs grow under a real 10× data scale-up
        if not issues and re.search(r"\bWindow \[", plan):
            try:
                issues.extend(
                    _window_growth_issues(lambda sf: spec.spark_fn(spark, sf))
                )
            except Exception as e:  # probe must never silently skip
                issues.append(f"window probe error: {type(e).__name__}: {e}")
        if issues:
            failures[name] = issues
    assert not failures, f"{len(failures)} queries violate plan invariants: {failures}"


def test_probe_catches_aliased_fact_grain(spark):
    """A fact-grain column ALIASED to a bounded name fools the
    column-name check but must fail the growth probe (1,000 events at
    sf0.001 → 10,000 at sf0.01 is a 10× measured growth) — the
    deliberate counter-example keeping the allowlist honest."""

    def build(sf_dir):
        ev = load_table(spark, "events", sf_dir).select(
            F.unix_micros("ts").alias("day"), "event_id"
        )
        return ev.withColumn("rn", F.row_number().over(Window.orderBy("day")))

    plan = build(SF)._jdf.queryExecution().executedPlan().toString()
    assert not _window_violations(plan), "name proxy should be fooled by the alias"
    issues = _window_growth_issues(build)
    assert issues and any("scales with data" in i for i in issues)


def test_detector_catches_funnel_window(spark):
    """Deliberate counter-example: a rank window partitioned by
    event_type alone over raw facts must be flagged, and the same
    window over an hourly aggregate must be exempt."""
    ev = load_table(spark, "events", SF)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    bad = ev.withColumn("rn", F.row_number().over(w))
    assert _funnel_windows(bad), "raw-fact funnel window not flagged"
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    ok = hourly.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("event_type").orderBy("h")),
    )
    assert not _funnel_windows(ok), "grouped-series window wrongly flagged"
    # a row-capped input (banded_topk's size dispatch emits the limit)
    # is exempt; an oversized cap is NOT a boundedness proof
    capped = ev.limit(1000).withColumn("rn", F.row_number().over(w))
    assert not _funnel_windows(capped), "limit-bounded window wrongly flagged"
    toobig = ev.limit(5_000_000).withColumn("rn", F.row_number().over(w))
    assert _funnel_windows(toobig), "oversized limit accepted as bound"
    # a limit on ONE JOIN INPUT does not bound the join's output: the
    # fact side is still unbounded, so the window must stay flagged
    # (r9 advice: smallest-limit-anywhere was a false-negative hole)
    dim = (
        load_table(spark, "nation", SF)
        .limit(5)
        .select(F.col("n_nationkey").alias("value"))
    )
    joined = ev.join(dim, "value").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("event_id")
        ),
    )
    assert _funnel_windows(joined), "limited join input accepted as bound"
    # but a limit ABOVE the join (on the window's direct spine) is a
    # genuine bound and still exempts
    joined_capped = ev.join(dim, "value").limit(1000).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("event_id")
        ),
    )
    assert not _funnel_windows(joined_capped), "spine limit wrongly flagged"


def test_detector_catches_forced_scaling_broadcast(spark):
    """Deliberate counter-examples for the broadcast-hint check: a
    forced broadcast of raw supplier is flagged; the same join without
    the hint (stats/AQE choose) and a hinted broadcast of a supplier
    AGGREGATE are both exempt."""
    li = load_table(spark, "lineitem", SF).select("l_suppkey", "l_quantity")
    supp = load_table(spark, "supplier", SF).select("s_suppkey", "s_acctbal")
    bad = li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
    assert _hinted_broadcast_violations(bad), "forced scaling broadcast not flagged"
    unhinted = li.join(supp, li.l_suppkey == supp.s_suppkey)
    assert not _hinted_broadcast_violations(unhinted), "stats-chosen join flagged"
    agg = supp.groupBy("s_suppkey").agg(F.max("s_acctbal").alias("m"))
    bounded = li.join(F.broadcast(agg), li.l_suppkey == agg.s_suppkey)
    assert not _hinted_broadcast_violations(bounded), "bounded broadcast flagged"


def test_checkpoint_interception_catches_bad_subplan(spark):
    """Deliberate counter-example: a funnel window hidden behind
    localCheckpoint is invisible to every post-hoc plan check (the
    lineage is a LogicalRDD), but the interception sees the
    PRE-checkpoint plan and flags it — while a clean checkpointed
    subplan passes untouched and still checkpoints for real."""
    ev = load_table(spark, "events", SF)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    sink: list[str] = []
    with _checked_checkpoints(sink):
        bad = ev.withColumn("rn", F.row_number().over(w)).localCheckpoint()
    assert sink and any("funnel" in s for s in sink), sink
    # post-hoc check on the checkpointed frame is blind — the reason
    # the interception exists
    assert not _funnel_windows(bad)
    assert bad.count() > 0  # the checkpoint itself still happened
    sink.clear()
    with _checked_checkpoints(sink):
        ok = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).localCheckpoint()
    assert not sink, sink
    assert ok.count() > 0
