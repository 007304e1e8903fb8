"""Snapshot tables as a PySpark Python Data Source (Spark 4 API):

    spark.dataSource.register(SnapshotDataSource)
    spark.read.format("tps_snapshot")
         .option("path", table_path)
         .option("version", 3)                      # optional: time travel
         .option("partition_filter", '{"yr": ["2024"]}')  # optional: pruning
         .load()

    df.write.format("tps_snapshot").option("path", table_path)
      .option("partition_by", "yr")                 # optional, overwrite
      .mode("overwrite" | "append").save()

    stream.writeStream.format("tps_snapshot").option("path", table_path)
      .option("stream_app_id", "app")

``table_path`` is a local table directory or an ``s3://bucket/prefix``
table; every reader and writer here is written once over the table's
store (``snapshot_store.open_store``), whose data plane puts and reads
the parquet files of either backend.

Why a connector when ``read_snapshot`` exists: the function API resolves
the manifest and hands Spark a parquet file list — the FAST path (JVM
scan, vectorized, pushdown). The connector expresses the same table
semantics through Spark's source interface, which is what third-party
tooling speaks (``spark.read.format(...)`` with options, SQL `USING`),
and it is the natural seam for payloads that are NOT parquet later.
Partition planning happens in ``partitions()``: one input partition per
data file, with manifest-level partition-filter pruning applied
driver-side BEFORE Spark schedules anything — the same Iceberg-style
file skip as ``read_snapshot(partition_filter=...)``, expressed in the
DSv2-style planning hook. Reads yield Arrow record batches (the
vectorized lane of the Python source API), with Hive-style partition
column values re-attached as constant Arrow columns cast to the
COMMITTED dtype (no path-inference drift by construction).

Writes are a two-phase commit. EXECUTORS each write their Arrow batches
as one parquet file under a writer-private ``data/<uuid>/`` snap prefix,
or, for a partitioned table, as one uuid-named file per occupied
partition-value combination under the table's one Hive tree
``data/tree/<col=val…>/``, and return the written paths with per-file
column min/max stats taken from the in-memory Arrow table. The DRIVER
then publishes a manifest referencing exactly the acknowledged files
through the one commit shape per kind in ``sources/snapshots.py``
(``_commit_overwrite``, ``commit_append``, ``_commit_replace``). A
failed or speculated task leaves unreferenced files, invisible to
readers, which vacuum reclaims after its retention window.

Reference parity: the reference overwrites output directories in place
(tile_processor/output.py DirOutput ~L40); this is the versioned
replacement.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from tile_processor_spark.sources.snapshot_store import (  # noqa: F401 — S3SnapshotStore re-exported
    _TREE_DIR,
    S3SnapshotStore,
    open_store,
)
from tile_processor_spark.sources.snapshots import (
    _check_append_target,
    _commit_overwrite,
    _commit_replace,
    _manifest_files,
    _partition_values,
    commit_append,
)

FORMAT_NAME = "tps_snapshot"


def _table_store(options: dict, what: str):
    """The store of the table named by the ``path`` option."""
    path = options.get("path")
    if not path:
        raise ValueError(f"tps_snapshot {what} requires .option('path', <table dir>)")
    return open_store(path, options)


def _resolve_manifest(store, options: dict) -> dict:
    versions = store.versions()
    if not versions:
        raise FileNotFoundError(f"no committed snapshot at {store}")
    as_of = options.get("as_of")
    if as_of is not None:
        # AS OF TIMESTAMP through the connector (option value is a
        # string: epoch seconds or ISO-8601) — same resolution as
        # read_snapshot(as_of=...)
        if "version" in options:
            raise ValueError(
                "tps_snapshot: version and as_of are mutually exclusive"
            )
        from tile_processor_spark.sources.snapshots import resolve_as_of

        try:
            ts = float(as_of)
        except (TypeError, ValueError):
            ts = str(as_of)
        v = resolve_as_of(options["path"], ts, options)
    else:
        v = int(options.get("version", versions[-1]))
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions} at {store}")
    return store.manifest(v)


class _FileGroupPartition(InputPartition):
    """A bin-packed group of data files sharing one task — the
    million-small-files defense: task count scales with BYTES, not
    file count. Files in a group share identical partition values
    (grouping never crosses a Hive partition boundary). ``files`` are
    store locations (``store.locate``)."""

    def __init__(self, files: list[str], part_values: dict):
        self.files = files
        self.part_values = part_values


def _read_arrow(store, schema: StructType, partition: _FileGroupPartition):
    """Executor body of both readers: each file's Arrow table in the
    committed schema, with Hive path values re-attached as constant
    columns cast to the COMMITTED dtype (a ``__HIVE_DEFAULT_PARTITION__``
    directory as a null, as Spark's own partition discovery reads it)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    values = {k: None if v == _HIVE_NULL else v for k, v in partition.part_values.items()}
    for f in partition.files:
        tbl = store.read_table(f)
        cols = [
            pa.array([values[field.name]] * len(tbl), pa.string()).cast(field.type)
            if field.name in values
            else tbl.column(field.name).cast(field.type)
            for field in target
        ]
        yield from pa.table(cols, schema=target).to_batches()


class SnapshotReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._options = options
        self._store = _table_store(options, "read")
        self._manifest = _resolve_manifest(self._store, options)
        raw = options.get("partition_filter")
        self._filter = json.loads(raw) if raw else None
        self._where: list[tuple] = []
        if self._filter:
            part_cols = self._manifest.get("partition_by") or []
            bad = [c for c in self._filter if c not in part_cols]
            if bad:
                raise ValueError(
                    f"partition_filter on non-partition column(s) {bad}; "
                    f"table is partitioned by {part_cols or 'nothing'}"
                )

    def partitions(self):
        """Manifest-level pruning BEFORE Spark schedules a single task
        (the planning-time file skip), then size-aware bin-packing:
        files group into ~``target_partition_bytes`` (default 128 MB)
        input partitions so TASK COUNT scales with data volume, not
        file count — a million 1 MB files plan as ~8k tasks, not a
        million. Groups never cross a Hive partition boundary. A store-
        resident table (s3:// path) plans from ONE listing pass — file
        sizes come with the keys, no per-file HEADs."""
        store, manifest = self._store, self._manifest
        files = _manifest_files(
            manifest, self._filter, self._where or None,
            open_json=store.loader(manifest),
        )
        only = self._options.get("only_files")
        if only is not None:
            # internal plan option (delete_snapshot's touched-subset
            # read): restrict to an explicit subset of the version's
            # files, named in manifest space — never a way to read
            # files outside the pinned manifest
            wanted = set(json.loads(only))
            files = [f for f in files if f in wanted]
        target = int(
            self._options.get("target_partition_bytes", 128 * 1024 * 1024)
        )
        by_values: dict[tuple, list[str]] = {}
        for f in files:
            pv = _partition_values(f, manifest["base"])
            by_values.setdefault(tuple(sorted(pv.items())), []).append(
                store.locate(f, manifest)
            )
        sizes = store.sizes([f for flist in by_values.values() for f in flist])
        parts = []
        for key, flist in sorted(by_values.items()):
            group: list[str] = []
            size = 0
            for f in sorted(flist):
                n = sizes.get(f, 0)
                if group and size + n > target:
                    parts.append(_FileGroupPartition(group, dict(key)))
                    group, size = [], 0
                group.append(f)
                size += n
            if group:
                parts.append(_FileGroupPartition(group, dict(key)))
        return parts

    def read(self, partition):
        yield from _read_arrow(self._store, self._schema, partition)


class SnapshotPushdownReader(SnapshotReader):
    """``SnapshotReader`` + Spark 4.1 filter pushdown. Split into a
    SUBCLASS because Spark's planning worker hard-errors
    (``[DATA_SOURCE_PUSHDOWN_DISABLED]``) the moment a reader class
    overrides ``pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is false — it refuses
    to silently skip a pushdown the class advertises, and the Python
    planning worker cannot see the session conf to adapt. So the
    contract is: ``register(spark)`` enables the conf (runtime-settable,
    verified on vanilla sessions), making the default pushdown reader
    always valid in any session that can use the format at all; an
    environment whose admin pins the conf false opts out per-read with
    ``.option("pushdown", "false")``, selecting the pushFilters-free
    base reader (identical results — pushdown is pure data skipping).
    CORRECTNESS_r12's one red row was the driver's bare session hitting
    the conf-off + pushFilters-advertised combination."""

    def pushFilters(self, filters):
        """Spark 4.1 filter pushdown → manifest-level DATA SKIPPING: a
        plain ``df.filter("k > 100")`` on a connector read compiles to
        commit-time min/max exclusions, so files (and whole
        manifest-list groups) that provably hold no matching row are
        never planned as input partitions. EVERY filter is yielded
        back (Spark re-applies them row-wise), so the skip is purely
        an optimization — a file without stats scans as before."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        ops = {
            EqualTo: "=",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
        for f in filters:
            op = ops.get(type(f))
            col = getattr(f, "attribute", None)
            val = getattr(f, "value", None)
            if (
                op
                and col
                and len(col) == 1
                and isinstance(val, (int, float, str))
            ):
                self._where.append((col[0], op, val))
            yield f  # Spark keeps evaluating every filter row-wise


class SnapshotDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        manifest = _resolve_manifest(_table_store(self.options, "read"), self.options)
        return StructType.fromJson(json.loads(manifest["schema"]))

    def reader(self, schema: StructType) -> SnapshotReader:
        # pushdown reader by default (register() guarantees the session
        # conf); .option("pushdown", "false") opts into the
        # pushFilters-free base reader for conf-locked environments
        opt = str(self.options.get("pushdown", "true")).lower()
        cls = SnapshotReader if opt == "false" else SnapshotPushdownReader
        return cls(schema, self.options)

    def streamReader(self, schema: StructType) -> "SnapshotStreamReader":
        return SnapshotStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "SnapshotWriter":
        return SnapshotWriter(schema, self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "SnapshotStreamWriter":
        return SnapshotStreamWriter(schema, self.options, overwrite)


def register(spark) -> None:
    """Idempotent format registration for the current session.

    Also enables ``spark.sql.python.filterPushdown.enabled`` (runtime
    SQL conf, default FALSE in Spark 4.1) — UNLESS the session set it
    explicitly: the default reader class advertises ``pushFilters`` for
    manifest min/max data skipping, and Spark's planning worker
    hard-errors rather than silently skipping an advertised pushdown
    when the conf is off. Enabling it here makes
    ``spark.read.format('tps_snapshot')`` work on a vanilla session —
    the exact combination the engine's own session factory masked until
    a bare driver session exposed it (CORRECTNESS_r12) — while an
    admin-pinned value (either way) is respected, never silently
    overridden (ADVICE r13); pinned-false environments read with
    ``.option("pushdown", "false")`` (identical results, no skipping).
    """
    from tile_processor_spark.sources.ds_conf import ensure_python_pushdown_conf

    ensure_python_pushdown_conf(spark)
    spark.dataSource.register(SnapshotDataSource)


class SnapshotStreamReader(DataSourceStreamReader):
    """Version-stream over an append-only snapshot table: offsets are
    COMMITTED VERSION NUMBERS, each micro-batch carries exactly the
    rows of the versions in ``(start, end]`` — read from those
    versions' ``appended_files``, so a batch is the appended delta,
    never a re-emit of table history. Replayable by construction
    (versions are immutable until vacuum), which is what makes the
    offsets real checkpoint currency: a restarted query re-reads the
    same versions and gets the same batches.

    Non-append versions (write_snapshot rewrites, upserts, compaction)
    have no ``appended_files``; streaming across one raises rather
    than silently re-emitting or skipping data — the same contract as
    Delta's streaming source without ``ignoreChanges``."""

    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._store = _table_store(options, "stream")
        starting = options.get("starting_version")
        self._initial = (
            int(starting)
            if starting is not None
            else (self._store.versions() or [0])[-1] if options.get(
                "latest_only", "false"
            ).lower() == "true" else 0
        )

    def initialOffset(self) -> dict:
        return {"version": self._initial}

    def latestOffset(self) -> dict:
        versions = self._store.versions()
        return {"version": versions[-1] if versions else self._initial}

    def partitions(self, start: dict, end: dict):
        parts: list[_FileGroupPartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            manifest = self._store.manifest(v)
            appended = manifest.get("appended_files")
            if appended is None:
                # version 1 of a table born by append_snapshot is a
                # plain write: its full file list IS the appended delta
                if manifest.get("version") == 1 and "files" in manifest:
                    appended = manifest["files"]
                else:
                    raise ValueError(
                        f"version {v} is not an append commit; the "
                        "version stream cannot represent a rewrite "
                        "without re-emitting history"
                    )
            parts.extend(
                _FileGroupPartition(
                    [self._store.locate(f, manifest)],
                    _partition_values(f, manifest["base"]),
                )
                for f in appended
            )
        return parts

    def read(self, partition):
        yield from _read_arrow(self._store, self._schema, partition)

    def commit(self, end: dict) -> None:
        pass  # versions are retained until vacuum; nothing to ack


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

#: exactly Spark's ExternalCatalogUtils.needsEscaping set — escaping
#: MORE than this (e.g. urllib's quote of non-ASCII as UTF-8 %XX pairs)
#: would make Spark's char-wise unescapePathName decode 'café' as
#: mojibake while our byte-wise unquote decodes it correctly, so the
#: two read APIs would disagree on the same directory name
_HIVE_ESCAPE = set('"#%\'*/:=?\\{[]^\x7f') | {chr(i) for i in range(0x20)}


def _hive_escape(s: str) -> str:
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch for ch in s
    )


def _hive_chain(part_cols: list[str], values: dict) -> str:
    """``grp=a/sub=b`` path chain escaped exactly like Spark's own
    ``partitionBy`` writes it (only the Hive special set; non-ASCII
    literal), so Spark's ``unescapePathName``, our byte-wise
    ``_partition_values`` decode, and ``append_snapshot``'s
    Spark-written trees all agree on every directory name."""
    segs = []
    for c in part_cols:
        v = values[c]
        if v is None:
            raise ValueError(
                f"NULL value for partition column {c!r}: the connector "
                f"append does not write {_HIVE_NULL} partitions — filter "
                "nulls or route them to an explicit sentinel value"
            )
        segs.append(f"{_hive_escape(str(c))}={_hive_escape(str(v))}")
    return "/".join(segs)


def _split_by_partitions(tbl, part_cols: list[str]):
    """Yield (values dict, sub-table WITHOUT partition columns) per
    distinct partition-value combination — partition columns live in
    the directory chain, not in the data files (Hive layout). Combo
    discovery stays vectorized in Arrow (a group_by over the partition
    columns), not a per-row Python loop: a 10M-row task pays C-speed
    hashing, then one filter per OCCUPIED combo."""
    import pyarrow.compute as pc

    combos = tbl.select(part_cols).group_by(part_cols).aggregate([]).to_pylist()
    for values in combos:
        mask = None
        for c in part_cols:
            v = values[c]
            m = pc.is_null(tbl[c]) if v is None else pc.equal(tbl[c], v)
            mask = m if mask is None else pc.and_(mask, m)
        yield values, tbl.filter(mask).drop(part_cols)


def _arrow_stats(tbl) -> dict[str, list]:
    """Per-column [min, max] from the in-memory Arrow table — the same
    sortable-primitives-only contract as ``snapshots._collect_stats``
    (ints, floats, strings, dates; dates as ISO strings; a float column
    containing NaN is dropped because JSON cannot carry it and a
    NaN-blind range could wrongly exclude the file). Stats are OPTIONAL
    metadata: absence is always sound."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out: dict[str, list] = {}
    for field in tbl.schema:
        col = tbl.column(field.name)
        if len(col) == 0 or col.null_count == len(col):
            continue
        t = field.type
        is_date = pa.types.is_date(t)
        if not (
            pa.types.is_integer(t)
            or pa.types.is_floating(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or is_date
        ):
            continue
        if pa.types.is_floating(t) and pc.any(
            pc.is_nan(col.drop_null())
        ).as_py():
            continue
        mm = pc.min_max(col)
        mn, mx = mm["min"].as_py(), mm["max"].as_py()
        if mn is None or mx is None:
            continue
        if is_date:
            mn, mx = mn.isoformat(), mx.isoformat()
        out[field.name] = [mn, mx]
    return out


def _check_writer_schema(schema: StructType, committed_json: str, what: str) -> None:
    """A connector writer's (name, type) pairs must equal the committed
    schema's: data written against a drifted schema would contradict
    the manifest's declared one."""
    want = [(f["name"], f["type"]) for f in json.loads(committed_json)["fields"]]
    got = [(f.name, f.dataType.jsonValue()) for f in schema.fields]
    if got != want:
        raise ValueError(f"{what} schema {got} does not match committed {want}")


def _delta_scheme(store, head: dict, asked: list[str], what: str) -> list[str]:
    """The partition scheme a delta onto the committed ``head`` is
    written under: the table's own (an explicit ``partition_by`` must
    equal it), on a head that takes new files (``_check_append_target``)."""
    committed = list(head.get("partition_by") or [])
    if asked and asked != committed:
        raise ValueError(
            f"partition_by option {asked} does not match the committed "
            f"table's scheme {committed} — a {what} inherits the table's "
            "partitioning (omit the option)"
        )
    _check_append_target(store, head, None, committed)
    return committed


class _WriteMessage(WriterCommitMessage):
    """One task's written files: ``(path, stats)`` pairs, the path as
    the manifest records it and its column min/max stats (or None — a
    file without stats still commits), and the ``snap`` prefix the
    writing instance put them under (None on a hand-built message)."""

    def __init__(self, files: list[tuple[str, dict | None]], snap: str | None = None):
        self.files = files
        self.snap = snap


def _write_task(store, schema: StructType, snap: str, part_cols: list[str], iterator):
    """Executor body of both writers: Arrow batches → one parquet file
    under the writer's ``snap`` prefix (one PER occupied
    partition-value combination when ``part_cols`` is set, under its
    Hive chain in the tree — partition columns live in the path, not
    in the data files)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    batches = [b for b in iterator if b.num_rows]
    if not batches:
        return _WriteMessage([], snap)
    tbl = pa.Table.from_batches(batches).cast(to_arrow_schema(schema))
    pieces = _split_by_partitions(tbl, part_cols) if part_cols else [({}, tbl)]
    files = []
    for values, sub in pieces:
        chain = _hive_chain(part_cols, values)
        rel = "/".join(p for p in (snap, chain, f"part-{uuid.uuid4().hex}.parquet") if p)
        files.append((store.put_table(sub, rel), _arrow_stats(sub)))
    return _WriteMessage(files, snap)


def _committed(store, snap: str, messages):
    """The acknowledged files as the manifest records them: sorted
    paths, their per-file stats, and the ``base`` a table born by this
    commit records — the prefix the tasks wrote under. Spark commits a
    stream micro-batch on a FRESH writer instance, so the prefix
    travels in the messages; ``snap`` is the committing instance's own,
    for messages that carry none."""
    files = []
    for m in messages:
        if m is None:
            continue
        snap = m.snap or snap
        files += m.files
    files.sort(key=lambda f: f[0])
    return [p for p, _st in files], {p: st for p, st in files if st}, store.path(snap)


def _drop_staged(store, messages) -> None:
    """Abort path: best-effort delete of the acknowledged files."""
    for m in messages:
        for path, _stats in m.files if m is not None else []:
            store.drop(path)


class SnapshotWriter(DataSourceArrowWriter):
    """The write side of the connector. ``mode('append')`` produces an
    append commit (previous files reused untouched, ``appended_files``
    recorded — so the version stream can consume it; a first append
    creates the table, and racing creators both land, one as v1 and
    one on top of it); ``mode('overwrite')`` replaces the table state
    through the same commit as ``write_snapshot``, Hive-partitioned by
    ``.option("partition_by", "col1,col2")`` when given. Appends inherit
    the committed table's scheme; a partitioned write's tasks put their
    files straight into the table's Hive tree, same contract as
    ``append_snapshot``; an unpartitioned write's go under a fresh
    ``data/<uuid>`` snap prefix.

    Options used by the function API (``snapshots._write_snapshot_s3``):
    ``expected_version`` (read-version conflict detection),
    ``commit_extra`` (JSON merged into the manifest) and, with
    ``mode('overwrite')``, ``replace_files`` (a copy-on-write replace
    of the named files, ``delete_snapshot``)."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self._schema = schema
        self._store = _table_store(options, "write")
        self._overwrite = overwrite
        ev = options.get("expected_version")
        self._expected_version = int(ev) if ev is not None else None
        self._extra = json.loads(options.get("commit_extra", "{}")) or None
        raw_replace = options.get("replace_files")
        self._replace = (
            json.loads(raw_replace) if raw_replace is not None else None
        )
        if self._replace is not None and not overwrite:
            raise ValueError(
                "replace_files requires mode('overwrite') — a replace "
                "commit rewrites part of the table state"
            )
        if self._replace is not None and self._expected_version is None:
            raise ValueError(
                "replace_files requires expected_version — a replace "
                "commit is only sound against the exact state it read"
            )
        raw_parts = options.get("partition_by", "")
        self._part_cols = [c.strip() for c in raw_parts.split(",") if c.strip()]
        bad = [c for c in self._part_cols if c not in schema.fieldNames()]
        if bad:
            raise ValueError(
                f"partition_by column(s) {bad} not in the written "
                f"schema {schema.fieldNames()}"
            )
        if self._part_cols and len(self._part_cols) == len(schema.fields):
            raise ValueError(
                "partition_by covers every column — the data files "
                "would be empty; leave at least one data column"
            )
        # a replace or an append lands files on the committed head: it
        # carries the COMMITTED schema and scheme forward, so data
        # written against a drifted one would contradict them
        if self._replace is not None or not overwrite:
            versions = self._store.versions()
            if versions:
                head = self._store.manifest(versions[-1])
                what = "replace" if self._replace is not None else "append"
                _check_writer_schema(schema, head["schema"], what)
                self._part_cols = _delta_scheme(
                    self._store, head, self._part_cols, what
                )
        self._snap = _TREE_DIR if self._part_cols else f"data/{uuid.uuid4().hex}"

    def write(self, iterator):
        return _write_task(self._store, self._schema, self._snap, self._part_cols, iterator)

    def commit(self, messages) -> None:
        files, stats, base = _committed(self._store, self._snap, messages)
        if self._replace is not None:
            _commit_replace(
                self._store, self._expected_version, self._replace,
                files, stats, self._extra,
            )
        elif self._overwrite:
            _commit_overwrite(
                self._store, files, self._schema.json(), base, self._part_cols,
                stats, self._expected_version, self._extra,
            )
        else:
            # mode('append') always goes through commit_append —
            # partitioned or not. On an empty table it creates v1 AND
            # retries on a raced table creation (two jobs appending to
            # a new table must BOTH land, one as v1 and one as v2);
            # schema and scheme are re-validated against the fresh
            # manifest inside every retry, so a raced creator with a
            # DIFFERENT schema or scheme fails instead of publishing
            # files the manifest contradicts
            commit_append(
                self._store,
                files,
                extra=self._extra,
                partition_by=self._part_cols,
                expected_schema=self._schema.json(),
                file_stats=stats,
                base=base,
            )

    def abort(self, messages) -> None:
        _drop_staged(self._store, messages)


class SnapshotStreamWriter(DataSourceStreamArrowWriter):
    """Streaming SINK: every micro-batch lands as one append commit, so
    the snapshot table is simultaneously a streaming source and sink —
    a downstream query can stream FROM a table a pipeline streams INTO,
    version by version. Exactly-once across micro-batch RETRIES: every
    commit carries a per-app HIGH-WATER batch id forward
    (``stream_high_water`` in the manifest, keyed by
    ``.option("stream_app_id", ...)`` — default ``"default"``; set it
    per query when several streams feed one table). A replayed batch
    with id <= the stored high-water mark is dropped at commit time
    (its files stay orphans for vacuum) — Delta's txnAppId/txnVersion
    contract. The mark lives in EVERY manifest, carried forward by all
    commit paths, so interleaved appends from other writers between a
    batch's commit and its replay cannot erase the evidence (the
    failure mode of checking only the latest manifest's own marker).

    Tasks write under their writer instance's ``data/stream-<uuid>``
    snap prefix, which is also the ``base`` a table born by the stream
    records. A PARTITIONED sink table inherits the committed scheme,
    exactly like the batch appender (a stream cannot bootstrap
    partition metadata out of nothing), and its tasks write into the
    table's tree; a stream whose query schema drifted from the table
    refuses at construction."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self._schema = schema
        self._store = _table_store(options, "stream write")
        self._app_id = options.get("stream_app_id", "default")
        self._part_cols: list[str] = []
        versions = self._store.versions()
        if versions:
            head = self._store.manifest(versions[-1])
            _check_writer_schema(schema, head["schema"], "stream write")
            self._part_cols = _delta_scheme(self._store, head, [], "stream write")
        self._snap = _TREE_DIR if self._part_cols else f"data/stream-{uuid.uuid4().hex}"

    def write(self, iterator):
        return _write_task(self._store, self._schema, self._snap, self._part_cols, iterator)

    def commit(self, messages, batchId: int) -> None:
        # optimistic append; the high-water replay check re-runs on the
        # fresh latest manifest inside every retry, and the mark is
        # carried forward by every other commit path, so intervening
        # appends cannot turn a replay into a duplicate
        files, stats, base = _committed(self._store, self._snap, messages)
        commit_append(
            self._store,
            files,
            extra={"stream_batch_id": batchId},
            stream_mark=(self._app_id, batchId),
            partition_by=self._part_cols,
            expected_schema=self._schema.json(),
            file_stats=stats,
            base=base,
        )

    def abort(self, messages, batchId: int) -> None:
        _drop_staged(self._store, messages)
