"""Snapshot tables as a PySpark Python Data Source (Spark 4 API):

    spark.dataSource.register(SnapshotDataSource)
    spark.read.format("tps_snapshot")
         .option("path", table_path)
         .option("version", 3)                      # optional: time travel
         .option("partition_filter", '{"yr": ["2024"]}')  # optional: pruning
         .load()

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
"""

from __future__ import annotations

import json

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

from tile_processor_spark.sources.snapshot_store import (
    _GROUPS_DIR,
    S3SnapshotStore,
    _read_manifest,
    _require_root,
    list_versions,
    open_store,
)
from tile_processor_spark.sources.snapshots import (
    _collect_stats,
    _commit_overwrite,
    _manifest_files,
    _partition_values,
    _rehome_into_tree,
    commit_append,
)

FORMAT_NAME = "tps_snapshot"


def _make_store(options: dict) -> S3SnapshotStore | None:
    """The s3 store whose objects the readers fetch, or None for a
    local table (read straight from the filesystem)."""
    path = options.get("path", "")
    return open_store(path, options) if path.startswith("s3://") else None


def vacuum_store(
    path: str,
    options: dict | None = None,
    keep_last: int = 2,
    claim_ttl_s: float = 86400.0,
    force: bool = False,
) -> dict:
    """VACUUM for an S3-RESIDENT snapshot mirror: drop all but the last
    ``keep_last`` manifests and delete data objects no retained
    manifest references — the object-store twin of
    ``snapshots.vacuum`` (whose local ``os.unlink`` calls never reach
    the mirror). Same crash-safe ordering: retired MANIFESTS delete
    first, then newly-unreferenced data keys — an interruption leaves
    extra objects (harmless, re-vacuumable), never a manifest pointing
    at deleted data.

    ``claim_ttl_s`` is the retention window for unreferenced DATA keys
    (Delta's VACUUM retention check): appends upload their data objects
    BEFORE the manifest commit, so an unreferenced-but-young key may be
    an in-flight append's staged data — reclaiming it would let the
    append publish a manifest pointing at deleted objects. Only keys
    whose LastModified (from the same single listing pass) is older
    than the window are reclaimed; a missing LastModified counts as too
    young (never-delete is sound, wrongly-delete is data loss). The
    CONTRACT: ``claim_ttl_s`` must exceed the longest
    staging-to-publish duration of any writer on the table — a commit
    that outlasts the window re-opens the race. The 24 h default covers
    multi-hour large-table writes; pass ``claim_ttl_s=0`` only under
    declared writer quiescence.

    Also sweeps ORPHANED MULTIPART UPLOADS under the table prefix older
    than the same window (ListMultipartUploads + Abort): a writer crash
    between CreateMultipartUpload and Complete/Abort leaves parts
    invisible but billed forever.

    Deletion scope is conservative: only retired manifest keys and
    unreferenced keys under the table's data roots (every retained
    manifest's ``base``/group side files stay). Keys the tool does not
    recognize (sidecars, foreign objects under the prefix) are left
    alone. Cost: one object listing + one upload listing + one manifest
    read per version + one DELETE per reclaimed object.

    ``keep_last=0`` retires EVERY version including the live head —
    refused unless ``force=True``."""
    import time as _time

    if keep_last <= 0 and not force:
        raise ValueError(
            "vacuum_store(keep_last=0) retires every version including "
            "the live head (the table becomes unreadable) — pass "
            "force=True to destroy the mirror on purpose"
        )
    if not path.startswith("s3://"):
        raise ValueError(f"vacuum_store is for s3:// tables (got {path!r}); use snapshots.vacuum")
    store = open_store(path, options)
    versions = store.versions()
    kept = versions[-keep_last:] if keep_last > 0 else []
    retired = [v for v in versions if v not in kept]
    referenced: set[str] = set()
    data_prefixes: set[str] = set()
    for v in kept:
        m = store.manifest(v)
        root = _require_root(m, path)
        files = _manifest_files(m, open_json=store.json_loader(root))
        referenced |= {store.key_for(f, root) for f in files}
        for g in m.get("groups") or []:
            referenced.add(store.key_for(g["path"], root))
        data_prefixes.add(store.key_for(m["base"], root).rstrip("/") + "/")
    # retired manifests' data dirs are reclaim candidates too
    for v in retired:
        m = store.manifest(v)
        root = _require_root(m, path)
        data_prefixes.add(store.key_for(m["base"], root).rstrip("/") + "/")
    # the table's own data/ prefix is always a candidate: s3-native
    # appends stage under data/<uuid>/ prefixes no manifest's "base"
    # covers, and a crashed/aborted write's objects must age into the
    # sweep (the local vacuum's walk of data/ has the same scope)
    data_prefixes.add(f"{store.prefix}/data/")
    client = store.client()
    removed_manifests = 0
    for v in retired:  # manifests first (crash-safe ordering)
        client.delete_object(f"{store.prefix}/manifest-v{v:08d}.json")
        removed_manifests += 1
    removed_files = 0
    cutoff = _time.time() - claim_ttl_s
    # group side objects (compactions and grouped appends) retire with their manifests, exactly like the local
    # vacuum's groups sweep; the retention window guards an in-flight
    # commit's freshly-written side objects
    groups_prefix = f"{store.prefix}/{_GROUPS_DIR}/"
    for key, _size, mtime in client.list_objects_meta(store.prefix + "/"):
        if key in referenced:
            continue
        base = key.rsplit("/", 1)[-1]
        if key.startswith(groups_prefix):
            if not base.endswith(".json"):
                continue
        elif not any(key.startswith(p) for p in data_prefixes):
            continue
        elif not (
            base.endswith(".parquet")
            or base.startswith("_")
            or base.startswith(".")
        ):
            # same filename scope as the local vacuum: foreign objects
            # a user parked under the data prefix are not ours to
            # delete (the docstring's conservative-scope promise)
            continue
        if mtime is None or mtime > cutoff:
            continue  # in-flight-append grace: too young to reclaim
        client.delete_object(key)
        removed_files += 1
    uploads_aborted = 0
    for key, upload_id, initiated in client.list_multipart_uploads(
        store.prefix + "/"
    ):
        if initiated is None or initiated > cutoff:
            continue  # may be a live upload — leave it for a later sweep
        client.abort_multipart_upload(key, upload_id)
        uploads_aborted += 1
    return {
        "retired_versions": retired,
        "kept_versions": kept,
        "manifests_removed": removed_manifests,
        "files_removed": removed_files,
        "uploads_aborted": uploads_aborted,
    }


def _resolve_manifest(options: dict) -> dict:
    path = options.get("path")
    if not path:
        raise ValueError("tps_snapshot requires .option('path', <table dir>)")
    store = open_store(path, options)
    versions = store.versions()
    if not versions:
        raise FileNotFoundError(f"no committed snapshot at {path}")
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
        v = resolve_as_of(path, ts, options)
    else:
        v = int(options.get("version", versions[-1]))
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions} at {path}")
    manifest = store.manifest(v)
    if isinstance(store, S3SnapshotStore):
        _require_root(manifest, path)  # readers translate paths to keys
    return manifest


class _FilePartition(InputPartition):
    def __init__(self, file_path: str, part_values: dict):
        self.file_path = file_path
        self.part_values = part_values


class _FileGroupPartition(InputPartition):
    """A bin-packed group of data files sharing one task — the
    million-small-files defense: task count scales with BYTES, not
    file count. Files in a group share identical partition values
    (grouping never crosses a Hive partition boundary)."""

    def __init__(self, files: list[str], part_values: dict):
        self.files = files
        self.part_values = part_values


class SnapshotReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._options = options
        self._store = _make_store(options)
        self._manifest = _resolve_manifest(options)
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
        import os

        store = self._store
        loader = (
            store.json_loader(self._manifest["root"]) if store else None
        )
        files = _manifest_files(
            self._manifest, self._filter, self._where or None,
            open_json=loader,
        )
        only = self._options.get("only_files")
        if only is not None:
            # internal plan option (delete_snapshot's touched-subset
            # read): restrict to an explicit subset of the version's
            # files, named in manifest space — never a way to read
            # files outside the pinned manifest
            wanted = set(json.loads(only))
            files = [f for f in files if f in wanted]
        base = self._manifest["base"]
        if store:
            root = self._manifest["root"]
            sizes = store.data_sizes()
            base = store.key_for(base, root)
            files = [store.key_for(f, root) for f in files]

            def getsize(f: str) -> int:
                return sizes.get(f, 0)
        else:
            getsize = os.path.getsize
        target = int(
            self._options.get("target_partition_bytes", 128 * 1024 * 1024)
        )
        by_values: dict[tuple, list[str]] = {}
        for f in files:
            pv = _partition_values(f, base)
            by_values.setdefault(tuple(sorted(pv.items())), []).append(f)
        parts = []
        for key, flist in sorted(by_values.items()):
            group: list[str] = []
            size = 0
            for f in sorted(flist):
                fsize = getsize(f)
                if group and size + fsize > target:
                    parts.append(_FileGroupPartition(group, dict(key)))
                    group, size = [], 0
                group.append(f)
                size += fsize
            if group:
                parts.append(_FileGroupPartition(group, dict(key)))
        return parts

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self._schema)
        files = (
            partition.files
            if isinstance(partition, _FileGroupPartition)
            else [partition.file_path]
        )
        for fpath in files:
            if self._store:  # executor-side object fetch
                tbl = pq.read_table(pa.BufferReader(self._store.fetch(fpath)))
            else:
                tbl = pq.read_table(fpath)
            cols = []
            for field in target:
                if field.name in partition.part_values:
                    # constant Hive path value, cast to the COMMITTED dtype
                    val = pa.array(
                        [partition.part_values[field.name]] * len(tbl), pa.string()
                    ).cast(field.type)
                    cols.append(val)
                else:
                    cols.append(tbl.column(field.name).cast(field.type))
            yield from pa.table(cols, schema=target).to_batches()


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
        manifest = _resolve_manifest(self.options)
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

    def writer(self, schema: StructType, overwrite: bool):
        if self._is_s3():
            from tile_processor_spark.sources.s3_snapshot_write import (
                S3SnapshotWriter,
            )

            return S3SnapshotWriter(schema, dict(self.options), overwrite)
        return SnapshotWriter(schema, self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        if self._is_s3():
            from tile_processor_spark.sources.s3_snapshot_write import (
                S3SnapshotStreamWriter,
            )

            return S3SnapshotStreamWriter(schema, dict(self.options), overwrite)
        return SnapshotStreamWriter(schema, self.options, overwrite)

    def _is_s3(self) -> bool:
        return str(self.options.get("path", "")).startswith("s3://")


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
        self._path = options.get("path")
        if not self._path:
            raise ValueError("tps_snapshot stream requires .option('path', ...)")
        # s3:// mirrors stream too: offsets and appended files resolve
        # through the store; data fetches happen executor-side
        self._store = _make_store(options)
        self._table = self._store or open_store(self._path)
        starting = options.get("starting_version")
        self._initial = (
            int(starting)
            if starting is not None
            else (self._table.versions() or [0])[-1] if options.get(
                "latest_only", "false"
            ).lower() == "true" else 0
        )

    def initialOffset(self) -> dict:
        return {"version": self._initial}

    def latestOffset(self) -> dict:
        versions = self._table.versions()
        return {"version": versions[-1] if versions else self._initial}

    def partitions(self, start: dict, end: dict):
        parts: list[_FilePartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            manifest = self._table.manifest(v)
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
            base = manifest["base"]
            if self._store:
                root = _require_root(manifest, self._path)
                base = self._store.key_for(base, root)
                appended = [self._store.key_for(f, root) for f in appended]
            parts.extend(
                _FilePartition(f, _partition_values(f, base)) for f in appended
            )
        return parts

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self._schema)
        if self._store:
            tbl = pq.read_table(
                pa.BufferReader(self._store.fetch(partition.file_path))
            )
        else:
            tbl = pq.read_table(partition.file_path)
        cols = []
        for field in target:
            if field.name in partition.part_values:
                # Hive path value (shared-tree partitioned appends),
                # cast to the committed dtype like the batch reader
                cols.append(
                    pa.array(
                        [partition.part_values[field.name]] * len(tbl),
                        pa.string(),
                    ).cast(field.type)
                )
            else:
                cols.append(tbl.column(field.name).cast(field.type))
        yield from pa.table(cols, schema=target).to_batches()

    def commit(self, end: dict) -> None:
        pass  # versions are retained until vacuum; nothing to ack


class _WriteMessage(WriterCommitMessage):
    def __init__(self, file_path: str | None, rows: int):
        self.file_path = file_path
        self.rows = rows


class _PartWriteMessage(WriterCommitMessage):
    """Partitioned-append commit message: (Hive ``col=val`` dir chain,
    staged file path) pairs — the driver re-homes each staged file into
    the shared tree under its chain at commit time."""

    def __init__(self, files: list[tuple[str, str]], rows: int):
        self.files = files
        self.rows = rows


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


def _check_writer_schema(schema: StructType, committed_json: str, what: str) -> None:
    """A connector writer's (name, type) pairs must equal the committed
    schema's: data written against a drifted schema would contradict
    the manifest's declared one."""
    want = [(f["name"], f["type"]) for f in json.loads(committed_json)["fields"]]
    got = [(f.name, f.dataType.jsonValue()) for f in schema.fields]
    if got != want:
        raise ValueError(f"{what} schema {got} does not match committed {want}")


def _local_append_target(path: str, schema: StructType, what: str):
    """(partition columns, shared tree) a local append writer stages
    into: the committed table's scheme, checked against the writer's
    schema at construction (the commit re-checks the fresh head)."""
    versions = list_versions(path)
    if not versions:
        return [], None
    manifest = _read_manifest(path, versions[-1])
    part_cols = list(manifest.get("partition_by") or [])
    if part_cols and manifest.get("layout") != "shared-tree":
        raise NotImplementedError(
            f"{what} on a partitioned snapshot table needs the shared Hive "
            "tree layout (appended files under a second snap dir would "
            "break basePath partition discovery) — run "
            "convert_to_shared_layout(table_path) once"
        )
    _check_writer_schema(schema, manifest["schema"], what)
    return part_cols, (manifest["base"] if part_cols else None)


def _write_task_files(schema: StructType, part_cols: list[str], snap_dir: str, iterator):
    """Executor body of both local writers: Arrow batches → one parquet
    file in the task-private ``snap_dir`` (one file PER occupied
    partition-value combination when ``part_cols`` is set — partition
    columns live in the directory chain, not the data files)."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    batches = list(iterator)
    rows = sum(b.num_rows for b in batches)
    if rows == 0:
        return _PartWriteMessage([], 0) if part_cols else _WriteMessage(None, 0)
    tbl = pa.Table.from_batches(batches).cast(to_arrow_schema(schema))
    if not part_cols:
        os.makedirs(snap_dir, exist_ok=True)
        fpath = os.path.join(snap_dir, f"part-{uuid.uuid4().hex}.parquet")
        pq.write_table(tbl, fpath)
        return _WriteMessage(fpath, rows)
    staged: list[tuple[str, str]] = []
    for values, sub in _split_by_partitions(tbl, part_cols):
        chain = _hive_chain(part_cols, values)
        subdir = os.path.join(snap_dir, *chain.split("/"))
        os.makedirs(subdir, exist_ok=True)
        fpath = os.path.join(subdir, f"part-{uuid.uuid4().hex}.parquet")
        pq.write_table(sub, fpath)
        staged.append((chain, fpath))
    return _PartWriteMessage(staged, rows)


def _committed_files(tree: str | None, messages) -> list[str]:
    """The acknowledged files a local writer commits: re-homed into the
    shared Hive tree for a partitioned table, else as written."""
    pairs = _staged_pairs(messages)
    if tree is None:
        return sorted(f for _chain, f in pairs)
    return _rehome_into_tree(tree, [(chain.split("/"), f) for chain, f in pairs])


class SnapshotWriter(DataSourceArrowWriter):
    """The write side of the connector — the real two-phase commit:
    executors each write ONE parquet file into a task-private snap dir
    and return its path as the commit message; the DRIVER then commits
    a manifest referencing exactly the acknowledged files, in one
    atomic exclusive publish. A task that fails or is speculated leaves
    an unreferenced file (invisible; vacuum reclaims it) — the same
    crash-safety argument as write_snapshot, now distributed.

    ``mode('append')`` produces an append commit (previous files reused
    untouched, ``appended_files`` recorded — so the version stream can
    consume it; a first append creates the table); ``mode('overwrite')``
    replaces the table state through the same commit as
    ``write_snapshot``, per-file stats included. Appending onto a
    PARTITIONED table works through the shared Hive tree (run
    ``convert_to_shared_layout`` once, same contract as
    ``append_snapshot``): each task writes per-partition-value files
    into a private staging dir, and the driver re-homes them into the
    tree before the manifest commit — so pruned reads and basePath
    partition discovery keep working as appends accumulate."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        import os
        import uuid

        self._schema = schema
        self._path = options.get("path")
        if not self._path:
            raise ValueError("tps_snapshot write requires .option('path', ...)")
        self._path = os.path.abspath(self._path)
        self._overwrite = overwrite
        self._snap_dir = os.path.join(self._path, "data", uuid.uuid4().hex)
        self._part_cols, self._tree = (
            ([], None) if overwrite
            else _local_append_target(self._path, schema, "append")
        )

    def write(self, iterator):
        return _write_task_files(self._schema, self._part_cols, self._snap_dir, iterator)

    def commit(self, messages) -> None:
        new_files = _committed_files(self._tree, messages)
        if self._overwrite:
            _commit_overwrite(
                self._path, new_files, self._schema.json(), self._snap_dir,
                [], _collect_stats(new_files),
            )
        else:
            # optimistic-concurrency append: commutes with concurrent
            # appends, retried on a lost version race; schema and scheme
            # re-validated against the fresh manifest inside the retry
            commit_append(
                self._path,
                new_files,
                partition_by=self._part_cols,
                expected_schema=self._schema.json(),
                base=self._snap_dir,
            )

    def abort(self, messages) -> None:
        _drop_staged(messages)


def _staged_pairs(messages) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    for m in messages:
        if m is None:
            continue
        if isinstance(m, _PartWriteMessage):
            out.extend(m.files)
        elif m.file_path:
            out.append(("", m.file_path))
    return out


def _drop_staged(messages) -> None:
    import os

    for _chain, f in _staged_pairs(messages):
        if os.path.exists(f):
            os.unlink(f)


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

    A PARTITIONED sink table routes batches through the shared Hive
    tree, exactly like the batch writer (the table must exist and be
    converted — a stream cannot bootstrap partition metadata out of
    nothing); a stream whose query schema drifted from the table
    refuses at construction."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        import os

        self._schema = schema
        self._path = options.get("path")
        if not self._path:
            raise ValueError("tps_snapshot stream write requires .option('path', ...)")
        self._path = os.path.abspath(self._path)
        self._app_id = options.get("stream_app_id", "default")
        self._part_cols, self._tree = _local_append_target(
            self._path, schema, "stream write"
        )

    def write(self, iterator):
        import os
        import uuid

        snap_dir = os.path.join(self._path, "data", f"stream-{uuid.uuid4().hex}")
        return _write_task_files(self._schema, self._part_cols, snap_dir, iterator)

    def commit(self, messages, batchId: int) -> None:
        # optimistic append; the high-water replay check re-runs on the
        # fresh latest manifest inside every retry, and the mark is
        # carried forward by every other commit path, so intervening
        # appends cannot turn a replay into a duplicate
        commit_append(
            self._path,
            _committed_files(self._tree, messages),
            extra={"stream_batch_id": batchId},
            stream_mark=(self._app_id, batchId),
            partition_by=self._part_cols,
            expected_schema=self._schema.json(),
            base=self._path,
        )

    def abort(self, messages, batchId: int) -> None:
        _drop_staged(messages)
