"""S3-NATIVE snapshot writes: the data half of the object-store write
path. The connector commits straight against an ``s3://`` table:

    df.write.format("tps_snapshot").option("path", "s3://bucket/tbl")
      .options(**s3_creds).mode("append").save()

    stream.writeStream.format("tps_snapshot")
      .option("path", "s3://bucket/tbl").option("stream_app_id", "app")

Architecture — the same two-phase commit as the local connector writer:

- EXECUTORS each serialize their Arrow batches to one parquet object
  and PUT it under a task-private ``data/<uuid>/`` key prefix
  (unconditional PUT — a speculated/retried task writes a fresh
  uuid-named key; losers become invisible orphans for ``vacuum_store``,
  which is why its retention window exists). Per-file column min/max
  stats are computed from the in-memory Arrow table at write time
  (cheaper than the local path's footer re-reads, and the driver never
  fetches a byte of data).
- The DRIVER then publishes a manifest referencing exactly the
  acknowledged keys through the ONE commit shape per kind in
  ``sources/snapshots.py`` (``_commit_overwrite``, ``commit_append``,
  ``_commit_replace``) over the s3 store
  (``snapshot_store.S3SnapshotStore``), whose exclusive publish is a
  conditional PUT with read-back (``s3_client.put_if_absent``).

Path model: the manifest records the store's VIRTUAL root
``/<bucket>/<prefix>`` and every file as ``<vroot>/<key relative to
prefix>``; carried-forward paths from older manifests (which may carry
a real local root from a mirrored table) are re-rooted the same way
(``S3SnapshotStore.carry``), so one manifest never mixes root
namespaces.

Scope: full read/write for both UNPARTITIONED and PARTITIONED tables.
Partitioned creation/overwrite takes ``.option("partition_by",
"col1,col2")``; appends (and the stream sink) inherit the committed
table's scheme — executors split their batches by partition value and
PUT each sub-table under a Hive ``col=val`` key chain inside their own
task-private ``data/<uuid>/`` prefix. No shared-tree re-home is needed
(the local path's requirement, snapshot_datasource.SnapshotWriter):
the reader prunes DRIVER-SIDE from the manifest's file list, and
``_partition_values`` parses ``col=val`` segments from each file's
path RELATIVE to the manifest base — a delta living under a different
snap prefix than the base relativizes through ``..`` segments, which
carry no ``=`` and so cannot alias a partition pair (pinned by
tests/test_s3_snapshot_write.py). A commit whose outcome stays
ambiguous after the read-back (the connection died and no object
landed) fails the write job loudly; its objects stay invisible and
``vacuum_store`` reclaims them after the retention window.

Reference parity: the reference overwrites output directories in place
(tile_processor/output.py DirOutput ~L40); this is the engine-grade
replacement for object-store deployments.
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from tile_processor_spark.sources.snapshot_datasource import (
    _check_writer_schema,
    _hive_chain,
    _split_by_partitions,
)
from tile_processor_spark.sources.snapshot_store import open_store
from tile_processor_spark.sources.snapshots import (
    _commit_overwrite,
    _commit_replace,
    commit_append,
)


class _S3WriteMessage(WriterCommitMessage):
    def __init__(self, key: str | None, rows: int, stats: dict | None):
        self.key = key
        self.rows = rows
        self.stats = stats


class _S3PartWriteMessage(WriterCommitMessage):
    """Partitioned-write commit message: one (key, per-file stats)
    pair per occupied partition-value combination the task saw."""

    def __init__(self, files: list[tuple[str, dict | None]], rows: int):
        self.files = files
        self.rows = rows


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


def _put_parquet(store, tbl, key: str) -> None:
    import io

    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(tbl, buf)
    store.client().put_object(key, buf.getvalue())


def _write_one_object(store, schema, snap_rel: str, iterator,
                      part_cols: list[str] | None = None):
    """Executor body shared by the batch writer and the stream sink:
    Arrow batches → one parquet object under the task-private snap
    prefix (one object PER occupied partition-value combination when
    ``part_cols`` is set — partition columns live in the Hive key
    chain, not the data bytes); returns the commit message."""
    import uuid

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    batches = list(iterator)
    rows = sum(b.num_rows for b in batches)
    if rows == 0:
        return _S3PartWriteMessage([], 0) if part_cols else _S3WriteMessage(None, 0, None)
    tbl = pa.Table.from_batches(batches).cast(to_arrow_schema(schema))
    if not part_cols:
        key = f"{store.prefix}/{snap_rel}/part-{uuid.uuid4().hex}.parquet"
        _put_parquet(store, tbl, key)
        return _S3WriteMessage(key, rows, _arrow_stats(tbl))
    staged: list[tuple[str, dict | None]] = []
    for values, sub in _split_by_partitions(tbl, part_cols):
        chain = _hive_chain(part_cols, values)
        key = f"{store.prefix}/{snap_rel}/{chain}/part-{uuid.uuid4().hex}.parquet"
        _put_parquet(store, sub, key)
        staged.append((key, _arrow_stats(sub)))
    return _S3PartWriteMessage(staged, rows)


def _message_files(messages) -> list[tuple[str, dict | None]]:
    """Flatten commit messages into (key, stats) pairs."""
    out: list[tuple[str, dict | None]] = []
    for m in messages:
        if m is None:
            continue
        if isinstance(m, _S3PartWriteMessage):
            out.extend(m.files)
        elif m.key:
            out.append((m.key, m.stats))
    return out


def _drop_staged_objects(store, messages) -> None:
    """Abort path: best-effort DELETE of acknowledged objects (anything
    missed stays invisible and ages into vacuum_store's sweep)."""
    for key, _stats in _message_files(messages):
        try:
            store.client().delete_object(key)
        except Exception:
            pass


def _committed_objects(store, messages) -> tuple[list[str], dict]:
    """The acknowledged objects as the manifest records them: sorted
    virtual paths and their per-file stats."""
    pairs = sorted((store.vpath(k), st) for k, st in _message_files(messages))
    return [p for p, _st in pairs], {p: st for p, st in pairs if st}


class S3SnapshotWriter(DataSourceArrowWriter):
    """Batch writes against an ``s3://`` table path. ``mode('append')``
    = optimistic-concurrency append commit; ``mode('overwrite')``
    replaces the table state, or — with the internal ``replace_files``
    option — replaces only the named files (``delete_snapshot``). The
    writer pickles to executors with a client-less store (rebuilt
    lazily per process)."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        import uuid

        self._schema = schema
        self._store = open_store(options["path"], options)
        self._overwrite = overwrite
        self._snap_rel = f"data/{uuid.uuid4().hex}"
        # read-version conflict detection + exact-version / audit
        # plumbing for the function API (upsert/delete) — see
        # snapshots._write_snapshot_s3
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
        versions = (
            self._store.versions() if self._replace is not None or not overwrite else []
        )
        if versions:
            latest = self._store.manifest(versions[-1])
            # a replace carries the COMMITTED schema forward and an
            # append commits against it — data written against a
            # drifted schema would contradict it
            _check_writer_schema(
                schema, latest["schema"],
                "replace" if self._replace is not None else "append",
            )
            if not overwrite:
                committed_parts = list(latest.get("partition_by") or [])
                if self._part_cols and self._part_cols != committed_parts:
                    raise ValueError(
                        f"partition_by option {self._part_cols} does "
                        "not match the committed table's scheme "
                        f"{committed_parts} — appends inherit the "
                        "table's partitioning (omit the option)"
                    )
                # appends onto a partitioned table inherit its scheme:
                # executors write Hive col=val chains under their own
                # snap prefix; the reader prunes from the manifest, so
                # no shared-tree re-home is needed (module docstring)
                self._part_cols = committed_parts

    def write(self, iterator):
        return _write_one_object(
            self._store, self._schema, self._snap_rel, iterator,
            part_cols=self._part_cols or None,
        )

    def commit(self, messages) -> None:
        files, stats = _committed_objects(self._store, messages)
        if self._replace is not None:
            _commit_replace(
                self._store, self._expected_version, self._replace,
                files, stats, self._extra,
            )
        elif self._overwrite:
            _commit_overwrite(
                self._store, files, self._schema.json(),
                f"{self._store.root}/{self._snap_rel}", self._part_cols,
                stats, self._expected_version, self._extra,
            )
        else:
            # mode('append') always goes through commit_append —
            # partitioned or not. On an empty table it creates v1 AND
            # retries on a raced table creation (two jobs appending to
            # a new table must BOTH land, one as v1 and one as v2);
            # the files were written against self._schema under this
            # scheme, so a raced creator with a DIFFERENT schema or
            # scheme fails inside the retry instead of publishing
            # files the manifest contradicts
            commit_append(
                self._store,
                files,
                extra=self._extra,
                partition_by=self._part_cols,
                expected_schema=self._schema.json(),
                file_stats=stats,
                base=f"{self._store.root}/{self._snap_rel}",
            )

    def abort(self, messages) -> None:
        _drop_staged_objects(self._store, messages)


class S3SnapshotStreamWriter(DataSourceStreamArrowWriter):
    """Streaming SINK against an ``s3://`` table path: every micro-batch
    lands as one append commit via conditional PUT, with the same
    exactly-once replay contract as the local sink — a per-app
    high-water batch id (``stream_high_water``, keyed by
    ``.option('stream_app_id', ...)``) carried in every manifest and
    re-checked on the fresh latest manifest inside every retry, so a
    replayed batch is dropped even when other commits landed in
    between (Delta's txnAppId/txnVersion shape). A dropped replay's
    objects stay orphans for ``vacuum_store``."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self._schema = schema
        self._store = open_store(options["path"], options)
        self._app_id = options.get("stream_app_id", "default")
        # a PARTITIONED sink table inherits the committed scheme: each
        # micro-batch's objects carry Hive key chains under their own
        # stream snap prefix, exactly like the batch appender; a stream
        # whose query schema drifted from the table refuses NOW
        self._part_cols: list[str] = []
        versions = self._store.versions()
        if versions:
            latest = self._store.manifest(versions[-1])
            self._part_cols = list(latest.get("partition_by") or [])
            _check_writer_schema(schema, latest["schema"], "stream write")

    def write(self, iterator):
        import uuid

        return _write_one_object(
            self._store, self._schema, f"data/stream-{uuid.uuid4().hex}",
            iterator, part_cols=self._part_cols or None,
        )

    def commit(self, messages, batchId: int) -> None:
        files, stats = _committed_objects(self._store, messages)
        # per-batch base only matters for a FIRST commit; the writer
        # lays keys as <prefix>/data/stream-<uuid>/[chain/]part-*.parquet,
        # so the snap prefix is the first two segments under the table
        # root (a partitioned key's chain must NOT leak into the base,
        # or partition parsing would miss it)
        root = self._store.root
        snap_rel = (
            "/".join(files[0][len(root) + 1:].split("/")[:2])
            if files
            else "data/empty"
        )
        commit_append(
            self._store,
            files,
            extra={"stream_batch_id": batchId},
            stream_mark=(self._app_id, batchId),
            partition_by=self._part_cols,
            expected_schema=self._schema.json(),
            file_stats=stats,
            base=f"{root}/{snap_rel}",
        )

    def abort(self, messages, batchId: int) -> None:
        _drop_staged_objects(self._store, messages)
