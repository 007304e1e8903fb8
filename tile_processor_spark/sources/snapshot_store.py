"""Where a snapshot table's metadata lives: the one seam between the
commit protocol (``sources/snapshots.py``) and its two backends.

Every commit shape — overwrite, append, copy-on-write replace, compact
— is written once over a store. A store decides:

- where versions and manifests live (``versions`` / ``manifest``);
- the exclusive publish of a new version (``publish``: raises
  ``FileExistsError`` when the version is already taken);
- how manifest-list group side files are read (``loader``) and
  written (``write_group``);
- how a file path or group carried from an older manifest is
  re-rooted into the new one (``carry`` / ``carry_group``).

``LocalSnapshotStore`` is a table directory; it publishes through
``commit_fs.get_commit_fs()`` so the fault-injection seam stays.
``S3SnapshotStore`` is a table under an ``s3://bucket/prefix``; it
publishes by conditional PUT with read-back (``s3_client.put_if_absent``).
``open_store`` picks one from the path.

The data plane is part of the interface too, so the connector's
writers and readers are written once over either backend:

- ``put_table`` writes one Arrow table as a parquet file (an object on
  s3) at a path relative to the table and returns the path the
  manifest records (``path`` maps a relative path the same way);
- ``drop`` deletes a staged file of an aborted write (best effort);
- ``locate`` maps a manifest path to what ``read_table`` reads, and
  ``sizes`` gives those files' byte sizes (bin-packing, history bytes).

Vacuum's retention policy is written once (``snapshots.vacuum``); a
store holds only what differs by backend: listing the ``data/`` and
``groups/`` files with their mtimes (``sweep_candidates``), deleting a
manifest (``retire``) or a file (``delete``), and its own staging
leftovers (``reclaim_staging``).

Every partitioned commit, on either backend, puts its files under the
table's one Hive tree ``data/tree/<col=val…>/`` (``_TREE_DIR``) and
records that tree as the manifest's ``base``; unpartitioned commits
write under a fresh ``data/<uuid>/`` snap dir. Spark's own local
``partitionBy`` output is staged in a snap dir and moved into the tree
by ``LocalSnapshotStore.place_delta``.
"""

from __future__ import annotations

import contextlib
import json
import os
import posixpath
import uuid

from tile_processor_spark.sources.s3_client import S3Handle, put_if_absent

_MANIFEST_PREFIX = "manifest-v"
_DATA_DIR = "data"
_GROUPS_DIR = "groups"
_TREE_DIR = f"{_DATA_DIR}/tree"


def _manifest_name(version: int) -> str:
    return f"{_MANIFEST_PREFIX}{version:08d}.json"


def _manifest_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, _manifest_name(version))


def _versions_in(names) -> list[int]:
    return sorted(
        int(n[len(_MANIFEST_PREFIX) : -len(".json")])
        for n in names
        if n.startswith(_MANIFEST_PREFIX) and n.endswith(".json")
    )


def list_versions(table_path: str) -> list[int]:
    """Committed versions, ascending. Empty list = no table yet."""
    if not os.path.isdir(table_path):
        return []
    return _versions_in(os.listdir(table_path))


def _read_manifest(table_path: str, version: int) -> dict:
    with open(_manifest_path(table_path, version)) as f:
        return json.load(f)


def _load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _require_root(manifest: dict, where: str) -> str:
    """The table ``root`` a store-resident manifest needs for key
    translation, with a friendly error instead of a bare ``KeyError``
    when a pre-round-13 manifest lacks it."""
    root = manifest.get("root")
    if root is None:
        raise ValueError(
            f"manifest v{manifest.get('version', '?')} at {where} lacks "
            "the table 'root' field (committed before round 13) — "
            "recommit or use the table from a local path"
        )
    return root


class LocalSnapshotStore:
    """A snapshot table in a local directory. Manifests record absolute
    paths, so carried paths need no re-rooting. Local reads discover
    partition columns from ONE ``basePath``, the table's tree."""

    def __init__(self, table_path: str):
        self.root = os.path.abspath(table_path)

    def __str__(self) -> str:
        return self.root

    def versions(self) -> list[int]:
        return list_versions(self.root)

    def manifest(self, version: int) -> dict:
        return _read_manifest(self.root, version)

    def publish(self, manifest: dict, version: int) -> None:
        from tile_processor_spark.sources.commit_fs import get_commit_fs

        tmp = os.path.join(self.root, f".manifest.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            get_commit_fs().publish_exclusive(tmp, _manifest_path(self.root, version))
        finally:
            os.unlink(tmp)

    def loader(self, manifest: dict):
        return _load_json

    def carry(self, path: str, manifest: dict) -> str:
        return path

    def carry_group(self, group: dict, manifest: dict) -> dict:
        return group

    def write_group(self, side: dict) -> str:
        groups_dir = os.path.join(self.root, _GROUPS_DIR)
        os.makedirs(groups_dir, exist_ok=True)
        path = os.path.join(groups_dir, f"{uuid.uuid4().hex}.json")
        with open(path, "w") as f:
            json.dump(side, f)
        return path

    # -- data plane ---------------------------------------------------

    def path(self, rel: str) -> str:
        return os.path.join(self.root, rel)

    def put_table(self, tbl, rel: str) -> str:
        import pyarrow.parquet as pq

        path = self.path(rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(tbl, path)
        return path

    def drop(self, path: str) -> None:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(path)

    def place_delta(self, snap: str, files: list[str]) -> list[str]:
        """Files Spark staged under the ``snap`` dir, moved into the
        table's tree under their ``col=val`` chains (kept verbatim) with
        uuid-prefixed names. The staged files are referenced by nothing
        yet, so no atomicity is needed (``commit_fs.rehome``)."""
        from tile_processor_spark.sources.commit_fs import get_commit_fs

        fs = get_commit_fs()
        tree = self.path(_TREE_DIR)
        out = []
        for f in files:
            subdir = os.path.join(tree, os.path.relpath(os.path.dirname(f), snap))
            os.makedirs(subdir, exist_ok=True)
            dst = os.path.join(subdir, f"{uuid.uuid4().hex}-{os.path.basename(f)}")
            fs.rehome(f, dst)
            out.append(dst)
        return out

    def locate(self, path: str, manifest: dict) -> str:
        # normalized, so a manifest path and the vacuum listing's spelling
        # of the same file always compare equal
        return os.path.abspath(path)

    def sizes(self, paths: list[str]) -> dict[str, int]:
        out = {}
        for p in paths:
            with contextlib.suppress(OSError):
                out[p] = os.path.getsize(p)
        return out

    def read_table(self, path: str):
        import pyarrow.parquet as pq

        return pq.read_table(path)

    # -- vacuum -------------------------------------------------------

    def sweep_candidates(self):
        """``(top, path, mtime)`` for every file under ``data/`` and
        ``groups/`` (``top`` names which); None when the table directory
        was never created."""
        if not os.path.isdir(self.root):
            return None
        out = []
        for top in (_DATA_DIR, _GROUPS_DIR):
            for d, _dirs, names in os.walk(os.path.join(self.root, top)):
                for n in names:
                    p = os.path.join(d, n)
                    with contextlib.suppress(FileNotFoundError):  # gone since listed
                        out.append((top, p, os.path.getmtime(p)))
        return out

    def retire(self, version: int) -> None:
        os.unlink(_manifest_path(self.root, version))

    delete = drop  # a manifest path is its own location here

    def reclaim_staging(self, cutoff: float) -> tuple[int, int]:
        """Stale ``.manifest.tmp.*`` files (a committer killed before its
        publish; uuid-named, so never a live publish's) last modified at
        or before ``cutoff``, and the empty directories under ``data/``
        last modified at or before it: a writer makes a tree directory
        and then writes its file into it, so a fresh empty one may be
        in use. Returns ``(files removed, uploads aborted)``."""
        removed = 0
        for n in os.listdir(self.root):
            p = os.path.join(self.root, n)
            with contextlib.suppress(FileNotFoundError):  # raced a committer
                if n.startswith(".manifest.tmp.") and os.path.getmtime(p) <= cutoff:
                    os.unlink(p)
                    removed += 1
        data = os.path.join(self.root, _DATA_DIR)
        for d, _dirs, _names in os.walk(data, topdown=False):
            if d != data:
                with contextlib.suppress(OSError):  # not empty, or gone
                    if os.path.getmtime(d) <= cutoff:
                        os.rmdir(d)
        return removed, 0


class S3SnapshotStore(S3Handle):
    """An object-store-RESIDENT snapshot table: manifests, group side
    files and parquet data under ``s3://bucket/prefix``, reached through
    the dependency-free SigV4 client.

    Path model: every manifest records the table ``root`` it was
    committed under, and the paths inside it map to keys as
    ``prefix + relpath(path, root)`` (``key_for``). A table mirrored
    from a local directory keeps that directory as its root; a commit
    made here records the VIRTUAL root ``/<bucket>/<prefix>`` and
    re-roots every carried path into it (``carry``), so one manifest
    never mixes root namespaces. Planning stays driver-side and cheap:
    versions and data-file SIZES come from ONE ListObjectsV2 pass (no
    per-file HEADs), and executors fetch only their partitions' objects.

    Client config comes from the options ``s3_endpoint``,
    ``s3_access_key``, ``s3_secret_key``, ``s3_region`` (or env
    ``SPARK_GRAFT_S3_ENDPOINT`` / ``_ACCESS_KEY`` / ``_SECRET_KEY`` /
    ``_REGION``)."""

    def __init__(self, path: str, options: dict):
        super().__init__(path, options, "snapshot table")
        self.root = f"/{self.bucket}/{self.prefix}"

    def __str__(self) -> str:
        return f"s3://{self.bucket}/{self.prefix}"

    # -- manifest plane (driver-side) --------------------------------

    def versions(self) -> list[int]:
        keys = self.client().list_objects(f"{self.prefix}/{_MANIFEST_PREFIX}")
        return _versions_in(k.rsplit("/", 1)[-1] for k in keys)

    def manifest(self, version: int) -> dict:
        key = f"{self.prefix}/{_manifest_name(version)}"
        return json.loads(self.client().get_object(key))

    def publish(self, manifest: dict, version: int) -> None:
        put_if_absent(
            self.client(),
            f"{self.prefix}/{_manifest_name(version)}",
            json.dumps(manifest).encode(),
        )

    def loader(self, manifest: dict):
        return self.json_loader(_require_root(manifest, str(self)))

    def carry(self, path: str, manifest: dict) -> str:
        old_root = _require_root(manifest, str(self))
        rel = posixpath.relpath(path, old_root)
        if rel.startswith(".."):
            raise ValueError(
                f"manifest references {path!r} outside its root "
                f"{old_root!r} — not mirrorable"
            )
        return f"{self.root}/{rel}"

    def carry_group(self, group: dict, manifest: dict) -> dict:
        """A group entry of ``manifest`` in this store's namespace: its
        side file is shared verbatim when ``manifest`` was committed
        here, else (the first commit here onto a mirrored table) it is
        rewritten once with re-rooted paths."""
        if manifest.get("root") == self.root:
            return group
        side = self.loader(manifest)(group["path"])
        side["files"] = [self.carry(f, manifest) for f in side["files"]]
        if "file_stats" in side:
            side["file_stats"] = {
                self.carry(f, manifest): st for f, st in side["file_stats"].items()
            }
        return dict(group, path=self.write_group(side))

    def write_group(self, side: dict) -> str:
        name = f"{_GROUPS_DIR}/{uuid.uuid4().hex}.json"
        self.client().put_object(f"{self.prefix}/{name}", json.dumps(side).encode())
        return f"{self.root}/{name}"

    def vpath(self, key: str) -> str:
        """A key under the table prefix → the path a commit made here
        records for it (``key_for(vpath, root)`` round-trips)."""
        if not key.startswith(self.prefix + "/"):
            raise ValueError(f"key {key!r} not under {self.prefix!r}")
        return f"{self.root}/{key[len(self.prefix) + 1:]}"

    def key_for(self, local_path: str, root: str) -> str:
        rel = os.path.relpath(local_path, root)
        if rel.startswith(".."):
            raise ValueError(
                f"manifest references {local_path!r} outside table root "
                f"{root!r} — not mirrorable to a key prefix"
            )
        return f"{self.prefix}/{rel.replace(os.sep, '/')}"

    def json_loader(self, root: str):
        def _load(local_path: str) -> dict:
            return json.loads(self.client().get_object(self.key_for(local_path, root)))

        return _load

    # -- data plane ---------------------------------------------------

    def path(self, rel: str) -> str:
        return f"{self.root}/{rel}"

    def put_table(self, tbl, rel: str) -> str:
        """An unconditional PUT under a task-private uuid-named key: a
        speculated or retried task writes a fresh key, and the loser's
        object stays invisible until vacuum's retention sweep reclaims
        it."""
        import io

        import pyarrow.parquet as pq

        buf = io.BytesIO()
        pq.write_table(tbl, buf)
        key = f"{self.prefix}/{rel}"
        self.client().put_object(key, buf.getvalue())
        return self.vpath(key)

    def drop(self, path: str) -> None:
        # anything missed stays invisible and ages into vacuum's sweep
        with contextlib.suppress(Exception):
            self.client().delete_object(self.key_for(path, self.root))

    def locate(self, path: str, manifest: dict) -> str:
        return self.key_for(path, _require_root(manifest, str(self)))

    def sizes(self, keys: list[str]) -> dict[str, int]:
        """Sizes from ONE listing pass (no per-object HEADs); a key not
        listed has no entry."""
        listed = dict(self.client().list_objects_sizes(self.prefix + "/"))
        return {k: listed[k] for k in keys if k in listed}

    def read_table(self, key: str):
        import pyarrow as pa
        import pyarrow.parquet as pq

        return pq.read_table(pa.BufferReader(self.client().get_object(key)))

    # -- vacuum -------------------------------------------------------

    def sweep_candidates(self):
        """``(top, key, last_modified)`` for every object under
        ``data/`` and ``groups/`` (``top`` names which), from ONE
        listing pass; ``last_modified`` is None when the server omits
        it."""
        out = []
        for key, _size, mtime in self.client().list_objects_meta(self.prefix + "/"):
            top, sep, _rest = key[len(self.prefix) + 1 :].partition("/")
            if sep and top in (_DATA_DIR, _GROUPS_DIR):
                out.append((top, key, mtime))
        return out

    def retire(self, version: int) -> None:
        self.client().delete_object(f"{self.prefix}/{_manifest_name(version)}")

    def delete(self, key: str) -> None:
        self.client().delete_object(key)

    def reclaim_staging(self, cutoff: float) -> tuple[int, int]:
        """Aborts the multipart uploads under the table prefix initiated
        at or before ``cutoff``: a writer that crashed between
        CreateMultipartUpload and Complete/Abort leaves parts invisible
        but billed. An upload without an initiation time may be live and
        stays. Returns ``(files removed, uploads aborted)``."""
        client = self.client()
        aborted = 0
        for key, upload_id, initiated in client.list_multipart_uploads(self.prefix + "/"):
            if initiated is not None and initiated <= cutoff:
                client.abort_multipart_upload(key, upload_id)
                aborted += 1
        return 0, aborted


def open_store(table_path, s3_options: dict | None = None):
    """The store for ``table_path``: an ``s3://bucket/prefix`` table
    (client config from ``s3_options`` or the env) or a local table
    directory. An already-open store is returned unchanged."""
    if not isinstance(table_path, str):
        return table_path
    if table_path.startswith("s3://"):
        return S3SnapshotStore(table_path, dict(s3_options or {}))
    return LocalSnapshotStore(table_path)
