"""The filesystem contract the snapshot commit protocol stands on —
made explicit, because at 100 TB these tables live on object stores
where the POSIX idioms the local implementation uses (hard links,
atomic rename) do not exist.

The protocol (``sources/snapshots.py``) needs exactly two
primitives, each with a precise, small contract:

- ``publish_exclusive(tmp, final)`` — make the fully-written ``tmp``
  content visible at ``final`` IF AND ONLY IF ``final`` does not exist,
  atomically; raise ``FileExistsError`` otherwise. This is the ONLY
  point where two writers can conflict: of two racing committers of
  the same version number, exactly one wins. Everything else in the
  protocol writes to never-shared, uuid-named paths.
- ``rehome(src, dst)`` — move a staged file to its final home.
  ``src`` is referenced by NO manifest yet (staging dirs are private),
  so this needs no atomicity at all: a crash mid-rehome leaves an
  orphan either side, invisible to every reader, reclaimed by vacuum.

Object-store mapping — SHIPPED as of round 12 (``S3CommitFS`` below,
over the dependency-free SigV4 REST client in ``s3_client.py``; no
cloud SDK): ``publish_exclusive`` is S3 ``PutObject`` with
``If-None-Match: *`` (supported since 2024; GCS's equivalent is
``ifGenerationMatch=0``) — a server-side conditional create, the same
primitive Delta Lake's S3 commit coordinator and Iceberg's swap rely
on; ``rehome`` is a server-side ``CopyObject`` plus a delete (safe,
the source is unreferenced). No rename and no hard link is required
anywhere, which is the entire point of routing every commit through
this interface.

``FaultInjectingCopyFS`` (tests) implements the contract WITHOUT hard
links or rename — copy + exclusive-create only, i.e. the object-store
shape — and can crash at declared points, proving the protocol's
safety argument doesn't silently depend on POSIX extras.
"""

from __future__ import annotations

import os
import shutil


class LocalCommitFS:
    """POSIX implementation: hard link for exclusive publish (atomic,
    create-if-absent, works across every local/NFS filesystem Spark's
    local mode touches), rename for rehome."""

    def publish_exclusive(self, tmp_path: str, final_path: str) -> None:
        # os.link is atomic-exclusive: of two racing committers of the
        # same target, exactly one wins; the loser raises instead of
        # clobbering (os.replace would overwrite silently).
        os.link(tmp_path, final_path)

    def rehome(self, src: str, dst: str) -> None:
        os.replace(src, dst)


class CopyCommitFS:
    """Object-store-shaped implementation: the PROTOCOL asks only for
    whole-file copy and conditional create — the primitives every store
    (S3/GCS/ABFS) actually offers. ``publish_exclusive`` models
    conditional PUT's OBSERVABLE semantics: ALL-OR-NOTHING,
    exclusive — on a real store the object body and the precondition
    commit together, so no reader can ever observe a partial or empty
    object at the final path and no crash leaves a half-published
    state. See the method for why the emulation implements that with
    one atomic local operation rather than any multi-step local
    protocol."""

    def publish_exclusive(self, tmp_path: str, final_path: str) -> None:
        # A real conditional PUT is NATIVELY all-or-nothing AND
        # exclusive: the object body and the precondition commit as one
        # operation inside the store. The faithful local emulation of
        # that observable contract is a single atomic exclusive-create
        # of the fully-written content (an os.link of the already-
        # complete tmp file). Anything weaker — claim files, O_EXCL
        # then write, check-then-rename — reintroduces partial-content
        # or lost-race windows the REAL primitive cannot produce (a
        # prior claim-file design here raced vacuum's claim reclamation
        # with slow committers). The protocol still never ASKS the
        # remote store for a link; this is internal to the emulation.
        os.link(tmp_path, final_path)

    def rehome(self, src: str, dst: str) -> None:
        shutil.copyfile(src, dst)  # CopyObject ...
        os.unlink(src)  # ... + DeleteObject; src is unreferenced, so
        # a crash between the two leaves only an invisible orphan


class FaultInjectingCopyFS(CopyCommitFS):
    """CopyCommitFS that 'crashes' (raises) at declared points, for
    proving the protocol's crash-safety claims hold on an object-store
    FS: set ``crash_at`` to one of 'before_publish', 'mid_publish',
    'mid_rehome' (after copy, before delete)."""

    class Crash(RuntimeError):
        pass

    def __init__(self, crash_at: str | None = None):
        self.crash_at = crash_at
        self.calls: list[tuple[str, str, str]] = []

    def publish_exclusive(self, tmp_path: str, final_path: str) -> None:
        self.calls.append(("publish_exclusive", tmp_path, final_path))
        if self.crash_at == "before_publish":
            raise self.Crash("crash before publish")
        if self.crash_at == "mid_publish":
            # content fully staged, the conditional PUT itself never
            # issued (a crash INSIDE the PUT is the store's problem —
            # the primitive is atomic, so the outcome is one of the
            # other two states): the table head must be unchanged and
            # only a private staged tmp remains
            raise self.Crash("crash before the conditional PUT")
        super().publish_exclusive(tmp_path, final_path)

    def rehome(self, src: str, dst: str) -> None:
        self.calls.append(("rehome", src, dst))
        if self.crash_at == "mid_rehome":
            shutil.copyfile(src, dst)  # copy landed, delete didn't
            raise self.Crash("crash mid-rehome")
        super().rehome(src, dst)


class S3CommitFS:
    """The REAL object-store implementation (round 12 — previously
    documented only): the two primitives over the S3 REST API via
    the dependency-free SigV4 client (``sources/s3_client.py``).

    A local MOUNT directory maps to a key prefix: every path the
    protocol hands this FS must live under ``mount``, and translates
    to ``prefix + relative-path``. Staged tmp files are still written
    locally (the protocol stages privately, then publishes);
    ``publish_exclusive`` uploads the staged bytes with
    ``If-None-Match: *`` — S3's server-side atomic conditional create,
    where body and precondition commit together, so the losing
    committer of a version race gets ``FileExistsError`` exactly like
    the local hard-link contract and no reader can observe a partial
    manifest. ``rehome`` is upload-from-local (staged → final home) or
    CopyObject+Delete when the source already lives in the bucket — the
    source is referenced by no manifest either way, so no atomicity is
    needed.

    Scope note: this makes the COMMIT primitives real against the wire
    protocol (proven in tests/test_s3_commit_fs.py against a
    signature-verifying fake endpoint, racing writers included). A
    fully S3-resident snapshot table additionally needs the manifest
    READ path and Spark's parquet IO pointed at the store (hadoop-aws
    on a real cluster); locally Spark has no s3a jars, so the store
    front end stays on the local FS."""

    def __init__(self, client, mount: str, prefix: str = ""):
        self.client = client
        self.mount = os.path.abspath(mount)
        self.prefix = prefix.strip("/")

    def _key(self, path: str) -> str:
        rel = os.path.relpath(os.path.abspath(path), self.mount)
        if rel.startswith(".."):
            raise ValueError(f"{path!r} is outside the S3 mount {self.mount!r}")
        rel = rel.replace(os.sep, "/")
        return f"{self.prefix}/{rel}" if self.prefix else rel

    def publish_exclusive(self, tmp_path: str, final_path: str) -> None:
        from tile_processor_spark.sources.s3_client import put_if_absent

        with open(tmp_path, "rb") as f:
            put_if_absent(self.client, self._key(final_path), f.read())

    def rehome(self, src: str, dst: str) -> None:
        if os.path.exists(src):  # staged locally → upload + local delete
            # path body → the client streams oversize files through
            # multipart 64 MB parts instead of materializing them
            self.client.put_object(self._key(dst), src)
            os.unlink(src)
        else:  # already an object → server-side copy + delete
            self.client.copy_object(self._key(src), self._key(dst))
            self.client.delete_object(self._key(src))


_COMMIT_FS = LocalCommitFS()


def get_commit_fs():
    return _COMMIT_FS


def set_commit_fs(fs) -> object:
    """Install a commit FS (returns the previous one). The snapshot
    module routes every commit-critical operation through this — tests
    swap in ``CopyCommitFS``/``FaultInjectingCopyFS``; a real
    object-store deployment would install an implementation backed by
    conditional PUT + CopyObject."""
    global _COMMIT_FS
    prev = _COMMIT_FS
    _COMMIT_FS = fs
    return prev
