"""Dependency-free S3 REST client — the object-store half of the
commit-FS story (VERDICT r11 Missing #4), built the same way as the
PostgreSQL wire client (``sources/pgwire.py``): the published protocol
over the standard library, no SDK.

Scope: exactly the five operations the snapshot commit protocol's
primitives reduce to —

- ``put_object`` with optional ``If-None-Match: *`` — the server-side
  CONDITIONAL CREATE (supported by S3 since 2024, and by every
  S3-compatible store that matters) that ``publish_exclusive`` rests
  on: body and precondition commit as one atomic operation, the loser
  of a version race gets HTTP 412 and we raise ``FileExistsError``,
  mirroring the local hard-link contract;
- ``copy_object`` (server-side ``x-amz-copy-source``) — ``share`` and
  half of ``rehome``;
- ``get_object`` / ``delete_object`` / ``list_objects`` — reads,
  the other half of ``rehome``, and vacuum's listing.

Requests are signed with AWS Signature Version 4 (the official
algorithm: canonical request → string-to-sign → HMAC-SHA256 chain),
implemented from the spec over ``hashlib``/``hmac``. The test tier
(``tests/test_s3_commit_fs.py``) runs a wire-accurate in-process fake
that INDEPENDENTLY re-derives the signature from the raw HTTP request
and rejects mismatches — so header canonicalization, URI encoding, and
payload hashing are proven against what actually went over the wire,
not against this module's own helpers.

Addressing is path-style (``/bucket/key``) — the form every
S3-compatible endpoint (MinIO, Ceph, localstack, the test fake)
accepts without DNS games. TLS: pass an ``https://`` endpoint;
``http.client.HTTPSConnection`` verifies certificates by default.
"""

from __future__ import annotations

import datetime
import hashlib
import hmac
import http.client
import io
import os
import random
import time
import urllib.parse
from xml.etree import ElementTree

_ALGO = "AWS4-HMAC-SHA256"
_SAFE = "-._~"  # RFC 3986 unreserved (minus ALPHA/DIGIT, handled by quote)

#: response statuses that mean "the server did NOT perform the
#: operation" — retriable for every verb, conditional writes included
#: (S3 emits 503 SlowDown / 500 InternalError routinely at scale; one
#: throttle must not fail a 100 TB commit)
_RETRIABLE_STATUSES = frozenset({500, 502, 503, 504})

#: connection-level failures where the outcome is AMBIGUOUS — the
#: request may have been processed before the socket died. Retried
#: only for idempotent requests; for a conditional create the error
#: propagates so the caller's content read-back (commit_fs) can
#: disambiguate instead of a blind retry misreading our OWN landed
#: write as a lost race.
_CONN_ERRORS = (ConnectionError, TimeoutError, http.client.HTTPException, OSError)


def parse_s3_url(url: str, what: str = "s3 path") -> tuple[str, str]:
    """``s3://bucket/prefix`` → (bucket, prefix) with trailing slash
    stripped; raises on a missing bucket or prefix."""
    rest = url[len("s3://"):] if url.startswith("s3://") else ""
    bucket, _, prefix = rest.partition("/")
    prefix = prefix.rstrip("/")
    if not bucket or not prefix:
        raise ValueError(f"{what} must be s3://<bucket>/<prefix>, got {url!r}")
    return bucket, prefix


def resolve_s3_config(options: dict | None, what: str) -> dict:
    """The ONE place client config resolves from options or the
    ``SPARK_GRAFT_S3_*`` environment — shared by every store/sidecar so
    a new knob (e.g. session tokens) lands everywhere at once. Returns
    ``{"endpoint", "access_key", "secret_key", "region"}``; raises with
    the caller's name when credentials are absent."""
    opts = dict(options or {})
    env = os.environ.get
    cfg = {
        "endpoint": opts.get("s3_endpoint") or env("SPARK_GRAFT_S3_ENDPOINT"),
        "access_key": opts.get("s3_access_key") or env("SPARK_GRAFT_S3_ACCESS_KEY"),
        "secret_key": opts.get("s3_secret_key") or env("SPARK_GRAFT_S3_SECRET_KEY"),
        "region": opts.get("s3_region") or env("SPARK_GRAFT_S3_REGION") or "us-east-1",
    }
    if not (cfg["endpoint"] and cfg["access_key"] and cfg["secret_key"]):
        raise ValueError(
            f"{what} needs s3_endpoint/s3_access_key/s3_secret_key "
            "(options or SPARK_GRAFT_S3_* env)"
        )
    return cfg


class S3Handle:
    """One ``s3://bucket/prefix`` location with its client config: the
    base of every store and sidecar that lives under a prefix. Pickles
    to executors WITHOUT its client (rebuilt lazily per process)."""

    def __init__(self, url: str, options: dict | None, what: str):
        self.bucket, self.prefix = parse_s3_url(url, what)
        cfg = resolve_s3_config(options, f"s3:// {what}")
        self.endpoint = cfg["endpoint"]
        self.access_key = cfg["access_key"]
        self.secret_key = cfg["secret_key"]
        self.region = cfg["region"]
        self._client = None

    def __getstate__(self):
        d = dict(self.__dict__)
        d["_client"] = None
        return d

    def client(self) -> "S3Client":
        if self._client is None:
            self._client = S3Client(
                self.endpoint, self.bucket, self.access_key,
                self.secret_key, region=self.region,
            )
        return self._client


def put_if_absent(client: "S3Client", key: str, body: bytes) -> None:
    """Conditional create (``If-None-Match: *``) whose AMBIGUOUS outcome
    is resolved by content read-back. A lost race raises
    ``FileExistsError``. A connection that dies during the PUT may have
    died after the server committed it: blindly retrying would see our
    OWN object and report a lost race, blindly failing could orphan a
    version that actually committed. Manifests are single-writer per
    key and the body is unique to this committer, so byte equality
    decides: our bytes → success, other bytes → lost race, no object →
    the original network error."""
    try:
        client.put_object(key, body, if_none_match=True)
    except FileExistsError:
        raise  # an unambiguous 412 (FileExistsError is an OSError)
    except _CONN_ERRORS as net_err:
        try:
            current = client.get_object(key)
        except FileNotFoundError:
            raise net_err from None
        if current != body:
            raise FileExistsError(f"s3://{client.bucket}/{key} exists") from None


def _parse_s3_timestamp(s: str | None) -> float | None:
    """ISO-8601 listing timestamp (``2009-10-12T17:50:30.000Z``) →
    epoch seconds; ``None`` for absent/unparseable values so retention
    logic can default to the SAFE side (too young to reclaim)."""
    if not s:
        return None
    try:
        return datetime.datetime.fromisoformat(
            s.replace("Z", "+00:00")
        ).timestamp()
    except ValueError:
        return None


class S3Error(RuntimeError):
    def __init__(self, status: int, code: str, message: str):
        super().__init__(f"S3 {status} {code}: {message}")
        self.status = status
        self.code = code


def _uri_encode(s: str, *, slash_safe: bool = False) -> str:
    return urllib.parse.quote(s, safe=_SAFE + ("/" if slash_safe else ""))


def _hmac(key: bytes, msg: str) -> bytes:
    return hmac.new(key, msg.encode(), hashlib.sha256).digest()


def sigv4_signature(
    secret_key: str,
    date: str,  # YYYYMMDD
    region: str,
    service: str,
    string_to_sign: str,
) -> str:
    """The HMAC-SHA256 derivation chain from the SigV4 spec."""
    k = _hmac(("AWS4" + secret_key).encode(), date)
    k = _hmac(k, region)
    k = _hmac(k, service)
    k = _hmac(k, "aws4_request")
    return hmac.new(k, string_to_sign.encode(), hashlib.sha256).hexdigest()


def canonical_request(
    method: str,
    path: str,
    query: list[tuple[str, str]],
    headers: dict[str, str],
    signed_headers: list[str],
    payload_sha256: str,
) -> str:
    """The spec's canonical form: encoded path (slashes preserved),
    sorted+encoded query, lowercase sorted headers, payload hash."""
    cq = "&".join(
        f"{_uri_encode(k)}={_uri_encode(v)}"
        for k, v in sorted(query)
    )
    lower = {k.lower(): " ".join(v.split()) for k, v in headers.items()}
    ch = "".join(f"{h}:{lower[h]}\n" for h in signed_headers)
    return "\n".join(
        [
            method,
            _uri_encode(path, slash_safe=True),
            cq,
            ch,
            ";".join(signed_headers),
            payload_sha256,
        ]
    )


class S3Client:
    """Minimal synchronous client for one bucket on one endpoint."""

    def __init__(
        self,
        endpoint: str,
        bucket: str,
        access_key: str,
        secret_key: str,
        region: str = "us-east-1",
        timeout_s: float = 30.0,
        max_retries: int = 5,
        retry_base_s: float = 0.1,
        retry_cap_s: float = 10.0,
        _now=None,  # injectable clock for tests
        _sleep=None,  # injectable backoff sleep for tests
    ):
        u = urllib.parse.urlparse(endpoint)
        if u.scheme not in ("http", "https"):
            raise ValueError(f"endpoint must be http(s)://, got {endpoint!r}")
        self._https = u.scheme == "https"
        self._host = u.hostname or ""
        self._port = u.port or (443 if self._https else 80)
        self.bucket = bucket
        self._ak = access_key
        self._sk = secret_key
        self._region = region
        self._timeout = timeout_s
        self._max_retries = max_retries
        self._retry_base = retry_base_s
        self._retry_cap = retry_cap_s
        self._now = _now or (
            lambda: datetime.datetime.now(datetime.timezone.utc)
        )
        self._sleep = _sleep or time.sleep

    # -- core ----------------------------------------------------------

    def _request(
        self,
        method: str,
        key: str,
        query: list[tuple[str, str]] | None = None,
        body: bytes = b"",
        extra_headers: dict[str, str] | None = None,
        idempotent: bool = True,
    ) -> tuple[int, dict[str, str], bytes]:
        """One logical request = up to ``1 + max_retries`` wire attempts
        under bounded exponential backoff with full jitter (the
        published AWS retry guidance). Two distinct failure classes:

        - a RECEIVED 5xx (``SlowDown``/``InternalError``) means the
          server refused the work — retried for every verb, conditional
          writes included;
        - a CONNECTION failure (reset, timeout, torn response) leaves
          the outcome ambiguous — retried only when ``idempotent``
          (GET/HEAD/DELETE, unconditional PUT, part PUT, initiate).
          Conditional creates and CompleteMultipartUpload propagate it
          instead: a blind retry that then sees 412/NoSuchUpload cannot
          tell our own landed write from a lost race, and the caller's
          content read-back (``commit_fs.publish_exclusive``) can.
        """
        last_exc: Exception | None = None
        for attempt in range(1 + self._max_retries):
            if attempt:
                delay = min(self._retry_cap, self._retry_base * (2 ** (attempt - 1)))
                self._sleep(delay * random.random())  # full jitter
            try:
                status, hdrs, data = self._request_once(
                    method, key, query, body, extra_headers
                )
            except _CONN_ERRORS as e:
                if not idempotent:
                    raise
                last_exc = e
                continue
            if status in _RETRIABLE_STATUSES and attempt < self._max_retries:
                continue
            return status, hdrs, data
        raise last_exc  # type: ignore[misc]  # only reachable via continue

    def _request_once(
        self,
        method: str,
        key: str,
        query: list[tuple[str, str]] | None = None,
        body: bytes = b"",
        extra_headers: dict[str, str] | None = None,
    ) -> tuple[int, dict[str, str], bytes]:
        query = query or []
        path = "/" + self.bucket + ("/" + key if key else "")
        t = self._now()
        amz_date = t.strftime("%Y%m%dT%H%M%SZ")
        date = t.strftime("%Y%m%d")
        payload_hash = hashlib.sha256(body).hexdigest()
        host = (
            self._host
            if self._port in (80, 443)
            else f"{self._host}:{self._port}"
        )
        headers = {
            "host": host,
            "x-amz-content-sha256": payload_hash,
            "x-amz-date": amz_date,
        }
        headers.update(
            {k.lower(): v for k, v in (extra_headers or {}).items()}
        )
        signed = sorted(headers)
        creq = canonical_request(
            method, path, query, headers, signed, payload_hash
        )
        scope = f"{date}/{self._region}/s3/aws4_request"
        sts = "\n".join(
            [_ALGO, amz_date, scope,
             hashlib.sha256(creq.encode()).hexdigest()]
        )
        sig = sigv4_signature(self._sk, date, self._region, "s3", sts)
        headers["authorization"] = (
            f"{_ALGO} Credential={self._ak}/{scope}, "
            f"SignedHeaders={';'.join(signed)}, Signature={sig}"
        )
        # the wire query string must byte-match the signed canonical
        # form (urlencode's '+' for spaces would sign-mismatch on
        # prefixes containing spaces)
        qs = "&".join(
            f"{_uri_encode(k)}={_uri_encode(v)}" for k, v in sorted(query)
        )
        url = _uri_encode(path, slash_safe=True) + (f"?{qs}" if qs else "")
        conn_cls = (
            http.client.HTTPSConnection if self._https else http.client.HTTPConnection
        )
        conn = conn_cls(self._host, self._port, timeout=self._timeout)
        try:
            conn.request(method, url, body=body, headers=headers)
            resp = conn.getresponse()
            data = resp.read()
            return resp.status, dict(resp.getheaders()), data
        finally:
            conn.close()

    @staticmethod
    def _error(status: int, data: bytes) -> S3Error:
        code, msg = "Unknown", ""
        try:
            root = ElementTree.fromstring(data)
            code = root.findtext("Code") or code
            msg = root.findtext("Message") or msg
        except ElementTree.ParseError:
            pass
        return S3Error(status, code, msg)

    # -- operations ------------------------------------------------------

    #: S3's single-PUT ceiling; larger bodies route through multipart
    #: upload automatically (parts of MULTIPART_PART_BYTES, conditional
    #: create preserved — S3 honors If-None-Match on
    #: CompleteMultipartUpload since late 2024, same as PutObject)
    MAX_PUT_BYTES = 5 * 1024**3
    MULTIPART_PART_BYTES = 64 * 1024**2

    @staticmethod
    def _open_body(body) -> tuple:
        """Normalize ``bytes | path str | seekable binary file-like``
        into ``(file_like, size, close_when_done)`` — callers stream
        64 MB parts from it instead of materializing the object (a
        >5 GB upload must not need >5 GB of driver RAM)."""
        if isinstance(body, (bytes, bytearray, memoryview)):
            return io.BytesIO(bytes(body)), len(body), True
        if isinstance(body, (str, os.PathLike)):
            return open(body, "rb"), os.path.getsize(body), True
        pos = body.tell()
        body.seek(0, os.SEEK_END)
        size = body.tell() - pos
        body.seek(pos)
        return body, size, False

    def _raise_conditional(self, key: str, status: int, data: bytes) -> None:
        """Map ONLY the true lost-race answers to ``FileExistsError``:
        412 PreconditionFailed, and 409 whose XML error code is
        ``ConditionalRequestConflict`` (S3's concurrent-conditional-
        write answer). Every other 409 (``OperationAborted``,
        bucket-state errors, …) is infrastructure failure and must
        surface as ``S3Error`` — swallowing it as a race loss would
        silently skip a commit."""
        if status == 412:
            raise FileExistsError(f"s3://{self.bucket}/{key} exists")
        err = self._error(status, data)
        if status == 409 and err.code == "ConditionalRequestConflict":
            raise FileExistsError(f"s3://{self.bucket}/{key} exists")
        raise err

    def put_object(
        self, key: str, body, if_none_match: bool = False
    ) -> None:
        """Upload; with ``if_none_match`` the write succeeds ONLY if the
        key does not exist (server-side atomic create — raises
        ``FileExistsError`` on HTTP 412 / 409 ConditionalRequestConflict,
        the commit-race loss). ``body`` may be ``bytes``, a filesystem
        path, or a seekable binary file-like; bodies above the
        single-PUT ceiling route through multipart upload streamed in
        64 MB parts (the precondition then rides the
        CompleteMultipartUpload, which commits all parts as one object
        atomically)."""
        if isinstance(body, (bytes, bytearray, memoryview)) and len(
            body
        ) <= self.MAX_PUT_BYTES:
            payload = bytes(body)  # fast path: no file-like indirection
        else:
            f, size, close = self._open_body(body)
            try:
                if size > self.MAX_PUT_BYTES:
                    return self._put_multipart(key, f, size, if_none_match)
                # a single PUT signs the full-body SHA-256, so it is
                # read once (bounded by MAX_PUT_BYTES by construction)
                payload = f.read()
            finally:
                if close:
                    f.close()
        hdrs = {"If-None-Match": "*"} if if_none_match else {}
        status, _h, data = self._request(
            "PUT", key, body=payload, extra_headers=hdrs,
            # an unconditional PUT of the same bytes is idempotent; a
            # conditional create is NOT ambiguity-safe — connection
            # errors propagate to the caller's read-back
            idempotent=not if_none_match,
        )
        if status in (412, 409) and if_none_match:
            self._raise_conditional(key, status, data)
        if status != 200:
            raise self._error(status, data)

    def _put_multipart(
        self, key: str, f, size: int, if_none_match: bool
    ) -> None:
        """The three-phase multipart protocol: initiate (POST ?uploads
        → UploadId), upload parts (PUT ?partNumber&uploadId → ETag
        each, STREAMED 64 MB at a time from the source — a >5 GB body
        never lives in memory), complete (POST ?uploadId with the part
        manifest — the object becomes visible ATOMICALLY here, and the
        If-None-Match precondition is evaluated at this commit point,
        so the conditional-create contract is identical to single PUT).
        Any failure aborts the upload server-side (DELETE ?uploadId) so
        parts never linger as billable orphans. Retry notes: initiate
        retries on connection loss (worst case a dangling upload id,
        invisible + vacuumable); part PUTs retry freely (re-uploading a
        part number overwrites it); Complete does NOT retry ambiguous
        failures — a retry after a landed Complete answers NoSuchUpload
        and cannot be told from a real loss, so it propagates to the
        caller's read-back."""
        status, _h, data = self._request("POST", key, query=[("uploads", "")])
        if status != 200:
            raise self._error(status, data)
        root = ElementTree.fromstring(data)
        ns = root.tag[: root.tag.index("}") + 1] if root.tag.startswith("{") else ""
        upload_id = root.findtext(f"{ns}UploadId")
        if not upload_id:
            raise S3Error(200, "BadInitiate", "no UploadId in response")
        try:
            etags: list[str] = []
            sent = 0
            while sent < size:
                chunk = f.read(min(self.MULTIPART_PART_BYTES, size - sent))
                if not chunk:
                    raise S3Error(
                        200, "ShortBody",
                        f"body ended at {sent} of {size} declared bytes",
                    )
                sent += len(chunk)
                part_no = len(etags) + 1
                status, hdrs, data = self._request(
                    "PUT",
                    key,
                    query=[("partNumber", str(part_no)),
                           ("uploadId", upload_id)],
                    body=chunk,
                )
                if status != 200:
                    raise self._error(status, data)
                etag = {k.lower(): v for k, v in hdrs.items()}.get("etag")
                if not etag:
                    raise S3Error(200, "BadPart", f"part {part_no} has no ETag")
                etags.append(etag)
            manifest = "<CompleteMultipartUpload>" + "".join(
                f"<Part><PartNumber>{n}</PartNumber><ETag>{e}</ETag></Part>"
                for n, e in enumerate(etags, 1)
            ) + "</CompleteMultipartUpload>"
            hdrs = {"If-None-Match": "*"} if if_none_match else {}
            status, _h, data = self._request(
                "POST", key, query=[("uploadId", upload_id)],
                body=manifest.encode(), extra_headers=hdrs,
                idempotent=False,  # Complete commits: ambiguity → caller
            )
            if status in (412, 409) and if_none_match:
                self._raise_conditional(key, status, data)
            if status != 200:
                raise self._error(status, data)
            # a 200 Complete can still carry an Error body (S3 streams
            # the response while assembling) — same check as CopyObject
            root = ElementTree.fromstring(data)
            if root.tag.rsplit("}", 1)[-1] != "CompleteMultipartUploadResult":
                raise self._error(200, data)
        except BaseException:
            try:
                self._request("DELETE", key, query=[("uploadId", upload_id)])
            except Exception:
                # best-effort abort (orphaned parts otherwise bill
                # forever) must never MASK the original failure
                pass
            raise

    def get_object(self, key: str) -> bytes:
        status, _h, data = self._request("GET", key)
        if status == 404:
            raise FileNotFoundError(f"s3://{self.bucket}/{key}")
        if status != 200:
            raise self._error(status, data)
        return data

    def head_object(self, key: str) -> bool:
        status, _h, _d = self._request("HEAD", key)
        if status == 200:
            return True
        if status == 404:
            return False
        raise self._error(status, b"")

    def delete_object(self, key: str) -> None:
        status, _h, data = self._request("DELETE", key)
        if status not in (200, 204):
            raise self._error(status, data)

    def copy_object(self, src_key: str, dst_key: str) -> None:
        """Server-side copy — no bytes transit the client."""
        src = _uri_encode(f"/{self.bucket}/{src_key}", slash_safe=True)
        status, _h, data = self._request(
            "PUT", dst_key, extra_headers={"x-amz-copy-source": src}
        )
        if status == 404:
            raise FileNotFoundError(f"s3://{self.bucket}/{src_key}")
        if status != 200:
            raise self._error(status, data)
        # S3 CopyObject is documented to answer 200 OK with an Error
        # XML body when the copy fails mid-operation — a 200 alone
        # does NOT mean the destination exists
        try:
            root = ElementTree.fromstring(data)
        except ElementTree.ParseError:
            raise S3Error(200, "BadCopyResponse",
                          "unparseable CopyObject body") from None
        tag = root.tag.rsplit("}", 1)[-1]
        if tag != "CopyObjectResult":
            raise self._error(200, data)

    def list_objects(self, prefix: str = "") -> list[str]:
        """All keys under ``prefix`` (ListObjectsV2, continuation-token
        pagination)."""
        return [k for k, _size, _mt in self.list_objects_meta(prefix)]

    def list_objects_sizes(self, prefix: str = "") -> list[tuple[str, int]]:
        """``(key, size)`` pairs under ``prefix`` — one listing pass
        supplies the planner's bin-packing sizes, instead of a HEAD per
        data file (100k files would mean 100k round trips)."""
        return [(k, size) for k, size, _mt in self.list_objects_meta(prefix)]

    def list_objects_meta(
        self, prefix: str = ""
    ) -> list[tuple[str, int, float | None]]:
        """``(key, size, last_modified_epoch_s)`` triples under
        ``prefix`` — the same single ListObjectsV2 pass as
        ``list_objects_sizes`` now also carries each object's
        LastModified, which vacuum's retention window needs
        (an unreferenced-but-young object may be an in-flight append's
        staged data). ``None`` when the server omits the field —
        callers must treat that as TOO YOUNG to reclaim (never-delete
        is sound; wrongly-delete is data loss)."""
        out: list[tuple[str, int, float | None]] = []
        token: str | None = None
        while True:
            q = [("list-type", "2"), ("prefix", prefix)]
            if token:
                q.append(("continuation-token", token))
            status, _h, data = self._request("GET", "", query=q)
            if status != 200:
                raise self._error(status, data)
            root = ElementTree.fromstring(data)
            ns = ""
            if root.tag.startswith("{"):
                ns = root.tag[: root.tag.index("}") + 1]
            out.extend(
                (
                    c.findtext(f"{ns}Key"),
                    int(c.findtext(f"{ns}Size") or 0),
                    _parse_s3_timestamp(c.findtext(f"{ns}LastModified")),
                )
                for c in root.iter(f"{ns}Contents")
            )
            if (root.findtext(f"{ns}IsTruncated") or "").lower() == "true":
                token = root.findtext(f"{ns}NextContinuationToken")
                if not token:
                    raise S3Error(200, "BadListing",
                                  "truncated listing without token")
                continue
            return out

    def list_multipart_uploads(
        self, prefix: str = ""
    ) -> list[tuple[str, str, float | None]]:
        """In-progress multipart uploads under ``prefix`` as
        ``(key, upload_id, initiated_epoch_s)`` triples
        (ListMultipartUploads, key+upload-id marker pagination). A crash
        between CreateMultipartUpload and Complete/Abort leaves the
        uploaded parts invisible but BILLED until aborted —
        vacuum sweeps aged ones through this listing."""
        out: list[tuple[str, str, float | None]] = []
        key_marker: str | None = None
        id_marker: str | None = None
        while True:
            q = [("uploads", ""), ("prefix", prefix)]
            if key_marker:
                q.append(("key-marker", key_marker))
            if id_marker:
                q.append(("upload-id-marker", id_marker))
            status, _h, data = self._request("GET", "", query=q)
            if status != 200:
                raise self._error(status, data)
            root = ElementTree.fromstring(data)
            ns = ""
            if root.tag.startswith("{"):
                ns = root.tag[: root.tag.index("}") + 1]
            out.extend(
                (
                    u.findtext(f"{ns}Key"),
                    u.findtext(f"{ns}UploadId"),
                    _parse_s3_timestamp(u.findtext(f"{ns}Initiated")),
                )
                for u in root.iter(f"{ns}Upload")
            )
            if (root.findtext(f"{ns}IsTruncated") or "").lower() == "true":
                key_marker = root.findtext(f"{ns}NextKeyMarker")
                id_marker = root.findtext(f"{ns}NextUploadIdMarker")
                if not (key_marker and id_marker):
                    raise S3Error(200, "BadListing",
                                  "truncated upload listing without markers")
                continue
            return out

    def abort_multipart_upload(self, key: str, upload_id: str) -> None:
        """Abort an in-progress multipart upload (frees its parts).
        Idempotent in effect: an already-completed or already-aborted
        upload answers 404 NoSuchUpload, which is success for a sweep."""
        status, _h, data = self._request(
            "DELETE", key, query=[("uploadId", upload_id)]
        )
        if status not in (200, 204, 404):
            raise self._error(status, data)
