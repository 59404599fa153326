"""Key-value store routing for Zarr stores: local filesystem or S3.

Mirrors the reference's TensorStore kvstore selection, which picks a
``file`` or ``s3`` kvstore from the output URL and writes shards straight
to the bucket (reference compress/imaris_to_zarr.py:90-138, 1094-1125).
Here every store path flows through three primitives — ``kv_join`` /
``kv_put`` / ``kv_get`` — so the sharded writer, metadata writers, and
region reader are storage-agnostic:

- plain paths            -> POSIX files (atomic tmp+rename puts);
- ``s3://bucket/prefix`` -> boto3 ``put_object``/``get_object`` (S3 PUTs
  are atomic per key, and shard bytes are deterministic, so retries and
  speculative duplicates are idempotent exactly like the local sink);
- ``s3+local://<root>//bucket/prefix`` -> the same S3 code path against
  a filesystem-backed fake client rooted at ``<root>`` — lets tests (and
  multi-process Spark workers) exercise the S3 branch with no
  credentials or network.

boto3 is import-gated; nothing here imports it until a real ``s3://``
store is touched. Clients are cached per (process, root) and re-created
after a fork so Spark's forked Python workers never share sockets.
"""

from __future__ import annotations

import io
import os
import time
from urllib.parse import urlparse

_S3_SCHEMES = ("s3://", "s3+local://")

# S3 throttling/transient codes worth retrying (public S3 error model:
# 503 SlowDown is the canonical "back off" signal). Spark task retries
# would also recover, but resubmitting a whole task for one throttled
# PUT is wasteful at 100k-shard scale — back off in place instead.
_RETRYABLE_CODES = {
    "SlowDown",
    "ServiceUnavailable",
    "RequestTimeout",
    "RequestTimeoutException",
    "Throttling",
    "ThrottlingException",
    "RequestLimitExceeded",
    "InternalError",
    "500",
    "503",
}
_MAX_TRIES = 5

# test/driver injection point: when set, used for every s3:// client
_INJECTED_S3_CLIENT = None


def set_s3_client(client) -> None:
    """Inject an S3 client (driver-side tests); None restores boto3."""
    global _INJECTED_S3_CLIENT
    _INJECTED_S3_CLIENT = client


def is_s3(path: str) -> bool:
    return path.startswith(_S3_SCHEMES)


def parse_store_url(path: str) -> tuple[str, str, str]:
    """-> (scheme, bucket_or_root, key). scheme '' = local filesystem.

    For ``s3://`` the second element is the bucket; for ``s3+local://``
    it is the fake client's root directory and the key's first segment
    is the bucket (split later by ``_fake_bucket``).
    """
    if path.startswith("s3://"):
        parts = urlparse(path)
        return "s3", parts.netloc, parts.path.lstrip("/")
    if path.startswith("s3+local://"):
        # s3+local://<abs-root>//<bucket>/<key>: the '//' marker splits
        # the fake client's root directory from the bucket/key part.
        rest = "/" + path[len("s3+local://") :].lstrip("/")
        root, sep, key = rest.partition("//")
        if not sep:
            raise ValueError(
                f"s3+local URL must be s3+local://<root>//<key>: {path!r}"
            )
        return "s3+local", root, key.lstrip("/")
    return "", "", path


class _FakeBody:
    def __init__(self, data: bytes):
        self._b = io.BytesIO(data)

    def read(self) -> bytes:
        return self._b.read()


class _NoSuchKey(Exception):
    pass


class FilesystemS3Client:
    """Minimal boto3-s3-shaped client persisting objects under a local
    root — shared state lives on disk, so independent Spark worker
    processes all see the same "bucket"."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, bucket: str, key: str) -> str:
        return os.path.join(self.root, bucket, *key.split("/"))

    def list_objects_v2(self, Bucket: str, Prefix: str = "", **kw):
        base = os.path.join(self.root, Bucket)
        keys = []
        for dirpath, _dirs, files in os.walk(base):
            for name in files:
                full = os.path.join(dirpath, name)
                key = os.path.relpath(full, base).replace(os.sep, "/")
                if key.startswith(Prefix):
                    keys.append(key)
        keys.sort()
        start = kw.get("ContinuationToken")
        if start:
            keys = [k for k in keys if k > start]
        page, rest = keys[:1000], keys[1000:]
        out = {"Contents": [{"Key": k} for k in page], "KeyCount": len(page)}
        if rest:
            out["IsTruncated"] = True
            out["NextContinuationToken"] = page[-1]
        return out

    def delete_object(self, Bucket: str, Key: str, **_):
        try:
            os.remove(self._path(Bucket, Key))
        except FileNotFoundError:
            pass  # S3 deletes are idempotent: deleting a missing key is OK
        return {}

    def put_object(self, Bucket: str, Key: str, Body: bytes, **_):
        path = self._path(Bucket, Key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(Body if isinstance(Body, bytes) else Body.read())
        os.replace(tmp, path)
        return {}

    def get_object(self, Bucket: str, Key: str, **_):
        try:
            with open(self._path(Bucket, Key), "rb") as f:
                return {"Body": _FakeBody(f.read())}
        except FileNotFoundError:
            raise _NoSuchKey(f"s3+local://{self.root}//{Key}")


_CLIENT_CACHE: dict[tuple[int, str], object] = {}


def _client(scheme: str, root: str):
    if scheme == "s3" and _INJECTED_S3_CLIENT is not None:
        return _INJECTED_S3_CLIENT
    cache_key = (os.getpid(), f"{scheme}:{root}")
    client = _CLIENT_CACHE.get(cache_key)
    if client is None:
        if scheme == "s3+local":
            client = FilesystemS3Client(root)
        else:
            import boto3

            endpoint = os.environ.get("SPARK_GRAFT_S3_ENDPOINT")
            if endpoint:
                # LocalStack/MinIO-style endpoint override (also how the
                # in-process test server exercises this branch). Inner
                # botocore retries are disabled so the kv-layer backoff
                # below is the single, deterministic retry policy.
                from botocore.config import Config

                kwargs: dict = dict(
                    endpoint_url=endpoint,
                    config=Config(
                        retries={"max_attempts": 1},
                        request_checksum_calculation="when_required",
                    ),
                )
                if not (
                    os.environ.get("AWS_ACCESS_KEY_ID")
                    or os.environ.get("AWS_PROFILE")
                    or os.environ.get("AWS_SHARED_CREDENTIALS_FILE")
                ):
                    # No real credentials configured: inject dummies so
                    # the auth-less in-process test server works. With
                    # credentials present (MinIO/LocalStack), defer to
                    # boto3's default chain — only the endpoint and
                    # retry policy are overridden.
                    kwargs.update(
                        aws_access_key_id="local",
                        aws_secret_access_key="local",
                        region_name="us-east-1",
                    )
                client = boto3.client("s3", **kwargs)
            else:  # pragma: no cover - needs credentials/network
                client = boto3.client("s3")
        # Drop only PRE-FORK entries (clients created in another pid:
        # boto3 clients don't survive fork). Clearing everything would
        # evict live same-process clients for other buckets/roots and
        # thrash ~50-100 ms boto3 construction each time a worker
        # alternates between two stores.
        pid = os.getpid()
        for key in [k for k in _CLIENT_CACHE if k[0] != pid]:
            del _CLIENT_CACHE[key]
        _CLIENT_CACHE[cache_key] = client
    return client


def _is_missing_err(exc: Exception) -> bool:
    if isinstance(exc, _NoSuchKey) or type(exc).__name__ == "NoSuchKey":
        return True
    resp = getattr(exc, "response", None)
    if isinstance(resp, dict):
        code = str(resp.get("Error", {}).get("Code", ""))
        return code in ("NoSuchKey", "404", "NotFound")
    return False


def _is_retryable_err(exc: Exception) -> bool:
    resp = getattr(exc, "response", None)
    if isinstance(resp, dict):
        code = str(resp.get("Error", {}).get("Code", ""))
        return code in _RETRYABLE_CODES
    return False


def _with_retries(fn):
    """Run ``fn`` with exponential backoff on throttling codes; every
    retried call is an idempotent single-object PUT/GET, so repeating is
    always safe. Base delay via $SPARK_GRAFT_S3_BACKOFF (seconds)."""
    delay = float(os.environ.get("SPARK_GRAFT_S3_BACKOFF", "0.5"))
    for attempt in range(_MAX_TRIES):
        try:
            return fn()
        except Exception as exc:
            if attempt == _MAX_TRIES - 1 or not _is_retryable_err(exc):
                raise
            time.sleep(delay)
            delay *= 2


def kv_join(base: str, *parts: str) -> str:
    """Join path segments under a store root, scheme-aware."""
    if is_s3(base):
        return "/".join([base.rstrip("/")] + [str(p) for p in parts])
    return os.path.join(base, *(str(p) for p in parts))


def kv_put(path: str, blob: bytes) -> str:
    """Idempotent single-object write (atomic rename locally, atomic PUT
    on S3); same key + same bytes => retry/speculation safe."""
    scheme, bucket_or_root, key = parse_store_url(path)
    if scheme:
        bucket, k = (
            (bucket_or_root, key) if scheme == "s3" else _fake_bucket(key)
        )
        client = _client(scheme, bucket_or_root)
        _with_retries(
            lambda: client.put_object(Bucket=bucket, Key=k, Body=blob)
        )
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(blob)
    os.replace(tmp, path)  # atomic on POSIX
    return path


def kv_get(path: str) -> bytes | None:
    """Read one object; None when the key doesn't exist (missing shards
    are legal — the reader fills with fill_value)."""
    scheme, bucket_or_root, key = parse_store_url(path)
    if scheme:
        client = _client(scheme, bucket_or_root)
        bucket, k = (
            (bucket_or_root, key)
            if scheme == "s3"
            else _fake_bucket(key)
        )
        try:
            return _with_retries(
                lambda: client.get_object(Bucket=bucket, Key=k)["Body"].read()
            )
        except Exception as exc:
            if _is_missing_err(exc):
                return None
            raise
    try:
        with open(path, "rb") as f:
            return f.read()
    except FileNotFoundError:
        return None


def kv_list_prefix(path: str) -> list[str]:
    """Every object under ``path``: on S3 (and the fake-S3 scheme) the
    bucket keys, which include the prefix and not the bucket (the form
    ``kv_delete_prefix`` deletes by); on a local filesystem the absolute
    file paths, sorted.

    S3 has no directories — a "directory" is the set of keys sharing a
    prefix — so the prefix is normalized to end with '/' to avoid
    matching sibling keys (``table1`` must not match ``table10/...``).
    Local filesystems walk the directory. Used by the orphan cleanup in
    ``operators/layout.py``; bounded callers only (a table location,
    not a whole bucket).
    """
    scheme, bucket_or_root, key = parse_store_url(path)
    if scheme:
        bucket, k = (
            (bucket_or_root, key) if scheme == "s3" else _fake_bucket(key)
        )
        client = _client(scheme, bucket_or_root)
        prefix = k.rstrip("/") + "/"
        keys: list[str] = []
        token = None
        while True:
            kw = {"Bucket": bucket, "Prefix": prefix}
            if token:
                kw["ContinuationToken"] = token
            resp = _with_retries(lambda: client.list_objects_v2(**kw))
            keys += [o["Key"] for o in resp.get("Contents", [])]
            if not resp.get("IsTruncated"):
                return keys
            token = resp.get("NextContinuationToken")
    out = []
    for dirpath, _dirs, files in os.walk(path):
        out += [os.path.join(dirpath, f) for f in files]
    return sorted(out)


def kv_delete_prefix(path: str) -> int:
    """Delete every object under ``path`` (a directory locally, a key
    prefix on S3); returns the number of objects removed. Idempotent:
    deleting an absent prefix is a no-op returning 0 — exactly the
    crash-retry contract the bucketed-table writer needs for orphaned
    managed-table locations on remote warehouses."""
    scheme, bucket_or_root, key = parse_store_url(path)
    if scheme:
        keys = kv_list_prefix(path)
        if not keys:
            return 0
        bucket, _k = (
            (bucket_or_root, key) if scheme == "s3" else _fake_bucket(key)
        )
        client = _client(scheme, bucket_or_root)
        for k in keys:
            _with_retries(
                lambda k=k: client.delete_object(Bucket=bucket, Key=k)
            )
        return len(keys)
    if not os.path.exists(path):
        return 0
    n = len(kv_list_prefix(path))
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    return n


def _fake_bucket(key: str) -> tuple[str, str]:
    """s3+local keys are <bucket>/<object-key>."""
    bucket, _, rest = key.partition("/")
    return bucket, rest
