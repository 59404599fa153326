"""S3 sink helpers (SURVEY §2A K1/K3).

Driver-side side-channel uploads, mirroring the reference's derivatives
sync (reference utils/utils.py:149-212, gated to partition 0 at
imaris_job.py:723-725 — here the driver does it once, trivially): a
directory sync and a single-file copy, which the reference shells out
to ``aws s3`` for. Every upload is one ``kvstore.kv_put``, the path
every Zarr store write takes, so uploads share its client (endpoint
override, injected test client, ``s3+local://`` backend) and its
throttling backoff.
"""

from __future__ import annotations

import os

from ..zarrio.kvstore import is_s3, kv_join, kv_put


def _require_s3(url: str) -> None:
    if not is_s3(url):
        raise ValueError(f"not an s3 url: {url!r}")


def sync_dir_to_s3(local_dir: str, s3_url: str) -> int:
    """Upload every file under ``local_dir`` below the ``s3_url``
    prefix; returns the number of objects uploaded."""
    _require_s3(s3_url)
    n = 0
    for root, _, files in os.walk(local_dir):
        for fname in sorted(files):
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, local_dir).replace(os.sep, "/")
            with open(path, "rb") as f:
                kv_put(kv_join(s3_url, rel), f.read())
            n += 1
    return n


def copy_file_to_s3(local_path: str, s3_url: str) -> str:
    """Upload one file; the s3_url is the full destination object URL,
    which is returned."""
    _require_s3(s3_url)
    with open(local_path, "rb") as f:
        return kv_put(s3_url, f.read())
