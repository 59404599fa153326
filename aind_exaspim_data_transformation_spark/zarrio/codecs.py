"""Codecs for the Zarr v3 writer: CRC32C (Castagnoli) and bytes compressors
(gzip from the stdlib, zstd from pyarrow's bundled libzstd).

CRC32C is required by the v3 `sharding_indexed` index codec chain
(mirrors the reference's index spec, compress/imaris_to_zarr.py:237).
Implemented as a byte-at-a-time table loop over Python ints — no C
extension needed, and fast enough for the 16-byte-per-chunk index
payloads (the only thing it checksums here).
"""

from __future__ import annotations

import gzip as _gzip

import pyarrow as _pa

_CRC32C_POLY = 0x82F63B78  # reflected Castagnoli polynomial


def _make_table() -> list[int]:
    table = []
    for i in range(256):
        crc = i
        for _ in range(8):
            crc = (crc >> 1) ^ (_CRC32C_POLY if crc & 1 else 0)
        table.append(crc)
    return table


_TABLE = _make_table()


def crc32c(data: bytes, value: int = 0) -> int:
    """CRC-32C (Castagnoli) of ``data``; matches the crc32c library."""
    crc = value ^ 0xFFFFFFFF
    table = _TABLE
    for b in bytes(data):
        crc = table[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


# zstd is pyarrow's bundled libzstd: pyarrow is already a hard
# dependency (every mapInPandas batch is Arrow), so there is one backend
# and no import-order choice. Frames are deterministic per (input bytes,
# level) for one libzstd build, which pins the idempotent-rewrite
# guarantee (same shard key -> same bytes on retry or resume) to the
# pyarrow build; ``zstd_backend_info()`` reports it. Its decompress API
# needs the output size, which its one caller knows: the shard decode's
# chunk_shape x itemsize.
def zstd_compress(data: bytes, level: int) -> bytes:
    return _pa.Codec("zstd", compression_level=level).compress(
        data, asbytes=True
    )


def zstd_decompress(data: bytes, expected_size: int) -> bytes:
    return _pa.Codec("zstd").decompress(data, expected_size, asbytes=True)


def zstd_backend_info() -> tuple[str, str]:
    """(backend name, version) of the zstd implementation — the pyarrow
    build, whose bundled libzstd decides frame identity; record it next
    to a store if a resume must detect a build switch."""
    return ("pyarrow", _pa.__version__)


def compress(data: bytes, codec: str, level: int) -> bytes:
    if codec == "gzip":
        # mtime=0: deterministic output => idempotent shard bytes under
        # task retry / re-run (the sink's exactly-once property).
        return _gzip.compress(data, compresslevel=level, mtime=0)
    if codec == "zstd":
        return zstd_compress(data, level)
    if codec == "none":
        return data
    raise ValueError(f"unknown codec {codec!r}")


def decompress(data: bytes, codec: str, expected_size: int) -> bytes:
    if codec == "gzip":
        return _gzip.decompress(data)
    if codec == "zstd":
        return zstd_decompress(data, expected_size)
    if codec == "none":
        return data
    raise ValueError(f"unknown codec {codec!r}")
