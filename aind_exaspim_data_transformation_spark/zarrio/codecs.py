"""Codecs for the Zarr v3 writer: CRC32C (Castagnoli) and bytes compressors.

CRC32C is required by the v3 `sharding_indexed` index codec chain
(mirrors the reference's index spec, compress/imaris_to_zarr.py:237).
Implemented as a byte-at-a-time table loop over Python ints — no C
extension needed, and fast enough for the 16-byte-per-chunk index
payloads (the only thing it checksums here).
"""

from __future__ import annotations

import gzip as _gzip

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


# zstd backend selection. Determinism scope: frames are deterministic per
# (input bytes, level) WITHIN one backend+libzstd version, but the
# zstandard wheel and pyarrow's bundled libzstd are not guaranteed to emit
# byte-identical frames for the same input. The idempotent-rewrite
# guarantee (same shard key -> same bytes on re-run) therefore holds per
# environment; switching backends between a run and its resume may rewrite
# shards with different (still valid) bytes. ``zstd_backend_info()``
# reports the active backend so callers can record it next to a store.
try:  # optional fast path when the zstandard wheel exists
    import zstandard as _zstd

    def zstd_compress(data: bytes, level: int = 3) -> bytes:
        return _zstd.ZstdCompressor(level=level).compress(data)

    def zstd_decompress(data: bytes, expected_size: int | None = None) -> bytes:
        return _zstd.ZstdDecompressor().decompress(data)

    HAVE_ZSTD = True
    ZSTD_BACKEND = ("zstandard", getattr(_zstd, "__version__", "?"))
except ImportError:
    try:  # pyarrow bundles libzstd: same frames (magic 0x28b52ffd),
        # deterministic per (input, level); its decompress API needs the
        # output size, which the sharding_indexed decode always knows
        # (chunk_shape x itemsize).
        import pyarrow as _pa

        _pa.Codec("zstd")  # raises if built without zstd

        def zstd_compress(data: bytes, level: int = 3) -> bytes:
            buf = _pa.Codec("zstd", compression_level=level).compress(data)
            return buf if isinstance(buf, bytes) else buf.to_pybytes()

        def zstd_decompress(
            data: bytes, expected_size: int | None = None
        ) -> bytes:
            if expected_size is None:
                raise NotImplementedError(
                    "pyarrow zstd decode requires the decompressed size"
                )
            buf = _pa.Codec("zstd").decompress(data, expected_size)
            return buf if isinstance(buf, bytes) else buf.to_pybytes()

        HAVE_ZSTD = True
        ZSTD_BACKEND = ("pyarrow", _pa.__version__)
    except Exception:  # pragma: no cover - env-dependent
        HAVE_ZSTD = False
        ZSTD_BACKEND = (None, None)

        def zstd_compress(data: bytes, level: int = 3) -> bytes:
            raise NotImplementedError("no zstd backend available")

        def zstd_decompress(
            data: bytes, expected_size: int | None = None
        ) -> bytes:
            raise NotImplementedError("no zstd backend available")


def zstd_backend_info() -> tuple[str | None, str | None]:
    """(backend name, version) of the active zstd implementation — record
    this next to a store if a resume must detect a backend switch (frames
    differ across backends; see module comment on determinism scope)."""
    return ZSTD_BACKEND


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


def decompress(
    data: bytes, codec: str, expected_size: int | None = None
) -> bytes:
    if codec == "gzip":
        return _gzip.decompress(data)
    if codec == "zstd":
        return zstd_decompress(data, expected_size)
    if codec == "none":
        return data
    raise ValueError(f"unknown codec {codec!r}")
