"""CRC32C known-answer + compressor round trips."""

import pytest

from aind_exaspim_data_transformation_spark.zarrio.codecs import (
    compress,
    crc32c,
    decompress,
)


def test_crc32c_known_answers():
    # Canonical CRC-32C vectors (RFC 3720 appendix / library test suites).
    assert crc32c(b"") == 0
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA
    assert crc32c(b"\xff" * 32) == 0x62A8AB43


def test_crc32c_incremental_matches_whole():
    data = b"hello zarr v3 sharding"
    assert crc32c(data) == crc32c(data[5:], crc32c(data[:5]))


def _crc32c_bitwise(data: bytes, value: int = 0) -> int:
    """Table-free reference: one polynomial step per bit."""
    crc = value ^ 0xFFFFFFFF
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = (crc >> 1) ^ (0x82F63B78 if crc & 1 else 0)
    return crc ^ 0xFFFFFFFF


def test_crc32c_fuzz_matches_bitwise_reference():
    """Random lengths up to a 4096-chunk shard index (64 KiB), whole and
    split at a random point."""
    import random

    rng = random.Random(20240611)
    for n in [0, 1, 16, 65536] + [rng.randrange(65537) for _ in range(6)]:
        data = rng.randbytes(n)
        want = _crc32c_bitwise(data)
        assert crc32c(data) == want, n
        cut = rng.randrange(n + 1)
        assert crc32c(data[cut:], crc32c(data[:cut])) == want, (n, cut)


@pytest.mark.parametrize("codec", ["gzip", "zstd", "none"])
def test_compress_roundtrip(codec):
    payload = bytes(range(256)) * 100
    # expected_size mirrors the shard decode path (format.py passes the
    # chunk byte count); pyarrow's zstd decode requires it.
    enc = compress(payload, codec, 1 if codec == "gzip" else 3)
    assert decompress(enc, codec, len(payload)) == payload
    if codec != "none":
        assert len(enc) < len(payload)


def test_zstd_deterministic_and_framed():
    """Same (input, level) -> same bytes within one environment (the
    idempotent-rewrite guarantee is per pyarrow build; see codecs.py),
    and the output is a real zstd frame (magic 0x28B52FFD little-endian)."""
    payload = bytes(range(256)) * 500
    a = compress(payload, "zstd", 3)
    b = compress(payload, "zstd", 3)
    assert a == b
    assert a[:4] == b"\x28\xb5\x2f\xfd"
