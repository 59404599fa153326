"""Self-contained Zarr v3 sharded-store I/O.

No zarr-python / tensorstore dependency: the v3 on-disk format (array
metadata JSON, `sharding_indexed` shard binary layout, crc32c-checked
index) is implemented directly on numpy. Mirrors the store layout the
reference produces via TensorStore specs (reference
compress/imaris_to_zarr.py:141-269), including its zstd inner codec
(pyarrow's bundled libzstd).
"""

from .codecs import crc32c
from .format import (
    ShardSpec,
    decode_shard,
    encode_shard,
    read_array_region,
    write_array_metadata,
    write_group_metadata,
    write_shard_file,
)

__all__ = [
    "crc32c",
    "ShardSpec",
    "encode_shard",
    "decode_shard",
    "write_shard_file",
    "write_array_metadata",
    "write_group_metadata",
    "read_array_region",
]
