"""``spark.read.format("zarrshards")`` — a Python DataSource over Zarr v3
sharded stores (the Catalyst-visible reader SURVEY §4 lists as the
optional DataSource V2 ergonomic).

Each input partition is one shard file, so scan parallelism equals the
shard grid and executors read only their shard (the hyperslab-pushdown
property, expressed through the source's natural partitioning). Shards
are read through ``zarrio.kvstore``, so every store URL the writers
accept scans (local path, ``s3://``, ``s3+local://``); a missing shard
gives no row. Rows are block rows per the engine data model (§1.4):
coordinates + metadata + optional payload. With ``payload=false``
(default) the scan is metadata-only: each shard object is still read
(``file_bytes`` is its length) but never decoded, and Catalyst's column
pruning keeps voxel bytes out of the plan.

Usage::

    spark.dataSource.register(ZarrShardDataSource)
    df = (spark.read.format("zarrshards")
          .option("path", store).option("level", "0")
          .option("payload", "true").load())
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _schema(with_payload: bool) -> StructType:
    fields = [
        StructField("level", IntegerType()),
        StructField("iz", IntegerType()),
        StructField("iy", IntegerType()),
        StructField("ix", IntegerType()),
        StructField("z0", IntegerType()),
        StructField("z1", IntegerType()),
        StructField("y0", IntegerType()),
        StructField("y1", IntegerType()),
        StructField("x0", IntegerType()),
        StructField("x1", IntegerType()),
        StructField("dtype", StringType()),
        StructField("file_bytes", LongType()),
    ]
    if with_payload:
        fields.append(StructField("payload", BinaryType()))
    return StructType(fields)


class _ShardPartition(InputPartition):
    """One shard: the level's resolved spec and the shard's
    ``grid_cells`` cell ``(idx, inner, outer)`` travel with it, so
    executors never re-read zarr.json (a 45k-shard scan would otherwise
    do 45k metadata reads)."""

    def __init__(self, store: str, level: int, spec, cell: tuple):
        self.store = store
        self.level = level
        self.spec = spec
        self.cell = cell


class _ZarrShardReader(DataSourceReader):
    def __init__(self, options: dict):
        self.store = options.get("path")
        if not self.store:
            raise ValueError("zarrshards requires .option('path', <store>)")
        self.level = int(options.get("level", 0))
        self.with_payload = str(options.get("payload", "false")).lower() in (
            "true",
            "1",
        )

    def partitions(self):
        from ..zarrio.format import grid_cells, read_array_metadata

        spec = read_array_metadata(self.store, self.level)
        return [
            _ShardPartition(self.store, self.level, spec, cell)
            for cell in grid_cells(
                (0,) * len(spec.shape), spec.shape, spec.shard_shape
            )
        ]

    def read(self, partition: _ShardPartition):
        from ..zarrio.format import decode_shard, shard_path
        from ..zarrio.kvstore import kv_get

        spec = partition.spec
        idx, inner, outer = partition.cell
        blob = kv_get(shard_path(partition.store, partition.level, idx))
        if blob is None:
            return
        # spatial dims are the trailing 3 of the 5-D (t,c,z,y,x) layout;
        # the grid starts at 0, so ``outer`` is the shard's global extent
        row = (
            partition.level,
            *idx[2:],
            *(v for s in outer[2:] for v in (s.start, s.stop)),
            spec.dtype,
            len(blob),
        )
        if self.with_payload:
            # ``inner`` clips the edge padding, so payload bytes ==
            # logical block bytes
            row += (decode_shard(blob, spec)[inner].tobytes(),)
        yield row


class ZarrShardDataSource(DataSource):
    """Block-row scan over a Zarr v3 sharded store."""

    @classmethod
    def name(cls) -> str:
        return "zarrshards"

    def schema(self) -> StructType:
        return _schema(
            str(self.options.get("payload", "false")).lower()
            in ("true", "1")
        )

    def reader(self, schema: StructType) -> DataSourceReader:
        return _ZarrShardReader(self.options)
