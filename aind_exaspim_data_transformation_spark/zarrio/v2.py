"""Zarr v2 writer — the legacy-format path (SURVEY §2A X5).

The reference keeps a dask-based Zarr v2 writer for
``use_tensorstore=False`` (reference compress/imaris_to_zarr.py:807-990:
``zarr.create_dataset`` per level + ``da.to_zarr``, Blosc compressor).
This is its Spark twin: same task model as the v3 pipeline, but the task
granularity is the CHUNK (v2 has no shards) and the on-disk layout is the
v2 spec — per-level ``.zarray`` JSON, dot-separated chunk keys, zlib
compressor (the stdlib-available numcodecs codec; Blosc needs the
numcodecs wheel and is gated out in this environment).

Any zarr-python 2.x reader opens these stores.
"""

from __future__ import annotations

import json
import time
import zlib
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..config import ConvertJobSettings
from ..sources.tensor import open_source
from .format import grid_cells, region_bounds
from .kvstore import kv_get, kv_join, kv_put
from .metadata import multiscales_metadata
from .multitile import _task_rows, driver_partitioned


@dataclass(frozen=True)
class V2Spec:
    shape: tuple[int, ...]  # 5-D (t, c, z, y, x)
    chunks: tuple[int, ...]
    dtype: str = "uint16"
    level: int = 1  # zlib level
    fill_value: int = 0

    @property
    def np_dtype(self) -> np.dtype:
        return np.dtype(self.dtype)

    @property
    def dtype_str(self) -> str:
        # v2 dtype encoding: explicit little-endian
        return self.np_dtype.newbyteorder("<").str


def write_v2_array_metadata(store: str, level: int, spec: V2Spec) -> str:
    meta = {
        "zarr_format": 2,
        "shape": list(spec.shape),
        "chunks": list(spec.chunks),
        "dtype": spec.dtype_str,
        "compressor": {"id": "zlib", "level": spec.level},
        "fill_value": spec.fill_value,
        "order": "C",
        "filters": None,
    }
    path = kv_join(store, str(level), ".zarray")
    return kv_put(path, json.dumps(meta, indent=2).encode("utf-8"))


def write_v2_group(store: str, attributes: dict) -> None:
    kv_put(
        kv_join(store, ".zgroup"),
        json.dumps({"zarr_format": 2}).encode("utf-8"),
    )
    kv_put(
        kv_join(store, ".zattrs"),
        json.dumps(attributes, indent=2).encode("utf-8"),
    )


def encode_v2_chunk(block: np.ndarray, spec: V2Spec) -> bytes:
    """Pad to full chunk shape (v2 stores full chunks) and zlib-compress
    C-order little-endian bytes. Deterministic => idempotent re-writes."""
    target = spec.chunks
    if tuple(block.shape) != tuple(target):
        padded = np.full(target, spec.fill_value, dtype=spec.np_dtype)
        sl = tuple(slice(0, s) for s in block.shape)
        padded[sl] = block
        block = padded
    raw = np.ascontiguousarray(block).astype(
        spec.np_dtype.newbyteorder("<")
    ).tobytes(order="C")
    return zlib.compress(raw, spec.level)


def decode_v2_chunk(blob: bytes, spec: V2Spec) -> np.ndarray:
    raw = zlib.decompress(blob)
    return np.frombuffer(raw, dtype=spec.np_dtype.newbyteorder("<")).reshape(
        spec.chunks
    )


def v2_chunk_path(store: str, level: int, idx: tuple[int, ...]) -> str:
    return kv_join(store, str(level), ".".join(str(i) for i in idx))


def read_v2_region(
    store: str, level: int, region: tuple[slice, ...], spec: V2Spec
) -> np.ndarray:
    starts, stops = region_bounds(region, spec.shape)
    out = np.full(
        tuple(e - s for s, e in zip(starts, stops)),
        spec.fill_value,
        dtype=spec.np_dtype,
    )
    for idx, inner, outer in grid_cells(starts, stops, spec.chunks):
        blob = kv_get(v2_chunk_path(store, level, idx))
        if blob is not None:
            out[outer] = decode_v2_chunk(blob, spec)[inner]
    return out


def convert_to_zarr_v2(
    spark: SparkSession, settings: ConvertJobSettings
) -> dict:
    """Translate a source pyramid into a Zarr v2 store; task = one chunk
    (v2 has no shard indirection). Same retry-safe idempotent writes."""
    src = open_source(settings.input_source)
    meta = src.meta
    store = settings.output_location
    specs: dict[int, V2Spec] = {}
    for lvl, shape in enumerate(meta.shapes):
        chunk = tuple(
            min(c, d) for c, d in zip(settings.chunk_shape, shape)
        )
        specs[lvl] = V2Spec(
            shape=(1, 1, *shape),
            chunks=(1, 1, *chunk),
            dtype=meta.dtype,
            level=settings.codec_level,
        )
        write_v2_array_metadata(store, lvl, specs[lvl])
    write_v2_group(
        store,
        multiscales_metadata(
            name=settings.input_source.rsplit("/", 1)[-1],
            n_levels=len(meta.shapes),
            voxel_zyx=meta.voxel_size,
            origin_zyx=meta.origin,
            factors_zyx=tuple(float(f) for f in settings.scale_factor),
            method=settings.downsample_mode,
        ),
    )

    source_path = settings.input_source
    tasks = []
    for lvl, shape in enumerate(meta.shapes):
        tasks += _task_rows(
            source_path, store, lvl, shape, specs[lvl].chunks[2:],
            settings.superchunk_multiple,
        )
    spec_args = {
        lvl: (specs[lvl].shape, specs[lvl].chunks, specs[lvl].dtype,
              specs[lvl].level)
        for lvl in specs
    }

    def writer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        src = open_source(source_path)
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                t0 = time.monotonic()
                shape, chunks, dtype, lvl_ = spec_args[row.level]
                spec = V2Spec(
                    shape=shape, chunks=chunks, dtype=dtype, level=lvl_
                )
                block = src.read_block(
                    row.level, row.z0, row.z1, row.y0, row.y1, row.x0, row.x1
                )[None, None, ...]
                blob = encode_v2_chunk(block, spec)
                kv_put(
                    v2_chunk_path(
                        store, row.level, (0, 0, row.iz, row.iy, row.ix)
                    ),
                    blob,
                )
                out.append(
                    (row.level, block.nbytes, len(blob),
                     time.monotonic() - t0)
                )
            yield pd.DataFrame(
                out,
                columns=["level", "bytes_read", "bytes_written", "elapsed"],
            )
        src.close()

    n_parts = max(
        spark.sparkContext.defaultParallelism * settings.tasks_per_cpu, 1
    )
    with driver_partitioned(
        spark,
        tasks,
        n_parts,
        writer,
        "level int, bytes_read long, bytes_written long, elapsed double",
    ) as written:
        stats = (
            written.agg(
                F.count(F.lit(1)).alias("n_chunks"),
                F.sum("bytes_read").alias("bytes_read"),
                F.sum("bytes_written").alias("bytes_written"),
            )
            .collect()[0]
            .asDict()
        )
    src.close()
    return {"n_levels": len(meta.shapes), "stats": stats, "store": store}
