"""Zarr v3 sharded on-disk format: metadata JSON + shard binary layout.

Implements the subset the engine needs, compatible with the v3 spec:

- regular chunk grid whose top-level chunk is the **shard**;
- ``sharding_indexed`` codec: inner chunks are independently compressed,
  a uint64-LE (offset, nbytes) index + crc32c trails the file
  (``index_location: end``);
- inner codec chain ``bytes(little)`` + gzip|zstd|none;
- chunk key encoding ``default`` with ``/`` separator.

Mirrors the store structure the reference builds through TensorStore
(reference compress/imaris_to_zarr.py:141-269: shard=chunk_grid chunk,
inner codecs transpose+zstd, crc32c index; clamping rules at :205-220),
re-derived from the public zarr v3 spec rather than ported.

Edge shards are padded to the full shard shape with the fill value, as
the v3 regular grid requires; readers clip to the array shape.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence
from dataclasses import dataclass, field
from itertools import product

import numpy as np

from .codecs import compress, crc32c, decompress
from .kvstore import kv_get, kv_join, kv_put

_MISSING = (2**64 - 1, 2**64 - 1)


@dataclass(frozen=True)
class ShardSpec:
    """Physical layout of one array (= one pyramid level)."""

    shape: tuple[int, ...]  # logical array shape (t, c, z, y, x)
    shard_shape: tuple[int, ...]  # top-level chunk = file granularity
    chunk_shape: tuple[int, ...]  # inner compression unit
    dtype: str = "uint16"
    codec: str = "gzip"
    codec_level: int = 1
    fill_value: int = 0
    dimension_names: tuple[str, ...] = ("t", "c", "z", "y", "x")
    # inner `transpose` codec (reference chain is transpose(C) + zstd,
    # compress/imaris_to_zarr.py:222-226): a dimension permutation, or
    # None to omit the codec. "C"/"F" shorthands normalize in
    # normalize_transpose().
    transpose_order: tuple[int, ...] | None = None

    def __post_init__(self) -> None:
        if not (
            len(self.shape)
            == len(self.shard_shape)
            == len(self.chunk_shape)
        ):
            raise ValueError("rank mismatch between shape/shard/chunk")
        for s, c in zip(self.shard_shape, self.chunk_shape):
            if s % c != 0:
                raise ValueError(
                    f"shard shape {self.shard_shape} must be a multiple of "
                    f"chunk shape {self.chunk_shape}"
                )
        if self.transpose_order is not None:
            object.__setattr__(
                self,
                "transpose_order",
                normalize_transpose(self.transpose_order, len(self.shape)),
            )

    @property
    def chunks_per_shard(self) -> tuple[int, ...]:
        return tuple(
            s // c for s, c in zip(self.shard_shape, self.chunk_shape)
        )

    @property
    def np_dtype(self) -> np.dtype:
        return np.dtype(self.dtype)


def normalize_transpose(
    order: tuple[int, ...] | list[int] | str, rank: int
) -> tuple[int, ...]:
    """'C' -> identity, 'F' -> reversed, else validate the permutation
    (TensorStore accepts the letter shorthands the reference uses; the
    v3 spec proper wants the explicit permutation we store)."""
    if order == "C":
        return tuple(range(rank))
    if order == "F":
        return tuple(reversed(range(rank)))
    order = tuple(int(i) for i in order)
    if sorted(order) != list(range(rank)):
        raise ValueError(
            f"transpose order {order} is not a permutation of rank {rank}"
        )
    return order


def clamp_shard_and_chunk(
    shape_zyx: tuple[int, int, int],
    shard_zyx: tuple[int, int, int],
    chunk_zyx: tuple[int, int, int],
) -> tuple[tuple[int, int, int], tuple[int, int, int]]:
    """Reference clamping rules (compress/imaris_to_zarr.py:205-220):
    chunk clamped to the array shape; shard clamped to the array shape and
    rounded down to a chunk multiple, at least one chunk."""
    chunk = tuple(min(c, d) for c, d in zip(chunk_zyx, shape_zyx))
    shard = []
    for d, s, c in zip(shape_zyx, shard_zyx, chunk):
        s = min(s, d)
        s = max((s // c) * c, c)
        shard.append(s)
    return tuple(shard), chunk


def grid_cells(
    starts: Sequence[int], stops: Sequence[int], block: Sequence[int]
) -> Iterator[tuple[tuple[int, ...], tuple[slice, ...], tuple[slice, ...]]]:
    """Every cell of the regular grid of ``block``-sized cells that the
    region ``[starts, stops)`` overlaps, in row-major order, as
    ``(idx, inner, outer)``: the cell index, the overlap's slices inside
    the cell, and the same overlap's slices inside the region. Any rank;
    an empty extent on any axis yields no cells. The one place a region
    meets a block grid — every store reader, the shard grid and the
    cascade's partial split go through it."""
    ranges = [
        range(a // b, (e + b - 1) // b) if e > a else range(0)
        for a, e, b in zip(starts, stops, block)
    ]
    for idx in product(*ranges):
        inner, outer = [], []
        for i, a, e, b in zip(idx, starts, stops, block):
            lo, hi = max(a, i * b), min(e, (i + 1) * b)
            inner.append(slice(lo - i * b, hi - i * b))
            outer.append(slice(lo - a, hi - a))
        yield idx, tuple(inner), tuple(outer)


def region_bounds(
    region: tuple[slice, ...], shape: tuple[int, ...]
) -> tuple[list[int], list[int]]:
    """``(starts, stops)`` of a slice region, an open stop and any stop
    past the array edge clipped to ``shape``."""
    starts = [s.start or 0 for s in region]
    stops = [
        min(s.stop if s.stop is not None else d, d)
        for s, d in zip(region, shape)
    ]
    return starts, stops


def shard_grid(
    shape_zyx: tuple[int, int, int], shard_zyx: tuple[int, int, int]
):
    """Every shard of a 3-D array in row-major order, as
    ``(iz, iy, ix, z0, z1, y0, y1, x0, x1)`` with the last shard on each
    axis clamped to the array edge — the one grid every conversion stage
    enumerates (reference compute_shard_grid / shard_index_to_slices /
    enumerate_shard_indices, compress/imaris_to_zarr.py:277-372)."""
    for idx, _, outer in grid_cells((0, 0, 0), shape_zyx, shard_zyx):
        yield (*idx, *(v for s in outer for v in (s.start, s.stop)))


# --------------------------------------------------------------------------
# Shard binary encode / decode
# --------------------------------------------------------------------------
def encode_shard(data: np.ndarray, spec: ShardSpec) -> bytes:
    """Encode one full-size shard array into the sharding_indexed layout.

    ``data`` must already be padded to ``spec.shard_shape``.
    """
    if tuple(data.shape) != tuple(spec.shard_shape):
        raise ValueError(
            f"shard data shape {data.shape} != shard shape {spec.shard_shape}"
        )
    data = np.ascontiguousarray(data, dtype=spec.np_dtype)
    cps = spec.chunks_per_shard
    n_chunks = int(np.prod(cps))
    index = np.empty((n_chunks, 2), dtype="<u8")
    parts: list[bytes] = []
    offset = 0
    for flat, idx in enumerate(product(*(range(n) for n in cps))):
        sl = tuple(
            slice(i * c, (i + 1) * c) for i, c in zip(idx, spec.chunk_shape)
        )
        chunk = data[sl]
        if spec.transpose_order is not None:
            chunk = chunk.transpose(spec.transpose_order)
        raw = np.ascontiguousarray(chunk).astype(
            spec.np_dtype.newbyteorder("<")
        ).tobytes(order="C")
        enc = compress(raw, spec.codec, spec.codec_level)
        parts.append(enc)
        index[flat] = (offset, len(enc))
        offset += len(enc)
    index_bytes = index.tobytes(order="C")
    checksum = crc32c(index_bytes).to_bytes(4, "little")
    return b"".join(parts) + index_bytes + checksum


def decode_shard(blob: bytes, spec: ShardSpec) -> np.ndarray:
    """Decode a sharding_indexed blob back into a full shard array."""
    cps = spec.chunks_per_shard
    n_chunks = int(np.prod(cps))
    index_len = n_chunks * 16
    index_bytes = blob[-(index_len + 4) : -4]
    stored_crc = int.from_bytes(blob[-4:], "little")
    if crc32c(index_bytes) != stored_crc:
        raise ValueError("shard index crc32c mismatch")
    index = np.frombuffer(index_bytes, dtype="<u8").reshape(n_chunks, 2)
    out = np.full(
        spec.shard_shape, spec.fill_value, dtype=spec.np_dtype
    )
    chunk_nbytes = int(np.prod(spec.chunk_shape)) * spec.np_dtype.itemsize
    for flat, idx in enumerate(product(*(range(n) for n in cps))):
        off, nbytes = int(index[flat, 0]), int(index[flat, 1])
        if (off, nbytes) == _MISSING:
            continue
        raw = decompress(blob[off : off + nbytes], spec.codec, chunk_nbytes)
        if spec.transpose_order is None:
            chunk = np.frombuffer(
                raw, dtype=spec.np_dtype.newbyteorder("<")
            ).reshape(spec.chunk_shape)
        else:
            order = spec.transpose_order
            stored_shape = tuple(spec.chunk_shape[i] for i in order)
            inverse = np.argsort(order)
            chunk = (
                np.frombuffer(raw, dtype=spec.np_dtype.newbyteorder("<"))
                .reshape(stored_shape)
                .transpose(inverse)
            )
        sl = tuple(
            slice(i * c, (i + 1) * c) for i, c in zip(idx, spec.chunk_shape)
        )
        out[sl] = chunk
    return out


# --------------------------------------------------------------------------
# Store layout (local filesystem or S3, routed via zarrio.kvstore —
# mirrors the reference's file-vs-s3 kvstore selection,
# compress/imaris_to_zarr.py:1094-1125)
# --------------------------------------------------------------------------
def shard_path(store: str, level: int, shard_idx: tuple[int, ...]) -> str:
    return kv_join(store, str(level), "c", *(str(i) for i in shard_idx))


def write_shard_file(
    store: str, level: int, shard_idx: tuple[int, ...], blob: bytes
) -> str:
    """Idempotent shard write: same key + same bytes => retry-safe under
    Spark speculative execution (the reference relies on the identical
    property, SURVEY §7 'exactly-once sink semantics'). Local writes are
    tmp+rename; S3 writes are single atomic PUTs."""
    return kv_put(shard_path(store, level, shard_idx), blob)


def _codecs_json(spec: ShardSpec) -> list[dict]:
    """Inner chain mirrors the reference's transpose + compressor
    (compress/imaris_to_zarr.py:222-226) with the spec-required `bytes`
    array->bytes codec between them (TensorStore inserts it implicitly;
    zarr v3 metadata must carry it explicitly)."""
    inner: list[dict] = []
    if spec.transpose_order is not None:
        inner.append(
            {
                "name": "transpose",
                "configuration": {"order": list(spec.transpose_order)},
            }
        )
    inner.append({"name": "bytes", "configuration": {"endian": "little"}})
    if spec.codec == "gzip":
        inner.append(
            {"name": "gzip", "configuration": {"level": spec.codec_level}}
        )
    elif spec.codec == "zstd":
        inner.append(
            {
                "name": "zstd",
                "configuration": {"level": spec.codec_level, "checksum": False},
            }
        )
    return [
        {
            "name": "sharding_indexed",
            "configuration": {
                "chunk_shape": list(spec.chunk_shape),
                "codecs": inner,
                "index_codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}},
                    {"name": "crc32c"},
                ],
                "index_location": "end",
            },
        }
    ]


def write_array_metadata(
    store: str, level: int, spec: ShardSpec, attributes: dict | None = None
) -> str:
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(spec.shape),
        "data_type": spec.dtype,
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": list(spec.shard_shape)},
        },
        "chunk_key_encoding": {
            "name": "default",
            "configuration": {"separator": "/"},
        },
        "fill_value": spec.fill_value,
        "codecs": _codecs_json(spec),
        "attributes": attributes or {},
        "dimension_names": list(spec.dimension_names),
    }
    path = kv_join(store, str(level), "zarr.json")
    kv_put(path, json.dumps(meta, indent=2).encode("utf-8"))
    return path


def write_group_metadata(store: str, attributes: dict) -> str:
    """Root group zarr.json carrying OME-NGFF attributes (driver-side,
    written once by the planner before any task runs — replaces the
    reference's partition-0 gate, compress/imaris_to_zarr.py:2006-2028)."""
    meta = {
        "zarr_format": 3,
        "node_type": "group",
        "attributes": attributes,
    }
    path = kv_join(store, "zarr.json")
    kv_put(path, json.dumps(meta, indent=2).encode("utf-8"))
    return path


def read_array_metadata(store: str, level: int) -> ShardSpec:
    blob = kv_get(kv_join(store, str(level), "zarr.json"))
    if blob is None:
        raise FileNotFoundError(
            f"no zarr.json for level {level} in {store}"
        )
    meta = json.loads(blob)
    shard_cfg = meta["codecs"][0]["configuration"]
    inner = shard_cfg["codecs"]
    codec, level_, transpose = "none", 0, None
    for c in inner:
        if c["name"] in ("gzip", "zstd"):
            codec = c["name"]
            level_ = c["configuration"]["level"]
        elif c["name"] == "transpose":
            transpose = c["configuration"]["order"]  # list or "C"/"F"
    return ShardSpec(
        shape=tuple(meta["shape"]),
        shard_shape=tuple(meta["chunk_grid"]["configuration"]["chunk_shape"]),
        chunk_shape=tuple(shard_cfg["chunk_shape"]),
        dtype=meta["data_type"],
        codec=codec,
        codec_level=level_,
        fill_value=meta["fill_value"],
        dimension_names=tuple(meta.get("dimension_names") or ()),
        transpose_order=transpose,
    )


def read_array_region(
    store: str,
    level: int,
    region: tuple[slice, ...],
    spec: ShardSpec | None = None,
) -> np.ndarray:
    """Assemble an arbitrary region from shard files (reader twin of the
    writer; used by round-trip verification and the pyramid compute path)."""
    spec = spec or read_array_metadata(store, level)
    starts, stops = region_bounds(region, spec.shape)
    out = np.full(
        tuple(e - s for s, e in zip(starts, stops)),
        spec.fill_value,
        dtype=spec.np_dtype,
    )
    for idx, inner, outer in grid_cells(starts, stops, spec.shard_shape):
        blob = kv_get(shard_path(store, level, idx))
        if blob is not None:
            out[outer] = decode_shard(blob, spec)[inner]
    return out
