"""Single-source conversion entry point and the shared conversion kernels.

Every conversion runs in ``multitile``: one global shard-task plan,
superchunk-coalesced source reads, and one pyramid kernel, the fused
cascade (reference process_single_shard,
compress/imaris_to_zarr.py:375-462, and the sequential pyramid,
:677-799). When a window-aligned group of the full depth would exceed
``CASCADE_MAX_GROUP_BYTES``, the cascade runs in passes, each later pass
reading its base level back from the store. ``convert_to_zarr`` is the
one-tile call into that plan (Zarr v3, or v2 with ``zarr_format=2``),
reshaped into per-stage stats.

This module holds that public wrapper and the kernels the multitile
planner and writers share: the superchunk group bounding box and
coalesced source reads (``_group_bbox``, ``iter_coalesced_reads``), the
one pad, encode and write step every writer ends in, v3 shard or v2
chunk (``_put_shard``), the cascade's group-alignment gate and partial
routing (``cascade_group_multiple``, ``_split_rows``), per-level shapes,
multiscales factors and v3 or v2 specs, and the stage-stats aggregation
(``stage_agg_exprs``).

Retry safety: shard writes are idempotent (same key, same bytes, atomic
rename), so Spark task retries and speculative execution are harmless —
the property the reference relies on for SLURM re-runs.
"""

from __future__ import annotations

import math
import time

import numpy as np

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..config import ConvertJobSettings
from ..operators.downsample import downsampled_shape
from ..sources.tensor import open_source
from .codecs import zstd_compress
from .format import (
    ShardSpec,
    clamp_shard_and_chunk,
    encode_shard,
    grid_cells,
    write_shard_file,
)
from .kvstore import kv_put
from .v2 import V2Spec, encode_v2_chunk, v2_chunk_path

#: Cap on quarantined-shard detail rows carried to the driver: enough
#: to locate the corrupt region(s); the full count is always exact.
ERROR_SAMPLE_CAP = 20

def _split_rows(
    red: np.ndarray,
    r0: tuple[int, int, int],
    lvl_to: int,
    child_shard: tuple[int, int, int],
) -> list[tuple]:
    """Split a reduced block (global origin ``r0`` at level ``lvl_to``)
    across that level's shard grid. One tuple per overlapped target
    shard: (level, iz, iy, ix, oz, oy, ox, sz, sy, sx, payload) —
    offsets inside the target shard, piece shape, and the voxels
    zstd-1 compressed for the shuffle, cutting the pandas->Arrow->
    UnsafeRow->shuffle copy chain to compressed size (in-flight data
    only; stored shard bytes are untouched)."""
    r1 = tuple(a + s for a, s in zip(r0, red.shape))
    rows = []
    for idx, inner, outer in grid_cells(r0, r1, child_shard):
        piece = red[outer]
        rows.append(
            (
                lvl_to,
                *idx,
                *(s.start for s in inner),
                *piece.shape,
                zstd_compress(piece.tobytes(), 1),
            )
        )
    return rows


def _level_shapes(
    settings: ConvertJobSettings, meta
) -> list[tuple[int, int, int]]:
    """Per-level logical shapes: the source's own levels when translating,
    else level 0 followed by ``downsample_levels - 1`` computed levels."""
    if settings.translate_pyramid:
        return list(meta.shapes)
    shapes = [meta.shapes[0]]
    for _ in range(1, settings.downsample_levels):
        shapes.append(downsampled_shape(shapes[-1], settings.scale_factor))
    return shapes


def _level_factors(
    settings: ConvertJobSettings, shapes: list[tuple[int, int, int]]
) -> list[tuple[float, float, float]]:
    """Each level's per-axis factor over the level before: the rounded
    shape ratio for source levels (reference X4,
    compress/imaris_to_zarr.py:2332-2351), the applied ``scale_factor``
    for computed ones (a ratio would read 1 on a collapsed axis)."""
    if not settings.translate_pyramid:
        factor = tuple(float(f) for f in settings.scale_factor)
        return [factor] * (len(shapes) - 1)
    return [
        tuple(float(round(a / b)) for a, b in zip(prev, cur))
        for prev, cur in zip(shapes, shapes[1:])
    ]


def _level_specs(
    settings: ConvertJobSettings,
    shapes: list[tuple[int, int, int]],
    dtype: str,
    zarr_format: int = 3,
) -> dict[int, ShardSpec | V2Spec]:
    """Per-level 5-D layouts with the reference's clamping rules: v3
    shard specs, or v2 chunk specs (zlib at ``codec_level``)."""
    specs = {}
    for lvl, shape in enumerate(shapes):
        shard, chunk = clamp_shard_and_chunk(
            shape, settings.shard_shape, settings.chunk_shape
        )
        if zarr_format == 2:
            specs[lvl] = V2Spec(
                shape=(1, 1, *shape),
                chunks=(1, 1, *chunk),
                dtype=dtype,
                level=settings.codec_level,
            )
        else:
            specs[lvl] = ShardSpec(
                shape=(1, 1, *shape),
                shard_shape=(1, 1, *shard),
                chunk_shape=(1, 1, *chunk),
                dtype=dtype,
                codec=settings.codec,
                codec_level=settings.codec_level,
                transpose_order=settings.transpose_order,
            )
    return specs


def _put_shard(
    store: str,
    level: int,
    iz: int,
    iy: int,
    ix: int,
    block: np.ndarray,
    spec: ShardSpec | V2Spec,
) -> int:
    """Pad an edge block to the full 5-D shard shape (v3 regular grid),
    encode it and write shard (iz, iy, ix); returns the bytes written.
    A ``V2Spec`` level has no shards: the block is chunk (iz, iy, ix),
    written as one v2 chunk (``encode_v2_chunk`` pads it)."""
    if isinstance(spec, V2Spec):
        blob = encode_v2_chunk(block[None, None, ...], spec)
        kv_put(v2_chunk_path(store, level, (0, 0, iz, iy, ix)), blob)
        return len(blob)
    target = spec.shard_shape[2:]
    if block.shape != target:
        padded = np.zeros(target, dtype=block.dtype)
        padded[: block.shape[0], : block.shape[1], : block.shape[2]] = block
        block = padded
    blob = encode_shard(block[None, None, ...], spec)
    write_shard_file(store, level, (0, 0, iz, iy, ix), blob)
    return len(blob)


def _group_bbox(rows) -> tuple[int, int, int, int, int, int] | None:
    """``(z0, z1, y0, y1, x0, x1)`` bounding box of a superchunk group's
    task rows, or None when the rows do not tile it exactly (checked as
    volume equality)."""
    box = (
        min(r.z0 for r in rows),
        max(r.z1 for r in rows),
        min(r.y0 for r in rows),
        max(r.y1 for r in rows),
        min(r.x0 for r in rows),
        max(r.x1 for r in rows),
    )
    box_vol = (box[1] - box[0]) * (box[3] - box[2]) * (box[5] - box[4])
    rows_vol = sum(
        (r.z1 - r.z0) * (r.y1 - r.y0) * (r.x1 - r.x0) for r in rows
    )
    return box if box_vol == rows_vol else None


def _row_slices(r, box) -> tuple[slice, slice, slice]:
    """Task row ``r``'s voxels inside its group's bounding-box region."""
    return (
        slice(r.z0 - box[0], r.z1 - box[0]),
        slice(r.y0 - box[2], r.y1 - box[2]),
        slice(r.x0 - box[4], r.x1 - box[4]),
    )


def iter_coalesced_reads(rows: list, read_fn):
    """Superchunk read-once coalescing (reference S9, iter_superchunks at
    utils/io_utils.py:153-303): issue ONE source read for a superchunk
    group's bounding box and slice every shard block out of the in-memory
    region — amortizing source I/O exactly as the reference's superchunk
    loop does (its default superchunk is 2x the shard,
    compress/imaris_to_zarr.py:1310-1314; ours is ``superchunk_multiple``
    x the shard, same default).

    ``rows`` are one group's task rows; ``read_fn(row, z0, z1, y0, y1,
    x0, x1)`` performs the actual source read (the row identifies level /
    tile for the caller). Returns ``(region, items)``: ``region`` is the
    group's bounding-box array, or None when the rows were read one by
    one, and ``items`` yields ``(row, block, read_seconds)`` with the
    group's single read time amortized evenly over its rows.

    Coalescing only fires when the group's rows exactly tile their
    bounding box (the analog of the reference's divisibility validation,
    utils/io_utils.py:212-217 — here checked as volume equality, which
    also keeps resume/subset runs correct: a partial group falls back to
    per-row reads instead of over-reading). Memory is one group's
    bounding box: ``superchunk_multiple * shard_shape`` (the reference's
    superchunk bound) for a plain group; a cascade group, widened to stay
    window-aligned (``cascade_group_multiple``), is bounded by
    ``CASCADE_MAX_GROUP_BYTES``, or in a one-step pass by
    ``scale_factor`` times the superchunk per axis.
    """
    box = _group_bbox(rows)
    if box is not None:
        t0 = time.monotonic()
        region = read_fn(rows[0], *box)
        per_row = (time.monotonic() - t0) / len(rows)
        if region is not None:
            return region, (
                (r, region[_row_slices(r, box)], per_row) for r in rows
            )
        if len(rows) == 1:  # that read was the row's own read
            return None, iter([(rows[0], None, per_row)])
        # Quarantined group read (read_fn returned None, see
        # multitile._GlobalWriter): the corruption may touch only part
        # of the bounding box, so fall back to PER-ROW reads — only
        # shards whose own voxels are broken quarantine, keeping the
        # "every healthy byte converts" contract at shard granularity,
        # not superchunk granularity.
    return None, _read_rows(rows, read_fn)


def _read_rows(rows: list, read_fn):
    for r in rows:
        t0 = time.monotonic()
        block = read_fn(r, r.z0, r.z1, r.y0, r.y1, r.x0, r.x1)
        yield r, block, time.monotonic() - t0


#: Memory guard for the fused cascade's group read buffer: the group
#: bounding box (raw voxels) a single task holds in memory. Pathological
#: shard shapes (e.g. a 101-voxel odd shard under a depth-5 factor-2
#: pyramid) would need gigabyte groups to stay window-aligned through
#: every level; past this bound the cascade runs in shallower passes
#: (``multitile.pyramid_passes``). Read at call time, so setting it to 0
#: forces one-step passes.
CASCADE_MAX_GROUP_BYTES = 1 << 30


def cascade_group_multiple(
    spec: ShardSpec,
    factor: tuple[int, int, int],
    n_levels: int,
    superchunk_multiple: tuple[int, int, int],
    max_group_bytes: float | None = None,
) -> tuple[int, int, int] | None:
    """Per-axis superchunk multiple (in shards of ``spec``, the level a
    cascade pass reads) that makes every cascade group exactly
    window-aligned at every level of an ``n_levels``-level pass, or None
    when the pass has nothing to cascade or the required group exceeds
    ``max_group_bytes`` (default: ``CASCADE_MAX_GROUP_BYTES``).

    The fused cascade reduces each group's bounding box recursively, so
    a group's origin and extent must stay on the window grid through
    n_levels-1 reduce steps: group_extent % factor^(n_levels-1) == 0 per
    axis (groups clamped at the array edge are exempt — their truncated
    trailing windows are genuine global edge windows at every level).
    The minimal such multiple is superchunk_multiple scaled by
    factor^(n_levels-1) / gcd(superchunk_extent, factor^(n_levels-1)) —
    1 for the common power-of-two shard/factor configs, so the aligned
    case reads exactly the groups it always did."""
    if n_levels < 2:
        return None
    if max_group_bytes is None:
        max_group_bytes = CASCADE_MAX_GROUP_BYTES
    shard = spec.shard_shape[2:]
    dims = spec.shape[2:]
    csm = []
    for sm, sh, f in zip(superchunk_multiple, shard, factor):
        t = f ** (n_levels - 1)
        csm.append(sm * (t // math.gcd(sm * sh, t)))
    group_bytes = spec.np_dtype.itemsize
    for c, sh, d in zip(csm, shard, dims):
        group_bytes *= min(c * sh, d)
    if group_bytes > max_group_bytes:
        return None
    return tuple(csm)


def stage_agg_exprs() -> list:
    """The stage-stats aggregation, shared by every writer agg (source
    writer, every cascade pass) so the error-row protocol —
    ``n_shards`` counts WRITTEN shards, quarantined rows tally in
    ``n_errors``, and the locator-sample list honors the writers'
    blank-message cap (messages past ``ERROR_SAMPLE_CAP`` per
    partition/tile arrive empty, keeping executor agg buffers bounded on
    a fully corrupt source) — cannot drift between call sites."""
    is_err = F.col("error").isNotNull()
    return [
        F.count(F.when(~is_err, 1)).alias("n_shards"),
        F.sum("bytes_read").alias("bytes_read"),
        F.sum("bytes_written").alias("bytes_written"),
        F.sum("elapsed").alias("task_seconds"),
        F.count(F.when(is_err, 1)).alias("n_errors"),
        F.slice(
            F.collect_list(
                F.when(
                    is_err & (F.length("error") > 0),
                    F.struct("level", "iz", "iy", "ix", "error"),
                )
            ),
            1,
            ERROR_SAMPLE_CAP,
        ).alias("error_samples"),
    ]


def stage_dict(row) -> dict:
    """One collected ``stage_agg_exprs`` row as a plain dict."""
    out = row.asDict()
    out["error_samples"] = [e.asDict() for e in out["error_samples"] or []]
    return out


def convert_to_zarr(
    spark: SparkSession, settings: ConvertJobSettings, zarr_format: int = 3
) -> dict:
    """Convert ``settings.input_source`` into the store at
    ``settings.output_location``, Zarr v3 or (``zarr_format=2``) v2: a
    one-tile ``convert_tiles_to_zarr`` call. Returns per-stage stats —
    ``stages[0]`` is the source-read stage (every level when
    translating), then one stage per computed level."""
    # Imported here: multitile builds on this module's kernels.
    from .multitile import convert_tiles_to_zarr

    # Driver-side probe. Unlike a multi-tile job, which skips an
    # unopenable tile under on_corrupt="quarantine", a single-source
    # conversion has nothing left to convert, so it raises here.
    src = open_source(settings.input_source)
    try:
        shapes = _level_shapes(settings, src.meta)
    finally:
        src.close()
    store = settings.output_location
    mt = convert_tiles_to_zarr(
        spark, [(settings.input_source, store)], settings,
        zarr_format=zarr_format,
    )
    stage0 = {
        k: v
        for k, v in mt["tiles"][settings.input_source].items()
        if k != "tile_path"
    }
    stage0["level"] = 0
    stages = [stage0, *mt.get("downsample_stages", [])]
    result = {
        "n_levels": len(shapes),
        "shapes": shapes,
        "stages": stages,
        "store": store,
    }
    n_errors = sum(s["n_errors"] for s in stages)
    if settings.on_corrupt == "quarantine" or n_errors:
        result["n_errors"] = n_errors
    if not settings.translate_pyramid and len(shapes) > 1:
        # Which pyramid plan ran, so a user on the multi-pass path sees
        # it in the stats, not just the log.
        result["pyramid_plan"] = mt["pyramid_plan"]
        result["pyramid_passes"] = mt["pyramid_passes"]
    return result
