"""Single-source conversion entry point and the shared conversion kernels.

Every conversion runs in ``multitile``: one global plan of superchunk
groups, one read per group, and one write path. A computed pyramid is
built in passes (reference process_single_shard,
compress/imaris_to_zarr.py:375-462, and the sequential pyramid,
:677-799): each pass writes as many levels inside its writer tasks as
nest and fit ``CASCADE_MAX_GROUP_BYTES``, and the next pass reads its
base level back from the store. ``convert_to_zarr`` is the one-tile
call into that plan (Zarr v3, or v2 with ``zarr_format=2``), reshaped
into per-stage stats.

This module holds that public wrapper and the kernels the multitile
planner and writer share: the one group read, from the source or the
store, into the group's region (``_read_group``), the one pad, encode
and write step every shard ends in, v3 shard or v2 chunk
(``_put_shard``), the group's window alignment
(``cascade_group_multiple``), per-level shapes, multiscales factors and
v3 or v2 specs, and the stage-stats aggregation (``stage_agg_exprs``).

Retry safety: shard writes are idempotent (same key, same bytes, atomic
rename), so Spark task retries and speculative execution are harmless —
the property the reference relies on for SLURM re-runs.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..config import ConvertJobSettings
from ..operators.downsample import downsampled_shape
from .format import (
    ShardSpec,
    clamp_shard_and_chunk,
    encode_shard,
    write_shard_file,
)
from .kvstore import kv_put
from .v2 import V2Spec, encode_v2_chunk, v2_chunk_path

#: Cap on quarantined-shard detail rows carried to the driver: enough
#: to locate the corrupt region(s); the full count is always exact.
ERROR_SAMPLE_CAP = 20

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


def _read_group(
    box: tuple[int, int, int, int, int, int],
    cells: list,
    read_fn,
    spec: ShardSpec | V2Spec,
) -> tuple[np.ndarray, dict]:
    """Read one superchunk group into one region: superchunk read-once
    coalescing (reference S9, iter_superchunks at
    utils/io_utils.py:153-303), whose default superchunk is 2x the shard
    (compress/imaris_to_zarr.py:1310-1314); ours is
    ``superchunk_multiple`` x the shard, same default.

    ``box`` is the group's ``(z0, z1, y0, y1, x0, x1)`` and ``cells`` its
    shards, ``format.grid_cells`` over the box; ``read_fn(z0, z1, y0, y1,
    x0, x1)`` reads the source or the store and returns the voxels, or
    for a quarantined read the failure's message. Returns ``(region,
    failed)``: the group's voxels, and ``{shard index: message}`` for the
    shards whose voxels could not be read, which hold ``spec``'s
    fill_value in ``region`` (what a store read of a withheld shard
    returns).

    The driver plans whole groups, so the shards tile the box and it is
    ONE ``read_fn`` call. Only after that read failed is each shard read
    on its own into a fill_value region, so a quarantined group withholds
    only the shards whose own voxels are broken, not the whole
    superchunk. A one-shard group whose read failed is not read again:
    that read was the shard's own.

    Memory is one group's box: ``superchunk_multiple`` x the shard (one
    shard in a store pass), widened in a computed pyramid to the reduce
    window grid by at most ``scale_factor`` per axis
    (``cascade_group_multiple``). Beside it a pass's writer holds one
    block per level it writes in-task; the planner keeps the two within
    ``CASCADE_MAX_GROUP_BYTES`` unless the pass is one step deep.
    """
    got = read_fn(*box)
    if not isinstance(got, str):
        return got, {}
    region = np.full(
        tuple(b - a for a, b in zip(box[0::2], box[1::2])),
        spec.fill_value,
        dtype=spec.np_dtype,
    )
    if len(cells) == 1:
        return region, {cells[0][0]: got}
    failed = {}
    for idx, _, outer in cells:
        block = read_fn(*(
            v for o, s in zip(box[0::2], outer)
            for v in (o + s.start, o + s.stop)
        ))
        if isinstance(block, str):
            failed[idx] = block
        else:
            region[outer] = block
    return region, failed


#: Memory guard for a pyramid pass: the bytes a writer task holds, one
#: group region plus one block per level written in-task
#: (``multitile.pyramid_passes``). A pass that would hold more writes
#: fewer levels and leaves the rest to the next pass, which reads its
#: base level back from the store; a one-step pass always runs. Read at
#: call time, so setting it to 0 forces one-step passes.
CASCADE_MAX_GROUP_BYTES = 1 << 30


def cascade_group_multiple(
    spec: ShardSpec,
    factor: tuple[int, int, int],
    superchunk_multiple: tuple[int, int, int],
) -> tuple[int, int, int]:
    """Per-axis superchunk multiple (in shards of ``spec``, the level a
    pass reads) that puts every group on the reduce window grid:
    group_extent % factor == 0 per axis (a group clamped at the array
    edge is exempt: its truncated trailing window is a genuine global
    edge window). The minimal such multiple is superchunk_multiple
    scaled by factor / gcd(superchunk_extent, factor): 1 for the common
    power-of-two shard/factor configs, so the aligned case reads exactly
    the groups it always did."""
    return tuple(
        sm * (f // math.gcd(sm * sh, f))
        for sm, sh, f in zip(superchunk_multiple, spec.shard_shape[2:], factor)
    )


def stage_agg_exprs() -> list:
    """The stage-stats aggregation, shared by every pass's writer agg
    so the error-row protocol —
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

    store = settings.output_location
    mt = convert_tiles_to_zarr(
        spark, [(settings.input_source, store)], settings,
        zarr_format=zarr_format,
    )
    # Unlike a multi-tile job, which skips a tile the planner quarantined,
    # a single-source conversion has nothing left to convert.
    reason = mt.get("quarantined_tiles", {}).get(settings.input_source)
    if reason is not None:
        raise RuntimeError(
            f"{settings.input_source}: quarantined at the driver probe "
            f"({reason})"
        )
    shapes = mt["shapes"][settings.input_source]
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
