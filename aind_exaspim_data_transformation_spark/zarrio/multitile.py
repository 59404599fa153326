"""Multi-tile conversion: one GLOBAL plan of superchunk groups across
all tiles (the reference's partition_mode='shard',
imaris_job.py:535-647; its 'file' mode is the same plan over one tile,
so there is only this one).

A pass's plan is one ``Grid`` of units per converting (tile, level);
the level's layout (shapes, dtype, codec) lives only in the store's own
zarr.json — or, for a Zarr v2 store, its ``.zarray`` — which the driver
writes before any task runs. The driver cuts the one unit order into
voxel-balanced ranges (``unit_offsets`` and ``cut``: the deterministic
host-side split of the reference's imaris_job.py:35-46, across every
tile), and each writer task expands only its own range (``iter_units``)
and reads each superchunk group of a unit into one region
(``pipeline._read_group``), so no shard list is built and no Spark job
moves data the driver holds. A unit is one group when nothing is
computed. ``pipeline.convert_to_zarr`` is the one-tile call. Zarr v2 is
a layout choice of the one planner (``plan_global_tasks(...,
zarr_format=2)``): the same probe, metadata writes and groups, of v2
chunks, and the same writer.

A computed pyramid is built in passes (``pyramid_passes``), each one
``mapInPandas`` over its units plus the stats aggregation. A pass reads
level ``base`` (the source first, the store after) and writes the levels
after it up to level ``top`` inside the writer task: a unit is the
base-level footprint of one level-``top`` block, the writer reduces its
groups in tree order into one open block per level and writes each
shard once its block is complete. The next pass reads level ``top``
back from the store, as the reference builds every level
(compress/imaris_to_zarr.py:677-799); one-step passes are that loop.

At 100 TB: ~1M shards in ~500k groups per dataset, and a pass ships a
few kB of plan; payloads never enter the DataFrame.
"""

from __future__ import annotations

import logging
import math
import time
from collections import namedtuple
from collections.abc import Iterable, Iterator
from functools import partial

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..config import ConvertJobSettings
from ..operators.downsample import downsample_block
from ..sources.tensor import open_source
from .format import (
    ShardSpec,
    grid_cells,
    read_array_metadata,
    read_array_region,
    shard_grid,
    write_array_metadata,
    write_group_metadata,
)
from .kvstore import kv_get, kv_join
from . import pipeline
from .metadata import multiscales_metadata
from .pipeline import (
    ERROR_SAMPLE_CAP,
    _level_factors,
    _level_shapes,
    _level_specs,
    _put_shard,
    _read_group,
    cascade_group_multiple,
    stage_agg_exprs,
    stage_dict,
)
from .v2 import (
    V2Spec,
    read_v2_array_metadata,
    write_v2_array_metadata,
    write_v2_group,
)

#: One converting (tile, level) of a pass's plan: its ``dims`` (z, y,
#: x), its ``block`` (the shard, or a v2 level's chunk), its superchunk
#: ``group`` extent (``key_m`` x ``block``), its ``unit`` extent, all in
#: voxels, and ``blocks``, the block extent of each level after ``level``
#: that the pass writes in-task (``_grid``), empty when it writes
#: none. The plan's elements are its units, the cells of
#: ``format.shard_grid(dims, unit)``, in its grids' list order, each
#: row-major; a unit with no in-task level is one group.
Grid = namedtuple("Grid", "tile_path store level dims block group unit blocks")

#: One row per shard (or v2 chunk) of a plan, as ``build_global_tasks``
#: lists it for perfbench's traced replay; rows sharing a ``superchunk``
#: key are one group. The writers take the unit plan, not these rows.
TASK_SCHEMA = (
    "tile_path string, store string, level int, "
    "iz int, iy int, ix int, "
    "z0 int, z1 int, y0 int, y1 int, x0 int, x1 int, "
    "superchunk string"
)

#: The one writer-row schema: a per-shard write record, ``error`` set on
#: a quarantined shard, which was not written.
WRITER_SCHEMA = (
    "tile_path string, level int, iz int, iy int, ix int, "
    "bytes_read long, bytes_written long, elapsed double, error string"
)
WRITER_COLS = [f.split()[0] for f in WRITER_SCHEMA.split(", ")]


class _LevelSpecs(dict):
    """``(store, level) -> ShardSpec``, read from the store's own
    zarr.json on first use — or a ``V2Spec`` from the level's
    ``.zarray`` when it has no zarr.json: the only place a writer learns
    a level's layout. One per writer call, never module-level — Python
    workers outlive jobs, and a store path can be rewritten with a new
    layout."""

    def __missing__(self, key: tuple[str, int]) -> ShardSpec | V2Spec:
        try:
            spec = read_array_metadata(*key)
        except FileNotFoundError:
            spec = read_v2_array_metadata(*key)
        self[key] = spec
        return spec


def _grid(
    src_path: str,
    store: str | None,
    specs: dict[int, ShardSpec],
    base: int,
    top: int,
    settings: ConvertJobSettings,
) -> Grid | None:
    """Level ``base`` of one tile as the plan entry of a pass that
    writes levels ``base + 1`` to ``top`` in-task, or None when a level
    past ``base + 1`` does not nest.

    Groups are ``superchunk_multiple`` shards, or one shard in a store
    pass (a store read has nothing to coalesce), widened by
    ``pipeline.cascade_group_multiple`` onto the reduce window grid when
    the pass reduces. A block is whole shards of its level whose
    footprint on the level below is whole children (blocks, or groups at
    ``base``) on the window grid, so the writer completes a block by
    reducing its children into it in turn; per-window reduce results do
    not depend on the extent they are computed in, so any such tree
    writes the bytes of one whole-level reduce. Each block is the least
    such extent, one shard unless its children straddle shards; a level
    does not nest when its children are off the window grid. A unit is
    the base-level footprint of one last block."""
    spec, factor = specs[base], settings.scale_factor
    key_m = settings.superchunk_multiple
    if top > base:
        key_m = cascade_group_multiple(
            spec, factor, key_m if base == 0 else (1, 1, 1)
        )
    group = tuple(m * s for m, s in zip(key_m, spec.shard_shape[2:]))
    child, child_dims, blocks = group, spec.shape[2:], []
    for lvl in range(base + 1, top + 1):
        dims, shard = specs[lvl].shape[2:], specs[lvl].shard_shape[2:]
        block = []
        for c, cd, d, s, f in zip(child, child_dims, dims, shard, factor):
            if cd <= c:  # one child spans the axis, so one block does
                block.append(-(-d // s) * s)
            elif c % f:  # children off the window grid
                return None
            else:
                block.append(s if d <= s else math.lcm(s, c // f))
        blocks.append(tuple(block))
        child, child_dims = block, dims
    unit = tuple(c * f ** len(blocks) for c, f in zip(child, factor))
    return Grid(
        src_path, store, base, spec.shape[2:], spec.shard_shape[2:], group,
        unit, tuple(blocks),
    )


def pyramid_passes(
    all_specs: dict[str, dict[int, ShardSpec]],
    settings: ConvertJobSettings,
    n_parts: int,
) -> list[tuple[int, int]]:
    """The computed pyramid's passes over the whole dataset, ``[(base,
    depth), ...]``: a pass reads level ``base`` (the source for the
    first pass, the store after it) and writes the ``depth - 1`` levels
    after it in-task (``_grid``). Each pass goes to the deepest level
    where every tile's levels nest and every tile's group region plus
    one block per level fit ``pipeline.CASCADE_MAX_GROUP_BYTES``. When
    the pass's base level, over the whole dataset, is larger than that
    cap, the dataset's units must also still number at least
    ``min(n_parts, units one level deep)``, so a deeper pass never
    starves the ``n_parts`` writer ranges; a base level within the cap
    stays in one pass on however few units (SCALE.md gives the measured
    trade). A one-step pass always runs, so the pyramid always
    completes. When a pass ends because a level does not nest or the
    cap binds, one record names why. Empty when nothing is computed."""
    n_levels = max((len(s) for s in all_specs.values()), default=0)
    cap = pipeline.CASCADE_MAX_GROUP_BYTES

    def plan(base, top):
        return [
            _grid(path, None, specs, base, top, settings)
            for path, specs in all_specs.items()
        ]

    def n_units(grids):
        return sum(
            math.prod(-(-d // u) for d, u in zip(g.dims, g.unit))
            for g in grids
        )

    def level_bytes(level):  # every tile's level ``level``
        return sum(
            specs[level].np_dtype.itemsize * math.prod(specs[level].shape)
            for specs in all_specs.values()
        )

    def held(g):  # one group region plus one block per level, clipped
        specs = all_specs[g.tile_path]
        return specs[g.level].np_dtype.itemsize * sum(
            math.prod(map(min, ext, specs[lvl].shape[2:]))
            for lvl, ext in enumerate((g.group, *g.blocks), g.level)
        )

    passes: list[tuple[int, int]] = []
    fallbacks: list[str] = []
    base = 0
    while base < n_levels - 1:
        top = base + 1
        want = 0
        if level_bytes(base) > cap:
            want = min(n_parts, n_units(plan(base, top)))
        while top < n_levels - 1:
            grids = plan(base, top + 1)
            if None in grids:
                fallbacks.append(
                    f"level {top + 1}'s shards do not nest on level {top}'s"
                )
                break
            most = max(map(held, grids))
            if most > cap:
                fallbacks.append(
                    f"levels {base + 1}-{top + 1} would hold {most} bytes "
                    f"per task, over CASCADE_MAX_GROUP_BYTES={cap}"
                )
                break
            if n_units(grids) < want:
                break
            top += 1
        passes.append((base, top - base + 1))
        base = top
    if fallbacks:
        levels = [[b, b + d - 1] for b, d in passes]
        logging.getLogger(__name__).warning(
            "pyramid cascade runs in %d passes (levels %s) because %s; "
            "each later pass reads its base level back from the store",
            len(passes), levels, "; ".join(fallbacks),
            extra={"pyramid_passes": levels},
        )
    return passes


def _pass_grids(
    tiles: list[tuple[str, str]],
    all_specs: dict[str, dict[int, ShardSpec]],
    base: int,
    depth: int,
    settings: ConvertJobSettings,
) -> list[Grid]:
    """Every converting tile's level-``base`` grid for a pass of
    ``depth`` levels (``pyramid_passes`` checked that they nest)."""
    return [
        _grid(src_path, store, all_specs[src_path], base, base + depth - 1,
              settings)
        for src_path, store in tiles
        if src_path in all_specs  # else quarantined at the driver probe
    ]


def unit_offsets(grids: list[Grid]) -> np.ndarray:
    """The voxel offset of every unit of ``grids`` in the plan's order,
    then the total: one cumsum over the units' voxel counts, each the
    product of its extents clipped to the level's dims. No unit is
    built."""
    sizes = [np.zeros(1, dtype=np.int64)]
    for g in grids:
        ez, ey, ex = (
            np.minimum(n, d - np.arange(0, d, n, dtype=np.int64))
            for d, n in zip(g.dims, g.unit)
        )
        sizes.append((ez[:, None, None] * ey[:, None] * ex).ravel())
    return np.cumsum(np.concatenate(sizes))


def cut(offsets: np.ndarray, lo: int, hi: int, n: int) -> list[int]:
    """Cut units ``[lo, hi)`` of a plan (``offsets`` from
    ``unit_offsets``) into ``n`` contiguous ranges: the unit whose
    first voxel sits at offset ``s`` of the range's ``T`` voxels goes to
    range ``s * n // T``. Returns the ``n + 1`` unit indices where the
    ranges start, ``hi`` last. So no unit spans ranges, the same plan
    always gives the same cut (a retried or speculative task gets the
    same units), and no range carries more than ``T / n`` plus its
    largest unit. With fewer units than ``n`` some ranges are empty."""
    base = int(offsets[lo])
    span = int(offsets[hi]) - base
    firsts = np.searchsorted(
        offsets[lo:hi], [base + -(-p * span // n) for p in range(n)]
    )
    return [lo + int(i) for i in firsts] + [hi]


def iter_units(
    grids: list[Grid], lo: int, hi: int
) -> Iterator[tuple[Grid, tuple[int, ...]]]:
    """Units ``[lo, hi)`` of the plan's order, each as ``(grid, (z0, z1,
    y0, y1, x0, x1))``, computed from their index: nothing before ``lo``
    is enumerated."""
    first = 0
    for g in grids:
        nz, ny, nx = (-(-d // n) for d, n in zip(g.dims, g.unit))
        for k in range(max(lo - first, 0), min(hi - first, nz * ny * nx)):
            gz, rest = divmod(k, ny * nx)
            box: list[int] = []
            for i, d, n in zip((gz, *divmod(rest, nx)), g.dims, g.unit):
                box += (i * n, min((i + 1) * n, d))
            yield g, tuple(box)
        first += nz * ny * nx


class _PartitionFeed:
    """mapInPandas body over ``spark.range(n)``: the task holding id
    ``p`` hands ``writer`` units ``bounds[p]:bounds[p + 1]`` of the
    plan's ``grids`` (an empty range yields nothing). The plan is one
    grid per (tile, level) and one index per partition, a few kB, so it
    ships inside this object."""

    def __init__(self, grids: list[Grid], bounds: list[int], writer):
        self.grids = grids
        self.bounds = bounds
        self.writer = writer

    def __call__(
        self, batches: Iterator[pd.DataFrame]
    ) -> Iterator[pd.DataFrame]:
        for ids in batches:
            for p in ids["id"]:
                lo, hi = self.bounds[p], self.bounds[p + 1]
                if lo < hi:
                    yield from self.writer(iter_units(self.grids, lo, hi))


def plan_global_tasks(
    tiles: list[tuple[str, str]],
    settings: ConvertJobSettings,
    zarr_format: int = 3,
    n_parts: int = 1,
) -> tuple[
    list[Grid],
    dict[str, dict[int, ShardSpec | V2Spec]],
    dict[str, str],
    list[tuple[int, int]],
]:
    """Probe every tile driver-side, create its stores (Zarr v3, or v2
    with ``zarr_format=2``), and plan the global source-read pass, one
    ``Grid`` per converting (tile, level): every level in translate
    mode, level 0 in compute mode (whose deeper levels the passes
    derive, planned for ``n_parts`` writer ranges).
    Returns (grids, specs per tile, quarantined tiles,
    ``pyramid_passes``). The third map is empty unless
    on_corrupt="quarantine" skipped tiles whose open OR metadata probe
    failed driver-side; the passes are empty when translating. A v2
    store copies the source's own levels and cannot sit beside a v3
    level (the writers read zarr.json first): either case, or a format
    other than 2 or 3, raises ``ValueError`` before anything is
    written."""
    if zarr_format not in (2, 3):
        raise ValueError(f"zarr_format must be 2 or 3, not {zarr_format}")
    if zarr_format == 2 and not settings.translate_pyramid:
        raise ValueError(
            "Zarr v2 output copies the source's own levels; a computed "
            "pyramid (translate_pyramid=False) is not supported"
        )
    all_specs: dict[str, dict[int, ShardSpec | V2Spec]] = {}
    quarantined: dict[str, str] = {}
    probed = []
    for src_path, store in tiles:
        src = None
        try:
            # The whole metadata probe sits inside the quarantine
            # boundary: a tile can open (intact superblock) yet raise on
            # shape/dtype/extent attributes — either way there is no
            # group grid to build, so the tile is skipped, not the job.
            src = open_source(src_path)
            shapes = _level_shapes(settings, src.meta)
            specs = _level_specs(settings, shapes, src.meta.dtype, zarr_format)
        except Exception as exc:  # noqa: BLE001 — quarantine boundary
            if settings.on_corrupt != "quarantine":
                raise
            # open may succeed and a later probe raise — close the
            # handle so a quarantined tile doesn't leak a driver fd.
            if src is not None:
                try:
                    src.close()
                except Exception:  # noqa: BLE001 — best-effort cleanup
                    pass
            quarantined[src_path] = f"open: {type(exc).__name__}: {exc}"
            continue
        src.close()
        all_specs[src_path] = specs
        attrs = multiscales_metadata(
            name=src_path.rsplit("/", 1)[-1],
            voxel_zyx=src.meta.voxel_size,
            level_factors_zyx=_level_factors(settings, shapes),
            origin_zyx=src.meta.origin,
            method=settings.downsample_mode,
        )
        probed.append((src_path, store, attrs))
    write_array, write_group = write_array_metadata, write_group_metadata
    if zarr_format == 2:
        for src_path, store, _ in probed:
            for lvl in all_specs[src_path]:
                if kv_get(kv_join(store, str(lvl), "zarr.json")) is not None:
                    raise ValueError(
                        f"{store} already holds a Zarr v3 level {lvl}; "
                        "write the v2 store to a fresh location"
                    )
        write_array, write_group = write_v2_array_metadata, write_v2_group
    for src_path, store, attrs in probed:
        # Every level's layout before any task runs: it is the only
        # layout the writers read (``_LevelSpecs``).
        for lvl, spec in all_specs[src_path].items():
            write_array(store, lvl, spec)
        write_group(store, attrs)
    if settings.translate_pyramid:
        grids = [
            _grid(src_path, store, all_specs[src_path], lvl, lvl, settings)
            for src_path, store in tiles
            for lvl in all_specs.get(src_path, {})
        ]
        return grids, all_specs, quarantined, []

    passes = pyramid_passes(all_specs, settings, n_parts)
    depth = passes[0][1] if passes else 1
    grids = _pass_grids(tiles, all_specs, 0, depth, settings)
    return grids, all_specs, quarantined, passes


def build_global_tasks(
    spark: SparkSession,
    tiles: list[tuple[str, str]],
    settings: ConvertJobSettings,
) -> tuple[DataFrame, dict[str, dict[int, ShardSpec]], dict[str, str]]:
    """``plan_global_tasks``'s groups as a TASK_SCHEMA DataFrame, with its
    specs and quarantined tiles: one row per shard (or v2 chunk),
    row-major per (tile, level), keyed by its group. Only perfbench's
    traced replay reads these rows; conversions run the unit plan."""
    grids, all_specs, quarantined, _ = plan_global_tasks(tiles, settings)
    rows = [
        (
            g.tile_path, g.store, g.level, *cell,
            f"{g.tile_path},{g.level},"
            + ",".join(str(i * b // n) for i, b, n in
                       zip(cell, g.block, g.group)),
        )
        for g in grids
        for cell in shard_grid(g.dims, g.block)
    ]
    return spark.createDataFrame(rows, TASK_SCHEMA), all_specs, quarantined


def _test_straggler_hook() -> None:
    """Test-only seam for the speculation integration test
    (``tests/test_speculation.py``): when
    ``SPARK_GRAFT_TEST_STRAGGLER_MS`` is set in the EXECUTOR env, every
    writer task logs ``<partitionId>_<attemptNumber>`` into
    ``SPARK_GRAFT_TEST_ATTEMPT_DIR`` and the (partition 0, attempt 0)
    task stalls that many ms before doing its writes — so a speculative
    duplicate attempt demonstrably runs, races the original on the SAME
    shard keys, and the store must come out byte-identical (the
    tmp+os.replace puts in ``kvstore`` are what make that safe). A
    single getenv no-op in production."""
    import os

    ms = os.environ.get("SPARK_GRAFT_TEST_STRAGGLER_MS")
    if not ms:
        return
    from pyspark import TaskContext

    tc = TaskContext.get()
    if tc is None:
        return
    log_dir = os.environ.get("SPARK_GRAFT_TEST_ATTEMPT_DIR")
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)
        marker = f"{tc.partitionId()}_{tc.attemptNumber()}"
        open(os.path.join(log_dir, marker), "w").close()
    if tc.partitionId() == 0 and tc.attemptNumber() == 0:
        time.sleep(float(ms) / 1000.0)


class _GlobalWriter:
    """The one pyramid writer. It takes a partition's units, each
    ``(grid, box)`` (``iter_units``), and reads each superchunk group
    into one region with ``pipeline._read_group`` — from the source, or
    with ``from_store`` from the pass's base level in the store. It
    walks a group's shards with ``format.grid_cells`` over the box and
    the level's block from the store's zarr.json (a v2 level's chunk
    from its .zarray): a source-read group writes each shard's
    ``region[outer]``; a store-read group writes no level-``base`` shard
    (the pass before wrote it).

    With ``cascade`` set to ``(factor, mode)``, a unit is the footprint
    of one block of the pass's last level (``Grid.blocks``). The writer
    builds that block from its children in tree order: each child, a
    group at the base level or a block one level down built the same
    way, is reduced with ``downsample_block`` into its place in the
    block, and once the block is complete each of its shards is written.
    So a task holds at most one group region plus one block per in-task
    level. It yields one DataFrame of stats rows per unit. Sources are
    cached per call.

    With ``quarantine`` (settings.on_corrupt="quarantine"): a tile that
    fails to open, or a source read that fails, yields per-shard ERROR
    rows — a poison-pill tile cannot abort the other tiles'
    conversion. The open failure is cached per tile so a corrupt tile is
    probed once per partition, not once per superchunk group. A failed
    shard holds fill_value in the group's region, so the cascade reduces
    the voxels a store read of the withheld shard returns.

    A module-level CLASS (not a closure factory) so cloudpickle ships
    instances by class reference + state: workers re-import this module
    and resolve ``open_source`` at call time, instead of baking the
    driver's globals (incl. test monkeypatches) into the pickle."""

    def __init__(
        self,
        quarantine: bool = False,
        cascade: tuple[tuple[int, int, int], str] | None = None,
        from_store: bool = False,
    ):
        self.quarantine = quarantine
        self.cascade = cascade
        self.from_store = from_store

    def __call__(
        self, units: Iterable[tuple[Grid, tuple]]
    ) -> Iterator[pd.DataFrame]:
        _test_straggler_hook()
        quarantine = self.quarantine
        # An open source per tile, or the message its open failed with.
        sources: dict[str, object] = {}
        specs = _LevelSpecs()

        def read(tile_path, store, level, z0, z1, y0, y1, x0, x1):
            if self.from_store:
                zyx = (slice(z0, z1), slice(y0, y1), slice(x0, x1))
                return read_array_region(
                    store, level, (slice(0, 1), slice(0, 1), *zyx),
                    specs[store, level],
                )[0, 0]
            if tile_path not in sources:
                try:
                    sources[tile_path] = open_source(tile_path)
                except Exception as exc:  # noqa: BLE001 — quarantine
                    if not quarantine:
                        raise
                    sources[tile_path] = f"open: {type(exc).__name__}: {exc}"
            src = sources[tile_path]
            if isinstance(src, str):  # cached open failure for this tile
                return src
            try:
                return src.read_block(level, z0, z1, y0, y1, x0, x1)
            except Exception as exc:  # noqa: BLE001 — quarantine
                if not quarantine:
                    raise
                return f"read: {type(exc).__name__}: {exc}"

        n_err: dict[str, int] = {}

        def build(grid, level, box, rows):
            """Level ``level``'s voxels over ``box``: at the pass's base
            level one group read into one region, deeper a block reduced
            from its children in turn; then every shard a source read or
            a reduce made is written."""
            spec = specs[grid.store, level]
            cells = list(
                grid_cells(box[0::2], box[1::2], spec.shard_shape[2:])
            )
            t0 = time.monotonic()
            if level == grid.level:
                out, failed = _read_group(
                    box, cells,
                    partial(read, grid.tile_path, grid.store, level), spec,
                )
                tile = grid.tile_path
                sec = (time.monotonic() - t0) / len(cells)
            else:
                factor, mode = self.cascade
                child = (grid.group, *grid.blocks)[level - grid.level - 1]
                dims = specs[grid.store, level - 1].shape[2:]
                lo = [a * f for a, f in zip(box[0::2], factor)]
                hi = [
                    min(e * f, d) for e, f, d in zip(box[1::2], factor, dims)
                ]
                out = np.empty(
                    [e - a for a, e in zip(box[0::2], box[1::2])],
                    dtype=spec.np_dtype,
                )
                for _, _, o in grid_cells(lo, hi, child):
                    red = downsample_block(
                        build(grid, level - 1, tuple(
                            v for a, s in zip(lo, o)
                            for v in (a + s.start, a + s.stop)
                        ), rows),
                        factor, mode,
                    )
                    out[tuple(
                        slice(s.start // f, s.start // f + n)
                        for s, f, n in zip(o, factor, red.shape)
                    )] = red
                # No tile on a computed level's rows: each such level is
                # one stage across every tile.
                failed, tile, sec = {}, None, 0.0
            for idx, _, outer in cells:
                if idx in failed:
                    # Message detail capped PER TILE (the final agg also
                    # groups by tile_path) so one fully-corrupt tile
                    # cannot blank another tile's locator samples; the
                    # count stays exact regardless.
                    n = n_err[tile] = n_err.get(tile, 0) + 1
                    msg = failed[idx] if n <= ERROR_SAMPLE_CAP else ""
                    rows.append((tile, level, *idx, 0, 0, sec, msg))
                elif level > grid.level or not self.from_store:
                    t0 = time.monotonic()
                    shard = out[outer]
                    nbytes = _put_shard(grid.store, level, *idx, shard, spec)
                    rows.append((
                        tile, level, *idx, shard.nbytes, nbytes,
                        sec + time.monotonic() - t0, None,
                    ))
            return out

        for grid, box in units:
            rows: list[tuple] = []
            # A unit is the footprint of one block of the pass's last
            # level.
            k = len(grid.blocks)
            scale = [f ** k for f in self.cascade[0]] if k else [1, 1, 1]
            build(grid, grid.level + k, tuple(
                v for a, e, m in zip(box[0::2], box[1::2], scale)
                for v in (a // m, -(-e // m))
            ), rows)
            yield pd.DataFrame(rows, columns=WRITER_COLS)
        for s in sources.values():
            if not isinstance(s, str):
                s.close()


def _run_pass(spark: SparkSession, feed: _PartitionFeed) -> list:
    """``feed`` — a pass's unit plan, its cut and its writer — as one
    Spark action: every conversion action runs here; returns the
    collected stage stats, per tile without a cascade and per (tile,
    level) with one.

    One Spark partition per range of the cut, with no Exchange in front
    of the writer; the plan ships inside the feed. Every level the pass
    computes is written inside the writer tasks, so a pass's job count
    is fixed whatever the tile count or depth."""
    n_parts = len(feed.bounds) - 1
    keys = ("tile_path", "level") if feed.writer.cascade else ("tile_path",)
    return (
        spark.range(n_parts, numPartitions=n_parts)
        .mapInPandas(feed, WRITER_SCHEMA)
        .groupBy(*keys)
        .agg(*stage_agg_exprs())
        .collect()
    )


def convert_tiles_to_zarr(
    spark: SparkSession,
    tiles: list[tuple[str, str]],
    settings: ConvertJobSettings,
    partition_to_process: int | None = None,
    num_partitions: int | None = None,
    zarr_format: int = 3,
) -> dict:
    """Convert many tiles in ONE Spark action per pyramid pass (global
    shard scheduling), into Zarr v3 stores or, with ``zarr_format=2``,
    v2 stores of the source's own levels.

    ``partition_to_process``/``num_partitions`` run subset ``p`` of
    ``N`` (``0 <= p < N``, else ``ValueError``): the ``p``-th ``cut``
    of the plan's group order into ``N`` voxel-balanced ranges of whole
    superchunk groups — the Spark twin of the reference's SLURM-array
    partition protocol (imaris_job.py:35-46, env var per array task).
    Inside one cluster Spark schedules everything itself; the subset
    exists for resumable / partial / multi-cluster runs, and re-running
    any subset is safe because shard writes are idempotent. The N
    subsets are disjoint and together write every shard. Subsets were
    once a round-robin over sorted shard rows, so a given subset now
    writes other shards: finish a subset run with the version that
    started it.

    Subsetting composes with TRANSLATE mode only: a computed pyramid
    needs every level-0 group (and a later pass reads its base level
    back from the store), so a partial level 0 would silently bake
    fill-value zeros into the pyramid.
    """
    if partition_to_process is not None and not (
        num_partitions and 0 <= partition_to_process < num_partitions
    ):
        raise ValueError(
            f"partition_to_process={partition_to_process} is not in "
            f"[0, num_partitions={num_partitions})"
        )
    if partition_to_process is not None and not settings.translate_pyramid:
        raise ValueError(
            "partition subsetting requires translate_pyramid=True; run the "
            "compute-pyramid stage once after all partitions complete"
        )
    n_parts = max(
        spark.sparkContext.defaultParallelism * settings.tasks_per_cpu, 1
    )
    grids, all_specs, quarantined_tiles, passes = plan_global_tasks(
        tiles, settings, zarr_format, n_parts
    )
    quarantine = settings.on_corrupt == "quarantine"
    pass_levels = [[base, base + depth - 1] for base, depth in passes]
    stats = []
    # The first pass reads the source (every level when translating, no
    # cascade for a one-level pyramid); each later one level ``base``
    # back from the store, written by the pass before it.
    for i, (base, depth) in enumerate(passes or [(0, 1)]):
        if i:
            grids = _pass_grids(tiles, all_specs, base, depth, settings)
        offsets = unit_offsets(grids)
        lo, hi = 0, len(offsets) - 1
        if partition_to_process is not None:
            lo, hi = cut(offsets, lo, hi, num_partitions)[
                partition_to_process : partition_to_process + 2
            ]
        if lo == hi:  # every tile quarantined, or an empty subset
            continue
        cascade = (
            (settings.scale_factor, settings.downsample_mode)
            if depth > 1
            else None
        )
        writer = _GlobalWriter(quarantine, cascade, from_store=i > 0)
        bounds = cut(offsets, lo, hi, n_parts)
        stats += _run_pass(spark, _PartitionFeed(grids, bounds, writer))
    # Per tile: the source-read stage (level 0, or every level when
    # translating); each computed level one stage across every tile.
    per_tile, stages = {}, []
    for r in stats:
        d = stage_dict(r)
        if d.get("level"):
            del d["tile_path"]
            stages.append(d)
        else:
            d.pop("level", None)
            per_tile[d["tile_path"]] = d
    stages.sort(key=lambda d: d["level"])
    result = {
        # n_tiles counts CONVERTED tiles — it must agree with the
        # per-tile map a consumer iterates; driver-quarantined tiles are
        # reported separately via n_quarantined_tiles.
        "n_tiles": len(tiles) - len(quarantined_tiles),
        "n_quarantined_tiles": len(quarantined_tiles),
        "n_shards": sum(r["n_shards"] for r in per_tile.values()),
        "bytes_read": sum(r["bytes_read"] for r in per_tile.values()),
        "bytes_written": sum(r["bytes_written"] for r in per_tile.values()),
        "tiles": per_tile,
        # Each converted tile's level shapes (z, y, x), from the plan.
        "shapes": {
            path: [spec.shape[2:] for spec in specs.values()]
            for path, specs in all_specs.items()
        },
    }
    n_errors = sum(r["n_errors"] for r in per_tile.values())
    if quarantine or n_errors or quarantined_tiles:
        result["n_errors"] = n_errors
        result["quarantined_tiles"] = quarantined_tiles
    if not settings.translate_pyramid:
        result["downsample_stages"] = stages
        result["pyramid_plan"] = (
            "cascade_passes" if len(passes) > 1 else "fused_cascade"
        )
        result["pyramid_passes"] = pass_levels
    return result
