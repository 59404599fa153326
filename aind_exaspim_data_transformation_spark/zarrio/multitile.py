"""Multi-tile conversion: one GLOBAL plan of superchunk groups across
all tiles (the reference's partition_mode='shard',
imaris_job.py:535-647; its 'file' mode is the same plan over one tile,
so there is only this one).

A pass's plan is one ``Grid`` of superchunk groups per converting
(tile, level); the level's layout (shapes, dtype, codec) lives only in
the store's own zarr.json — or, for a Zarr v2 store, its ``.zarray`` —
which the driver writes before any task runs. The driver cuts the one
group order into voxel-balanced ranges (``group_offsets`` and ``cut``:
the deterministic host-side split of the reference's
imaris_job.py:35-46, across every tile), and each writer task expands
only its own range (``iter_groups``) and reads each group into one
region (``pipeline._read_group``), so no shard list is built and no
Spark job moves data the driver holds. ``pipeline.convert_to_zarr`` is
the one-tile call. Zarr v2 is a layout choice of the one planner
(``plan_global_tasks(..., zarr_format=2)``): the same probe, metadata
writes and groups, of v2 chunks, and the same writer.

A computed pyramid has one kernel, the fused cascade: the source writer
reduces each superchunk group recursively and ships per-level partials
through one shuffle to the assembler, which writes the deeper levels.
When a window-aligned group of the full depth would exceed
``pipeline.CASCADE_MAX_GROUP_BYTES``, the cascade runs in passes
(``pyramid_passes``): each later pass reads its base level back from
the store and cascades the next levels. One-step passes are the
reference's sequential level-by-level pyramid
(compress/imaris_to_zarr.py:677-799) as a special case.

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
from .codecs import zstd_compress, zstd_decompress
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
#: x), its ``block`` (the shard, or a v2 level's chunk) and its
#: ``group`` extent, ``key_m`` x ``block``, in voxels. Its superchunk
#: groups are the cells of ``format.shard_grid(dims, group)``; a plan's
#: group order is its grids in list order, each row-major.
Grid = namedtuple("Grid", "tile_path store level dims block group")

#: One row per shard (or v2 chunk) of a plan, as ``build_global_tasks``
#: lists it for perfbench's traced replay; rows sharing a ``superchunk``
#: key are one group. The writers take the group plan, not these rows.
TASK_SCHEMA = (
    "tile_path string, store string, level int, "
    "iz int, iy int, ix int, "
    "z0 int, z1 int, y0 int, y1 int, x0 int, x1 int, "
    "superchunk string"
)

#: The one writer-row schema. 'stats' rows are per-shard write records
#: (``error`` set on a quarantined shard, which was not written); 'part'
#: rows carry a cascade's compressed reduced piece routed to (store,
#: level, shard index), placed at (oz, oy, ox) with shape (sz, sy, sx).
WRITER_SCHEMA = (
    "kind string, tile_path string, store string, level int, "
    "iz int, iy int, ix int, "
    "bytes_read long, bytes_written long, elapsed double, error string, "
    "oz int, oy int, ox int, sz int, sy int, sx int, payload binary"
)
WRITER_COLS = [f.split()[0] for f in WRITER_SCHEMA.split(", ")]


def _stats_row(
    tile_path, store, level, idx, nread, nwritten, elapsed, error=None
) -> tuple:
    """The WRITER_SCHEMA 'stats' row of shard ``idx`` of (``store``,
    ``level``), read for ``tile_path`` (the part columns null)."""
    return (
        "stats", tile_path, store, level, *idx,
        nread, nwritten, elapsed, error, *(None,) * 7,
    )


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


def _pass_multiple(
    spec: ShardSpec,
    base: int,
    depth: int,
    settings: ConvertJobSettings,
    max_group_bytes: float | None = None,
) -> tuple[int, int, int] | None:
    """``pipeline.cascade_group_multiple`` for a pass that reads level
    ``base`` (``spec``) and cascades ``depth`` levels. The source pass
    groups from ``settings.superchunk_multiple``; a store pass from one
    shard, because a store read has nothing to coalesce."""
    sm = settings.superchunk_multiple if base == 0 else (1, 1, 1)
    return cascade_group_multiple(
        spec, settings.scale_factor, depth, sm, max_group_bytes
    )


def pyramid_passes(
    all_specs: dict[str, dict[int, ShardSpec]],
    settings: ConvertJobSettings,
) -> list[tuple[int, int]]:
    """The computed pyramid's cascade passes over the whole dataset,
    ``[(base, depth), ...]``: a pass reads level ``base`` (the source
    for the first pass, the store after it) and cascades ``depth``
    levels, ``base`` included. Each pass is as deep as every tile's
    window-aligned group allows within
    ``pipeline.CASCADE_MAX_GROUP_BYTES``; a one-step pass always runs,
    so the pyramid always completes. Empty when nothing is computed."""
    n_levels = max((len(s) for s in all_specs.values()), default=0)
    passes: list[tuple[int, int]] = []
    base = 0
    while base < n_levels - 1:
        depth = n_levels - base
        while depth > 2 and not all(
            _pass_multiple(specs[base], base, depth, settings) is not None
            for specs in all_specs.values()
        ):
            depth -= 1
        passes.append((base, depth))
        base += depth - 1
    return passes


def _grid(src_path: str, store: str, lvl: int, spec, key_m) -> Grid:
    """Level ``lvl`` of one tile as a plan entry: groups of ``key_m``
    blocks per axis over ``spec``'s shard (or v2 chunk) grid."""
    block = spec.shard_shape[2:]
    group = tuple(m * b for m, b in zip(key_m, block))
    return Grid(src_path, store, lvl, spec.shape[2:], block, group)


def _pass_grids(
    tiles: list[tuple[str, str]],
    all_specs: dict[str, dict[int, ShardSpec]],
    base: int,
    depth: int,
    settings: ConvertJobSettings,
) -> list[Grid]:
    """Every converting tile's level-``base`` grid for a pass of
    ``depth`` levels, grouped window-aligned through the pass
    (``_pass_multiple`` without the cap: ``pyramid_passes`` checked it,
    and a one-step pass runs whatever its group size)."""
    grids: list[Grid] = []
    for src_path, store in tiles:
        specs = all_specs.get(src_path)
        if specs is None:  # quarantined at the driver probe
            continue
        key_m = (
            _pass_multiple(specs[base], base, depth, settings, math.inf)
            or settings.superchunk_multiple
        )
        grids.append(_grid(src_path, store, base, specs[base], key_m))
    return grids


def group_offsets(grids: list[Grid]) -> np.ndarray:
    """The voxel offset of every group of ``grids`` in the plan's order,
    then the total: one cumsum over the groups' voxel counts, each the
    product of its extents clipped to the level's dims. No group is
    built."""
    sizes = [np.zeros(1, dtype=np.int64)]
    for g in grids:
        ez, ey, ex = (
            np.minimum(n, d - np.arange(0, d, n, dtype=np.int64))
            for d, n in zip(g.dims, g.group)
        )
        sizes.append((ez[:, None, None] * ey[:, None] * ex).ravel())
    return np.cumsum(np.concatenate(sizes))


def cut(offsets: np.ndarray, lo: int, hi: int, n: int) -> list[int]:
    """Cut groups ``[lo, hi)`` of a plan (``offsets`` from
    ``group_offsets``) into ``n`` contiguous ranges: the group whose
    first voxel sits at offset ``s`` of the range's ``T`` voxels goes to
    range ``s * n // T``. Returns the ``n + 1`` group indices where the
    ranges start, ``hi`` last. So no group spans ranges, the same plan
    always gives the same cut (a retried or speculative task gets the
    same groups), and no range carries more than ``T / n`` plus its
    largest group. With fewer groups than ``n`` some ranges are empty."""
    base = int(offsets[lo])
    span = int(offsets[hi]) - base
    firsts = np.searchsorted(
        offsets[lo:hi], [base + -(-p * span // n) for p in range(n)]
    )
    return [lo + int(i) for i in firsts] + [hi]


def iter_groups(
    grids: list[Grid], lo: int, hi: int
) -> Iterator[tuple[str, str, int, tuple[int, ...]]]:
    """Groups ``[lo, hi)`` of the plan's order, each as ``(tile_path,
    store, level, (z0, z1, y0, y1, x0, x1))``, computed from their index:
    nothing before ``lo`` is enumerated."""
    first = 0
    for g in grids:
        nz, ny, nx = (-(-d // n) for d, n in zip(g.dims, g.group))
        for k in range(max(lo - first, 0), min(hi - first, nz * ny * nx)):
            gz, rest = divmod(k, ny * nx)
            box: list[int] = []
            for i, d, n in zip((gz, *divmod(rest, nx)), g.dims, g.group):
                box += (i * n, min((i + 1) * n, d))
            yield g.tile_path, g.store, g.level, tuple(box)
        first += nz * ny * nx


def _cascade_parts(
    region: np.ndarray,
    store: str,
    level: int,
    origin: tuple[int, int, int],
    cascade: tuple[tuple[int, int, int], str, int],
    specs: _LevelSpecs,
) -> list[tuple]:
    """The fused cascade step of one group: reduce its ``region`` (at
    ``store`` and ``level``, global origin ``origin``) recursively
    through the pass's next ``depth - 1`` levels and emit 'part' rows
    routed to each level's shards. Reducing at group (not shard)
    granularity is what lifts the shard-alignment precondition: the
    group extent is chosen window-aligned through every level of the
    pass (`pipeline.cascade_group_multiple`), so ANY shard shape
    cascades exactly — per-window reduce results are independent of
    the block extent they are computed in, so group-level and
    shard-level reduces are byte-identical where both apply. Each
    piece's voxels are zstd-1 compressed for the shuffle, cutting the
    pandas->Arrow->UnsafeRow->shuffle copy chain to compressed size
    (in-flight data only; stored shard bytes are untouched)."""
    factor, mode, depth = cascade
    out = []
    red = region
    for lvl_to in range(level + 1, level + depth):
        red = downsample_block(red, factor, mode)
        origin = tuple(o // f for o, f in zip(origin, factor))
        end = tuple(o + n for o, n in zip(origin, red.shape))
        cs = specs[store, lvl_to].shard_shape[2:]
        for idx, inner, outer in grid_cells(origin, end, cs):
            piece = red[outer]
            out.append((
                "part", None, store, lvl_to, *idx, *(None,) * 4,
                *(s.start for s in inner), *piece.shape,
                zstd_compress(piece.tobytes(), 1),
            ))
    return out


def _make_global_assembler():
    """Grouped assembler for every cascade pass: each 'part' group
    is one (store, level, shard) — place pieces, encode with the
    store's own spec, write, emit a stats row. 'stats' groups pass
    through. Specs are cached per (store, level) across the groups of
    a task."""
    specs = _LevelSpecs()

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.iloc[0]["kind"] == "stats":
            return pdf
        t0 = time.monotonic()
        first = next(pdf.itertuples(index=False))
        store, lvl = first.store, int(first.level)
        iz, iy, ix = int(first.iz), int(first.iy), int(first.ix)
        spec = specs[store, lvl]
        cs = spec.shard_shape[2:]
        dims = spec.shape[2:]
        start = (iz * cs[0], iy * cs[1], ix * cs[2])
        valid = tuple(min(c, d - s) for c, d, s in zip(cs, dims, start))
        block = np.full(valid, spec.fill_value, dtype=spec.np_dtype)
        nread = 0
        for r in pdf.itertuples(index=False):
            # Uncompressed piece size: the reduced voxels this shard is
            # built from, not the zstd-1 bytes that crossed the shuffle.
            size = int(r.sz) * int(r.sy) * int(r.sx) * spec.np_dtype.itemsize
            piece = np.frombuffer(
                zstd_decompress(r.payload, size), dtype=spec.np_dtype
            ).reshape(r.sz, r.sy, r.sx)
            block[
                r.oz : r.oz + r.sz,
                r.oy : r.oy + r.sy,
                r.ox : r.ox + r.sx,
            ] = piece
            nread += size
        nbytes = _put_shard(store, lvl, iz, iy, ix, block, spec)
        return pd.DataFrame(
            [
                _stats_row(
                    first.tile_path, store, lvl, (iz, iy, ix), nread, nbytes,
                    time.monotonic() - t0,
                )
            ],
            columns=WRITER_COLS,
        )

    return assemble


class _PartitionFeed:
    """mapInPandas body over ``spark.range(n)``: the task holding id
    ``p`` hands ``writer`` groups ``bounds[p]:bounds[p + 1]`` of the
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
                    yield from self.writer(iter_groups(self.grids, lo, hi))


def plan_global_tasks(
    tiles: list[tuple[str, str]],
    settings: ConvertJobSettings,
    zarr_format: int = 3,
) -> tuple[
    list[Grid],
    dict[str, dict[int, ShardSpec | V2Spec]],
    dict[str, str],
    list[tuple[int, int]],
]:
    """Probe every tile driver-side, create its stores (Zarr v3, or v2
    with ``zarr_format=2``), and plan the global source-read pass, one
    ``Grid`` per converting (tile, level): every level in translate
    mode, level 0 in compute mode (whose deeper levels the cascade
    passes derive).
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
            _grid(src_path, store, lvl, spec, settings.superchunk_multiple)
            for src_path, store in tiles
            for lvl, spec in all_specs.get(src_path, {}).items()
        ]
        return grids, all_specs, quarantined, []

    # Compute-pyramid tiles group by the first pass's window-aligned
    # cascade grid (identical to the plain superchunk grid for
    # factor-divisible shards), so the cascade's group-level reduce
    # stays exact for any shard shape.
    passes = pyramid_passes(all_specs, settings)
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
    traced replay reads these rows; conversions run the group plan."""
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
    """The one pyramid writer. It takes a partition's superchunk groups,
    each ``(tile_path, store, level, box)``, and reads each into one
    region with ``pipeline._read_group`` — from the source, or with
    ``from_store`` from the pass's base level in the store. It walks the
    group's shards with ``format.grid_cells`` over the box and the
    level's block from the store's zarr.json (a v2 level's chunk from
    its .zarray): a source-read group writes each shard's
    ``region[outer]``; a store-read group writes no level-``base`` shard
    (the pass before wrote it). With ``cascade`` set to ``(factor, mode,
    depth)`` it reduces the region through the next ``depth - 1`` levels
    and emits them as 'part' rows (``_cascade_parts``). It yields one
    DataFrame per group, so a task never holds more than one group's
    region and parts. Sources are cached per call.

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
        cascade: tuple[tuple[int, int, int], str, int] | None = None,
        from_store: bool = False,
    ):
        self.quarantine = quarantine
        self.cascade = cascade
        self.from_store = from_store

    def __call__(self, groups: Iterable[tuple]) -> Iterator[pd.DataFrame]:
        _test_straggler_hook()
        quarantine, cascade = self.quarantine, self.cascade
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
        for tile_path, store, level, box in groups:
            spec = specs[store, level]
            cells = list(
                grid_cells(box[0::2], box[1::2], spec.shard_shape[2:])
            )
            t0 = time.monotonic()
            region, failed = _read_group(
                box, cells, partial(read, tile_path, store, level), spec
            )
            read_sec = (time.monotonic() - t0) / len(cells)
            out = []
            for idx, _, outer in cells:
                if idx in failed:
                    # Message detail capped PER TILE (the final agg also
                    # groups by tile_path) so one fully-corrupt tile
                    # cannot blank another tile's locator samples; the
                    # count stays exact regardless.
                    n = n_err[tile_path] = n_err.get(tile_path, 0) + 1
                    msg = failed[idx] if n <= ERROR_SAMPLE_CAP else ""
                    stats = (0, 0, read_sec, msg)
                elif self.from_store:
                    continue
                else:
                    block = region[outer]
                    t0 = time.monotonic()
                    nbytes = _put_shard(store, level, *idx, block, spec)
                    stats = (
                        block.nbytes, nbytes,
                        read_sec + time.monotonic() - t0,
                    )
                out.append(_stats_row(tile_path, store, level, idx, *stats))
            if cascade is not None:
                out += _cascade_parts(
                    region, store, level, box[0::2], cascade, specs
                )
            yield pd.DataFrame(out, columns=WRITER_COLS)
        for s in sources.values():
            if not isinstance(s, str):
                s.close()


def _run_pass(spark: SparkSession, feed: _PartitionFeed) -> list:
    """``feed`` — a pass's group plan, its cut and its writer — as one
    Spark action: every conversion action runs here; returns the
    collected stage stats, per tile without a cascade and per (tile,
    level) with one.

    One Spark partition per range of the cut, with no Exchange in front
    of the writer; the plan ships inside the feed. A cascade's 'part'
    rows go through ONE shuffle to ``_make_global_assembler``, which
    writes the pass's deeper levels of every tile, so a pass's job count
    is fixed whatever the tile count or depth."""
    n_parts = len(feed.bounds) - 1
    written = spark.range(n_parts, numPartitions=n_parts).mapInPandas(
        feed, WRITER_SCHEMA
    )
    if feed.writer.cascade is None:
        return written.groupBy("tile_path").agg(*stage_agg_exprs()).collect()
    # Assembly is CPU-bound per group while its shuffled bytes are
    # tiny, so size-based AQE coalescing would serialize it; AQE keeps
    # an explicit partition count, and the session's conf stays as is.
    keys = ("kind", "store", "level", "iz", "iy", "ix")
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        written.repartition(n, *keys)
        .groupBy(*keys)
        .applyInPandas(_make_global_assembler(), WRITER_SCHEMA)
        .groupBy("tile_path", "level")
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
    """Convert many tiles in ONE Spark action per cascade pass (global
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
    grids, all_specs, quarantined_tiles, passes = plan_global_tasks(
        tiles, settings, zarr_format
    )
    quarantine = settings.on_corrupt == "quarantine"
    n_parts = max(
        spark.sparkContext.defaultParallelism * settings.tasks_per_cpu, 1
    )
    pass_levels = [[base, base + depth - 1] for base, depth in passes]
    if len(passes) > 1:
        logging.getLogger(__name__).warning(
            "pyramid cascade runs in %d passes (levels %s): no "
            "window-aligned group of the full depth fits "
            "CASCADE_MAX_GROUP_BYTES=%d for every tile, so each later "
            "pass re-reads its base level from the store",
            len(passes), pass_levels, pipeline.CASCADE_MAX_GROUP_BYTES,
            extra={"pyramid_passes": pass_levels},
        )
    stats = []
    # The first pass reads the source (every level when translating, no
    # cascade for a one-level pyramid); each later one level ``base``
    # back from the store, written by the pass before it.
    for i, (base, depth) in enumerate(passes or [(0, 1)]):
        if i:
            grids = _pass_grids(tiles, all_specs, base, depth, settings)
        offsets = group_offsets(grids)
        lo, hi = 0, len(offsets) - 1
        if partition_to_process is not None:
            lo, hi = cut(offsets, lo, hi, num_partitions)[
                partition_to_process : partition_to_process + 2
            ]
        if lo == hi:  # every tile quarantined, or an empty subset
            continue
        cascade = (
            (settings.scale_factor, settings.downsample_mode, depth)
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
