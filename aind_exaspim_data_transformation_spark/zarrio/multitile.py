"""Multi-tile conversion: one GLOBAL shard-task plan across all tiles
(the reference's partition_mode='shard', imaris_job.py:535-647; its
'file' mode is the same plan over one tile, so there is only this one).

Every task row names its write (source path, store, level, slice bounds,
superchunk key); the level's layout (shapes, dtype, codec) lives only in
the store's own zarr.json — or, for a Zarr v2 store, its ``.zarray`` —
which the driver writes before any task runs. The driver puts whole
superchunk groups into Spark partitions itself (``assign_groups``,
balanced by voxels — the deterministic host-side split of the
reference's imaris_job.py:35-46, across every tile) and ``_run_pass``
hands each writer task its partition's groups whole, so no Spark job
moves rows the driver already holds and the writer never regroups
them; it reads each group into one region (``pipeline._read_group``).
``pipeline.convert_to_zarr`` is the one-tile call. Zarr v2 is a layout
choice of the one planner
(``plan_global_tasks(..., zarr_format=2)``): the same probe, metadata
writes and task rows, one row per v2 chunk, and the same writer.

A computed pyramid has one kernel, the fused cascade: the source writer
reduces each superchunk group recursively and ships per-level partials
through one shuffle to the assembler, which writes the deeper levels.
When a window-aligned group of the full depth would exceed
``pipeline.CASCADE_MAX_GROUP_BYTES``, the cascade runs in passes
(``pyramid_passes``): each later pass reads its base level back from
the store and cascades the next levels. One-step passes are the
reference's sequential level-by-level pyramid
(compress/imaris_to_zarr.py:677-799) as a special case.

At 100 TB: ~45k coordinate rows per 6 TB tile, ~1M rows per dataset —
trivially plannable; payloads never enter the DataFrame.
"""

from __future__ import annotations

import heapq
import logging
import math
import time
from collections import namedtuple
from collections.abc import Iterator

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
    _group_bbox,
    _level_factors,
    _level_shapes,
    _level_specs,
    _put_shard,
    _read_group,
    _row_slices,
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

#: One row per shard (or v2 chunk) read, for every stage: the
#: source-read stage (level 0, or every level when translating, v2
#: included) and the base level of each later cascade pass. Rows are
#: store-routed, so ONE Spark action covers a stage across EVERY tile;
#: rows sharing a ``superchunk`` key always run in one task.
TASK_SCHEMA = (
    "tile_path string, store string, level int, "
    "iz int, iy int, ix int, "
    "z0 int, z1 int, y0 int, y1 int, x0 int, x1 int, "
    "superchunk string"
)
TASK_COLS = [f.split()[0] for f in TASK_SCHEMA.split(", ")]
#: A task row with named fields, as the writer reads it; the plan and
#: its broadcast keep plain tuples.
Task = namedtuple("Task", TASK_COLS)

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


def _stats_row(row, nread, nwritten, elapsed, error=None) -> tuple:
    """The WRITER_SCHEMA 'stats' row of task or part ``row``'s shard
    (the part columns null)."""
    return (
        "stats", row.tile_path, row.store, row.level, row.iz, row.iy,
        row.ix, nread, nwritten, elapsed, error, *(None,) * 7,
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


def _pass_rows(
    tiles: list[tuple[str, str]],
    all_specs: dict[str, dict[int, ShardSpec]],
    base: int,
    depth: int,
    settings: ConvertJobSettings,
) -> list[tuple]:
    """Every converting tile's level-``base`` TASK_SCHEMA rows for a
    pass of ``depth`` levels, grouped window-aligned through the pass
    (``_pass_multiple`` without the cap: ``pyramid_passes`` checked it,
    and a one-step pass runs whatever its group size)."""
    rows: list[tuple] = []
    for src_path, store in tiles:
        specs = all_specs.get(src_path)
        if specs is None:  # quarantined at the driver probe
            continue
        spec = specs[base]
        key_m = (
            _pass_multiple(spec, base, depth, settings, math.inf)
            or settings.superchunk_multiple
        )
        rows += _task_rows(
            src_path, store, base, spec.shape[2:], spec.shard_shape[2:],
            key_m,
        )
    return rows


def _cascade_parts(
    region: np.ndarray,
    row,
    origin: tuple[int, int, int],
    cascade: tuple[tuple[int, int, int], str, int],
    specs: _LevelSpecs,
) -> list[tuple]:
    """The fused cascade step of one group: reduce its ``region`` (at
    ``row``'s store and level, global origin ``origin``) recursively
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
    for lvl_to in range(row.level + 1, row.level + depth):
        red = downsample_block(red, factor, mode)
        origin = tuple(o // f for o, f in zip(origin, factor))
        end = tuple(o + n for o, n in zip(origin, red.shape))
        cs = specs[row.store, lvl_to].shard_shape[2:]
        for idx, inner, outer in grid_cells(origin, end, cs):
            piece = red[outer]
            out.append((
                "part", None, row.store, lvl_to, *idx, *(None,) * 4,
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
            [_stats_row(first, nread, nbytes, time.monotonic() - t0)],
            columns=WRITER_COLS,
        )

    return assemble


def _task_rows(
    src_path: str,
    store: str,
    lvl: int,
    shape: tuple[int, int, int],
    block: tuple[int, int, int],
    key_m: tuple[int, int, int],
) -> list[tuple]:
    """One tile's level-``lvl`` TASK_SCHEMA rows, one per ``block`` (a
    shard, or a v2 chunk) of ``format.shard_grid`` over ``shape``; the
    superchunk key groups ``key_m`` blocks per axis."""
    return [
        (
            src_path,
            store,
            lvl,
            *cell,
            f"{src_path},{lvl},{cell[0] // key_m[0]},"
            f"{cell[1] // key_m[1]},{cell[2] // key_m[2]}",
        )
        for cell in shard_grid(shape, block)
    ]


def _voxels(rows: list[tuple]) -> int:
    """Voxels the TASK_SCHEMA ``rows`` write: the work they stand for."""
    return sum(
        (r[7] - r[6]) * (r[9] - r[8]) * (r[11] - r[10]) for r in rows
    )


def assign_groups(
    rows: list[tuple], n_parts: int
) -> list[list[list[tuple]]]:
    """Put the TASK_SCHEMA ``rows`` into ``n_parts`` partitions, each a
    list of whole superchunk groups (a group is a list of rows): largest
    group first, each onto the least-loaded partition (lowest index on a
    tie), load counted in voxels. So no group spans partitions, the same
    rows always give the same assignment (a retried or speculative task
    gets the same rows), and no partition carries more than the mean
    load plus the largest group. With fewer groups than ``n_parts`` some
    partitions stay empty."""
    groups: dict[str, list[tuple]] = {}
    for r in rows:
        groups.setdefault(r[12], []).append(r)
    parts: list[list[list[tuple]]] = [[] for _ in range(n_parts)]
    loads = [(0, p) for p in range(n_parts)]
    for grp in sorted(groups.values(), key=_voxels, reverse=True):
        load, p = heapq.heappop(loads)
        parts[p].append(grp)
        heapq.heappush(loads, (load + _voxels(grp), p))
    return parts


class _PartitionFeed:
    """mapInPandas body over ``spark.range(n)``: the task holding id
    ``p`` hands ``writer`` partition ``p``'s superchunk groups (an empty
    partition yields nothing). The groups arrive as a broadcast, which a
    reused Python worker unpickles once, not once per task."""

    def __init__(self, parts, writer):
        self.parts = parts
        self.writer = writer

    def __call__(
        self, batches: Iterator[pd.DataFrame]
    ) -> Iterator[pd.DataFrame]:
        for ids in batches:
            for p in ids["id"]:
                groups = self.parts.value[p]
                if groups:
                    yield from self.writer(groups)


def plan_global_tasks(
    tiles: list[tuple[str, str]],
    settings: ConvertJobSettings,
    zarr_format: int = 3,
) -> tuple[
    list[tuple],
    dict[str, dict[int, ShardSpec | V2Spec]],
    dict[str, str],
    list[tuple[int, int]],
]:
    """Probe every tile driver-side, create its stores (Zarr v3, or v2
    with ``zarr_format=2``), and list the global source-read task rows:
    every level in translate mode, level 0 in compute mode (whose deeper
    levels the cascade passes derive).
    Returns (TASK_SCHEMA rows, specs per tile, quarantined tiles,
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
            # task grid to build, so the tile is skipped, not the job.
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
    rows: list[tuple] = []
    passes: list[tuple[int, int]] = []
    if settings.translate_pyramid:
        for src_path, store in tiles:
            for lvl, spec in all_specs.get(src_path, {}).items():
                rows += _task_rows(
                    src_path, store, lvl, spec.shape[2:],
                    spec.shard_shape[2:], settings.superchunk_multiple,
                )
    else:
        # Compute-pyramid tiles group by the first pass's window-aligned
        # cascade grid (identical to the plain superchunk grid for
        # factor-divisible shards), so the cascade's group-level reduce
        # stays exact for any shard shape.
        passes = pyramid_passes(all_specs, settings)
        depth = passes[0][1] if passes else 1
        rows = _pass_rows(tiles, all_specs, 0, depth, settings)
    return rows, all_specs, quarantined, passes


def build_global_tasks(
    spark: SparkSession,
    tiles: list[tuple[str, str]],
    settings: ConvertJobSettings,
) -> tuple[DataFrame, dict[str, dict[int, ShardSpec]], dict[str, str]]:
    """``plan_global_tasks``'s rows as a TASK_SCHEMA DataFrame, with its
    specs and quarantined tiles."""
    rows, all_specs, quarantined, _ = plan_global_tasks(tiles, settings)
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
    """The one pyramid writer. It takes a partition's superchunk groups
    (the key embeds tile_path and level, so groups never span tiles) and
    reads each into one region with ``pipeline._read_group`` — from the
    source, or with ``from_store`` from the pass's base level in the
    store. A source-read group writes each row's shard out of that
    region with the level's spec from the store's zarr.json (a v2
    level's from its .zarray, each task row one chunk); a store-read
    group writes no level-``base`` shard (the pass before wrote it).
    With ``cascade`` set to ``(factor, mode, depth)`` it reduces the
    region through the next ``depth - 1`` levels and emits them as
    'part' rows (``_cascade_parts``). It yields one DataFrame per group,
    so a task never holds more than one group's region and parts.
    Sources are cached per call.

    With ``quarantine`` (settings.on_corrupt="quarantine"): a tile that
    fails to open, or a source read that fails, yields per-shard ERROR
    rows — a poison-pill tile cannot abort the other tiles'
    conversion. The open failure is cached per tile so a corrupt tile is
    probed once per partition, not once per superchunk group. A failed
    row holds fill_value in the group's region, so the cascade reduces
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

    def __call__(self, groups: list[list[tuple]]) -> Iterator[pd.DataFrame]:
        _test_straggler_hook()
        quarantine, cascade = self.quarantine, self.cascade
        sources: dict[str, object] = {}
        # Failure message per failed row, and per tile for an open.
        errors: dict = {}
        specs = _LevelSpecs()

        def store_read(row, z0, z1, y0, y1, x0, x1):
            return read_array_region(
                row.store,
                row.level,
                (slice(0, 1), slice(0, 1), slice(z0, z1), slice(y0, y1),
                 slice(x0, x1)),
                specs[row.store, row.level],
            )[0, 0]

        def source_read(row, z0, z1, y0, y1, x0, x1):
            if row.tile_path not in sources:
                try:
                    sources[row.tile_path] = open_source(row.tile_path)
                except Exception as exc:  # noqa: BLE001 — quarantine
                    if not quarantine:
                        raise
                    sources[row.tile_path] = None
                    errors[row.tile_path] = (
                        f"open: {type(exc).__name__}: {exc}"
                    )
            src = sources[row.tile_path]
            if src is None:  # cached open failure for this tile
                errors[row] = errors[row.tile_path]
                return None
            try:
                return src.read_block(row.level, z0, z1, y0, y1, x0, x1)
            except Exception as exc:  # noqa: BLE001 — quarantine
                if not quarantine:
                    raise
                errors[row] = f"read: {type(exc).__name__}: {exc}"
                return None

        read = store_read if self.from_store else source_read
        n_err: dict[str, int] = {}
        for group in groups:
            rows = [Task._make(r) for r in group]
            if cascade is not None and not _group_bbox(rows)[1]:
                raise RuntimeError(
                    "fused cascade saw an incomplete superchunk "
                    f"group ({len(rows)} rows, key "
                    f"{rows[0].superchunk!r}) — compute-pyramid runs "
                    "enumerate full groups, so this indicates a "
                    "partitioning bug"
                )
            spec = specs[rows[0].store, rows[0].level]
            t0 = time.monotonic()
            box, region, failed = _read_group(rows, read, spec)
            read_sec = (time.monotonic() - t0) / len(rows)
            out = []
            for row in rows:
                if row in failed:
                    # Message detail capped PER TILE (the final agg also
                    # groups by tile_path) so one fully-corrupt tile
                    # cannot blank another tile's locator samples; the
                    # count stays exact regardless.
                    n = n_err[row.tile_path] = (
                        n_err.get(row.tile_path, 0) + 1
                    )
                    msg = (
                        errors.get(row, "read: unknown error")
                        if n <= ERROR_SAMPLE_CAP
                        else ""
                    )
                    out.append(_stats_row(row, 0, 0, read_sec, msg))
                elif not self.from_store:
                    block = region[_row_slices(row, box)]
                    t0 = time.monotonic()
                    nbytes = _put_shard(
                        row.store, row.level, row.iz, row.iy, row.ix,
                        block, spec,
                    )
                    out.append(
                        _stats_row(
                            row, block.nbytes, nbytes,
                            read_sec + time.monotonic() - t0,
                        )
                    )
            if cascade is not None:
                out += _cascade_parts(
                    region, rows[0], box[0::2], cascade, specs
                )
            yield pd.DataFrame(out, columns=WRITER_COLS)
        for s in sources.values():
            if s is not None:
                s.close()


def _run_pass(
    spark: SparkSession,
    rows: list[tuple],
    tasks_per_cpu: int,
    writer: _GlobalWriter,
) -> list:
    """``writer`` over the TASK_SCHEMA ``rows`` as one Spark action —
    every conversion action runs here; returns the collected stage
    stats, per tile without a cascade and per (tile, level) with one.

    The driver splits the rows into ``tasks_per_cpu`` partitions per
    default-parallelism slot, whole superchunk groups each
    (``assign_groups``), with no Exchange in front of the writer; the
    groups ship as one broadcast of plain tuples, destroyed once the
    action has run. A cascade's 'part' rows go through ONE
    shuffle to ``_make_global_assembler``, which writes the pass's
    deeper levels of every tile, so a pass's job count is fixed
    whatever the tile count or depth."""
    n_parts = max(spark.sparkContext.defaultParallelism * tasks_per_cpu, 1)
    bc = spark.sparkContext.broadcast(assign_groups(rows, n_parts))
    try:
        written = spark.range(n_parts, numPartitions=n_parts).mapInPandas(
            _PartitionFeed(bc, writer), WRITER_SCHEMA
        )
        if writer.cascade is None:
            return (
                written.groupBy("tile_path").agg(*stage_agg_exprs()).collect()
            )
        assembled = written.groupBy(
            "kind", "store", "level", "iz", "iy", "ix"
        ).applyInPandas(_make_global_assembler(), WRITER_SCHEMA)
        # Assembly is CPU-bound per group while its shuffled bytes are
        # tiny, so size-based AQE coalescing would serialize it.
        coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = spark.conf.get(coalesce_key, "true")
        spark.conf.set(coalesce_key, "false")
        try:
            return (
                assembled.groupBy("tile_path", "level")
                .agg(*stage_agg_exprs())
                .collect()
            )
        finally:
            spark.conf.set(coalesce_key, prev)
    finally:
        bc.destroy()


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

    ``partition_to_process``/``num_partitions`` subset the global task
    list deterministically (row-major order, round-robin) — the Spark
    twin of the reference's SLURM-array partition protocol
    (imaris_job.py:35-46, env var per array task). Inside one cluster
    Spark schedules everything itself; the subset exists for resumable /
    partial / multi-cluster runs, and re-running any subset is safe
    because shard writes are idempotent.

    Subsetting composes with TRANSLATE mode only: a computed pyramid
    needs every level-0 group whole (and a later pass reads its base
    level back from the store), so a partial level 0 would silently
    bake fill-value zeros into the pyramid.
    """
    if partition_to_process is not None and not settings.translate_pyramid:
        raise ValueError(
            "partition subsetting requires translate_pyramid=True; run the "
            "compute-pyramid stage once after all partitions complete"
        )
    tasks, all_specs, quarantined_tiles, passes = plan_global_tasks(
        tiles, settings, zarr_format
    )
    quarantine = settings.on_corrupt == "quarantine"
    if partition_to_process is not None and num_partitions:
        tasks = sorted(tasks, key=lambda r: (r[0], *r[2:6]))[
            partition_to_process::num_partitions
        ]
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
            tasks = _pass_rows(tiles, all_specs, base, depth, settings)
        if not tasks:  # every tile quarantined, or an empty subset
            continue
        cascade = (
            (settings.scale_factor, settings.downsample_mode, depth)
            if depth > 1
            else None
        )
        stats += _run_pass(
            spark, tasks, settings.tasks_per_cpu,
            _GlobalWriter(quarantine, cascade, from_store=i > 0),
        )
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
