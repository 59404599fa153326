"""Multi-tile conversion: one GLOBAL shard-task plan across all tiles
(the reference's partition_mode='shard', imaris_job.py:535-647; its
'file' mode is the same plan over one tile, so there is only this one).

Every task row names its write (source path, store, level, slice bounds,
superchunk key); the level's layout (shapes, dtype, codec) lives only in
the store's own zarr.json, which the driver writes before any task runs.
The driver puts whole superchunk groups into Spark partitions itself
(``assign_groups``, balanced by voxels — the deterministic host-side
split of the reference's imaris_job.py:35-46, across every tile) and
feeds each writer task its partition's rows (``driver_partitioned``),
so no Spark job moves rows the driver already holds.
``pipeline.convert_to_zarr`` is the one-tile call.

At 100 TB: ~45k coordinate rows per 6 TB tile, ~1M rows per dataset —
trivially plannable; payloads never enter the DataFrame.
"""

from __future__ import annotations

import heapq
import time
from collections.abc import Iterator
from contextlib import contextmanager

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..config import ConvertJobSettings
from ..operators.downsample import downsample_block
from ..sources.tensor import open_source
from .codecs import zstd_decompress
from .format import (
    ShardSpec,
    read_array_metadata,
    shard_grid,
    write_array_metadata,
    write_group_metadata,
)
from .metadata import multiscales_metadata
from .pipeline import (
    ERROR_SAMPLE_CAP,
    _group_bbox,
    _level_shapes,
    _level_specs,
    _put_shard,
    _read_reduced_region,
    _split_rows,
    iter_coalesced_reads,
    stage_agg_exprs,
    stage_dict,
)

#: One row per shard (or v2 chunk) write, for every stage: the
#: source-read stage (level 0, or every level when translating), each
#: level of the store-read level loop, and the v2 writer. Rows are
#: store-routed, so ONE Spark action covers a stage across EVERY tile;
#: rows sharing a ``superchunk`` key always run in one task.
TASK_SCHEMA = (
    "tile_path string, store string, level int, "
    "iz int, iy int, ix int, "
    "z0 int, z1 int, y0 int, y1 int, x0 int, x1 int, "
    "superchunk string"
)
TASK_COLS = [f.split()[0] for f in TASK_SCHEMA.split(", ")]

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
    zarr.json on first use: the only place a writer learns a level's
    layout. One per writer call, never module-level — Python workers
    outlive jobs, and a store path can be rewritten with a new layout."""

    def __missing__(self, key: tuple[str, int]) -> ShardSpec:
        spec = self[key] = read_array_metadata(*key)
        return spec


def _mt_cascade_applicable(
    all_specs: dict[str, dict[int, ShardSpec]],
    settings: ConvertJobSettings,
) -> bool:
    """Whether EVERY tile can run the fused cascade: False when no tile
    converts, or when any tile has a single-level grid or would need a
    window-aligned group over `pipeline.CASCADE_MAX_GROUP_BYTES` (both
    make `pipeline.cascade_group_multiple` return None) — mixed grids
    fall back to the level loop as one dataset."""
    from .pipeline import cascade_group_multiple

    return bool(all_specs) and all(
        cascade_group_multiple(
            specs,
            settings.scale_factor,
            len(specs),
            settings.superchunk_multiple,
        )
        is not None
        for specs in all_specs.values()
    )


def _cascade_parts(
    region: np.ndarray,
    origin: tuple[int, int, int],
    store: str,
    cascade: tuple[tuple[int, int, int], str, int],
    specs: _LevelSpecs,
) -> list[tuple]:
    """The fused cascade step of one group: reduce its level-0
    ``region`` (global origin ``origin``) recursively and emit 'part'
    rows routed to each deeper level's shards. Reducing at group (not
    shard) granularity is what lifts the shard-alignment precondition:
    the group extent is chosen window-aligned through every level
    (`pipeline.cascade_group_multiple`), so ANY shard shape cascades
    exactly — per-window reduce results are independent of the block
    extent they are computed in, so group-level and shard-level reduces
    are byte-identical where both apply."""
    factor, mode, n_levels = cascade
    out = []
    red = region
    for lvl_to in range(1, n_levels):
        red = downsample_block(red, factor, mode)
        origin = tuple(o // f for o, f in zip(origin, factor))
        cs = specs[store, lvl_to].shard_shape[2:]
        for part in _split_rows(red, origin, lvl_to, cs):
            # part = (level, iz, iy, ix, oz, oy, ox, sz, sy, sx, payload)
            out.append(
                ("part", None, store, *part[:4], *(None,) * 4, *part[4:])
            )
    return out


def _make_global_assembler():
    """Grouped assembler for the multi-tile cascade: each 'part' group
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
            # Uncompressed piece size, so bytes_read is comparable with
            # the per-level fallback loop (which reads raw parent voxels).
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


def assign_groups(rows: list[tuple], n_parts: int) -> list[list[tuple]]:
    """Put the TASK_SCHEMA ``rows`` into ``n_parts`` partitions, whole
    superchunk groups at a time: largest group first, each onto the
    least-loaded partition (lowest index on a tie), load counted in
    voxels. So no group spans partitions, the same rows always give the
    same assignment (a retried or speculative task gets the same rows),
    and no partition carries more than the mean load plus the largest
    group. With fewer groups than ``n_parts`` some partitions stay
    empty."""
    groups: dict[str, list[tuple]] = {}
    for r in rows:
        groups.setdefault(r[12], []).append(r)
    parts: list[list[tuple]] = [[] for _ in range(n_parts)]
    loads = [(0, p) for p in range(n_parts)]
    for grp in sorted(groups.values(), key=_voxels, reverse=True):
        load, p = heapq.heappop(loads)
        parts[p] += grp
        heapq.heappush(loads, (load + _voxels(grp), p))
    return parts


class _PartitionFeed:
    """mapInPandas body over ``spark.range(n)``: the task holding id
    ``p`` hands ``writer`` partition ``p``'s rows as one TASK_SCHEMA
    frame (an empty partition yields nothing). The row lists arrive as a
    broadcast, which a reused Python worker unpickles once, not once
    per task."""

    def __init__(self, parts, writer):
        self.parts = parts
        self.writer = writer

    def __call__(
        self, batches: Iterator[pd.DataFrame]
    ) -> Iterator[pd.DataFrame]:
        for ids in batches:
            for p in ids["id"]:
                rows = self.parts.value[p]
                if rows:
                    yield from self.writer(
                        iter([pd.DataFrame(rows, columns=TASK_COLS)])
                    )


@contextmanager
def driver_partitioned(
    spark: SparkSession,
    rows: list[tuple],
    n_parts: int,
    writer,
    schema: str,
) -> Iterator[DataFrame]:
    """``writer``'s output over the TASK_SCHEMA ``rows``, split on the
    driver into ``n_parts`` Spark partitions (``assign_groups``) with no
    Exchange in front of them. The row lists ship as one broadcast,
    destroyed when the block exits, so run the block's actions inside
    it."""
    bc = spark.sparkContext.broadcast(assign_groups(rows, n_parts))
    try:
        yield spark.range(n_parts, numPartitions=n_parts).mapInPandas(
            _PartitionFeed(bc, writer), schema
        )
    finally:
        bc.destroy()


def plan_global_tasks(
    tiles: list[tuple[str, str]],
    settings: ConvertJobSettings,
) -> tuple[list[tuple], dict[str, dict[int, ShardSpec]], dict[str, str]]:
    """Probe every tile driver-side, create its stores, and list the
    global source-read task rows: every level in translate mode, level 0
    in compute mode (whose deeper levels the writer's fused cascade, or
    else the level loop, derives from level 0).
    Returns (TASK_SCHEMA rows, specs per tile, quarantined tiles). The
    third map is empty unless on_corrupt="quarantine" skipped tiles
    whose open OR metadata probe failed driver-side."""
    rows: list[tuple] = []
    all_specs: dict[str, dict[int, ShardSpec]] = {}
    quarantined: dict[str, str] = {}
    sm = settings.superchunk_multiple
    for src_path, store in tiles:
        src = None
        try:
            # The whole metadata probe sits inside the quarantine
            # boundary: a tile can open (intact superblock) yet raise on
            # shape/dtype/extent attributes — either way there is no
            # task grid to build, so the tile is skipped, not the job.
            src = open_source(src_path)
            shapes = _level_shapes(settings, src.meta)
            specs = _level_specs(settings, shapes, src.meta.dtype)
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
        all_specs[src_path] = specs
        # Compute-pyramid tiles group by the window-aligned cascade
        # grid (pipeline.cascade_group_multiple — identical to the
        # plain superchunk grid for factor-divisible shards), so the
        # fused cascade's group-level reduce stays exact for any shard
        # shape. Computed here (driver, per tile) so no per-row join is
        # needed later; if any tile can't cascade the level loop runs,
        # for which the bigger groups are merely a read-coalescing
        # choice.
        key_m = sm
        if not settings.translate_pyramid and len(shapes) > 1:
            from .pipeline import cascade_group_multiple

            key_m = (
                cascade_group_multiple(
                    specs, settings.scale_factor, len(shapes), sm
                )
                or sm
            )
        # Every level's zarr.json before any task runs: it is the only
        # layout the writers read (``_LevelSpecs``).
        for lvl in range(len(shapes)):
            write_array_metadata(store, lvl, specs[lvl])
        source_levels = len(shapes) if settings.translate_pyramid else 1
        for lvl in range(source_levels):
            spec = specs[lvl]
            rows += _task_rows(
                src_path, store, lvl, spec.shape[2:], spec.shard_shape[2:],
                key_m,
            )
        write_group_metadata(
            store,
            multiscales_metadata(
                name=src_path.rsplit("/", 1)[-1],
                n_levels=len(shapes),
                voxel_zyx=src.meta.voxel_size,
                origin_zyx=src.meta.origin,
                factors_zyx=tuple(float(f) for f in settings.scale_factor),
                method=settings.downsample_mode,
            ),
        )
        src.close()
    return rows, all_specs, quarantined


def build_global_tasks(
    spark: SparkSession,
    tiles: list[tuple[str, str]],
    settings: ConvertJobSettings,
) -> tuple[DataFrame, dict[str, dict[int, ShardSpec]], dict[str, str]]:
    """``plan_global_tasks`` with its rows as a TASK_SCHEMA DataFrame."""
    rows, all_specs, quarantined = plan_global_tasks(tiles, settings)
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
    """The one source-read writer. Per superchunk group (the key embeds
    tile_path and level, so groups never span tiles) it makes one
    bounding-box source read, writes every shard of the group with the
    level's spec from the store's zarr.json, and — with ``cascade`` set
    to ``(factor, mode, n_levels)`` — emits the group's reduced deeper
    levels as 'part' rows (``_cascade_parts``). It yields one DataFrame
    per group, so a task never holds more than one group's region and
    parts. Sources are cached per call.

    With ``quarantine`` (settings.on_corrupt="quarantine"): a tile that
    fails to open, or a read that fails, yields per-shard ERROR rows —
    a poison-pill tile cannot abort the other tiles' conversion. The
    open failure is cached per tile so a corrupt tile is probed once
    per partition, not once per superchunk group.

    A module-level CLASS (not a closure factory) so cloudpickle ships
    instances by class reference + state: workers re-import this module
    and resolve ``open_source`` at call time, instead of baking the
    driver's globals (incl. test monkeypatches) into the pickle."""

    def __init__(
        self,
        quarantine: bool = False,
        cascade: tuple[tuple[int, int, int], str, int] | None = None,
    ):
        self.quarantine = quarantine
        self.cascade = cascade

    def __call__(
        self, batches: Iterator[pd.DataFrame]
    ) -> Iterator[pd.DataFrame]:
        _test_straggler_hook()
        quarantine, cascade = self.quarantine, self.cascade
        sources: dict[str, object] = {}
        last_err: dict[str, str] = {}
        specs = _LevelSpecs()

        def read_fn(row, z0, z1, y0, y1, x0, x1):
            if row.tile_path not in sources:
                try:
                    sources[row.tile_path] = open_source(row.tile_path)
                except Exception as exc:  # noqa: BLE001 — quarantine
                    if not quarantine:
                        raise
                    sources[row.tile_path] = None
                    last_err[row.tile_path] = (
                        f"open: {type(exc).__name__}: {exc}"
                    )
                    return None
            src = sources[row.tile_path]
            if src is None:  # cached open failure for this tile
                return None
            try:
                return src.read_block(row.level, z0, z1, y0, y1, x0, x1)
            except Exception as exc:  # noqa: BLE001 — quarantine
                if not quarantine:
                    raise
                last_err[row.tile_path] = (
                    f"read: {type(exc).__name__}: {exc}"
                )
                return None

        # A group is read once only if all its rows are in hand, and a
        # caller may hand one partition over as several frames — so
        # materialize the partition's rows (coordinates only, tiny)
        # before grouping. ``assign_groups`` puts whole superchunk
        # groups into a partition, so a group never spans partitions.
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        tasks = pd.concat(pdfs, ignore_index=True)
        n_err: dict[str, int] = {}
        for _, grp in tasks.groupby("superchunk", sort=False):
            rows = list(grp.itertuples(index=False))
            box = _group_bbox(rows)
            if cascade is not None and box is None:
                raise RuntimeError(
                    "fused cascade saw an incomplete superchunk "
                    f"group ({len(rows)} rows, key "
                    f"{rows[0].superchunk!r}) — compute-pyramid runs "
                    "enumerate full groups, so this indicates a "
                    "partitioning bug"
                )
            region, items = iter_coalesced_reads(rows, read_fn)
            out = []
            for row, block, read_sec in items:
                if block is None:
                    # Message detail capped PER TILE (the final agg also
                    # groups by tile_path) so one fully-corrupt tile
                    # cannot blank another tile's locator samples; the
                    # count stays exact regardless.
                    n = n_err[row.tile_path] = (
                        n_err.get(row.tile_path, 0) + 1
                    )
                    msg = (
                        last_err.get(row.tile_path, "read: unknown error")
                        if n <= ERROR_SAMPLE_CAP
                        else ""
                    )
                    out.append(_stats_row(row, 0, 0, read_sec, msg))
                    continue
                t0 = time.monotonic()
                nbytes = _put_shard(
                    row.store, row.level, row.iz, row.iy, row.ix, block,
                    specs[row.store, row.level],
                )
                out.append(
                    _stats_row(
                        row, block.nbytes, nbytes,
                        read_sec + time.monotonic() - t0,
                    )
                )
            if cascade is not None:
                out += _cascade_parts(
                    region, box[0::2], rows[0].store, cascade, specs
                )
            yield pd.DataFrame(out, columns=WRITER_COLS)
        for s in sources.values():
            if s is not None:
                s.close()


def convert_tiles_to_zarr(
    spark: SparkSession,
    tiles: list[tuple[str, str]],
    settings: ConvertJobSettings,
    partition_to_process: int | None = None,
    num_partitions: int | None = None,
) -> dict:
    """Convert many tiles in ONE Spark action (global shard scheduling).

    ``partition_to_process``/``num_partitions`` subset the global task
    list deterministically (row-major order, round-robin) — the Spark
    twin of the reference's SLURM-array partition protocol
    (imaris_job.py:35-46, env var per array task). Inside one cluster
    Spark schedules everything itself; the subset exists for resumable /
    partial / multi-cluster runs, and re-running any subset is safe
    because shard writes are idempotent.

    Subsetting composes with TRANSLATE mode only: a computed pyramid
    reads level 0 back from the store, which is incomplete until every
    partition has run — downsampling from a partial level 0 would
    silently bake fill-value zeros into the pyramid.
    """
    if partition_to_process is not None and not settings.translate_pyramid:
        raise ValueError(
            "partition subsetting requires translate_pyramid=True; run the "
            "compute-pyramid stage once after all partitions complete"
        )
    tasks, all_specs, quarantined_tiles = plan_global_tasks(tiles, settings)
    quarantine = settings.on_corrupt == "quarantine"
    if partition_to_process is not None and num_partitions:
        tasks = sorted(tasks, key=lambda r: (r[0], *r[2:6]))[
            partition_to_process::num_partitions
        ]
    n_parts = max(
        spark.sparkContext.defaultParallelism * settings.tasks_per_cpu, 1
    )
    compute_pyramid = not settings.translate_pyramid
    # Quarantine forces the level loop: the fused cascade assembles
    # deeper-level shards from level-0 partials, so a quarantined group
    # would bake PARTIAL coverage into a written shard. The loop reads
    # parents back from the store, where a missing (quarantined) shard
    # already degrades to fill_value.
    cascade = None
    if (
        compute_pyramid
        and not quarantine
        and _mt_cascade_applicable(all_specs, settings)
    ):
        n_levels = max(len(s) for s in all_specs.values())
        cascade = (settings.scale_factor, settings.downsample_mode, n_levels)
    with driver_partitioned(
        spark, tasks, n_parts, _GlobalWriter(quarantine, cascade),
        WRITER_SCHEMA,
    ) as written:
        if cascade is not None:
            # Fused cascade: the WHOLE dataset — every tile, every
            # pyramid level — is ONE action. Level-0 writes emit
            # per-level compressed reduced partials routed by (store,
            # level, shard); one shuffle assembles all deeper levels of
            # all tiles into stats rows. No store re-read, and the job
            # count is fixed regardless of tile count or depth (the
            # loop path schedules 1 + (L-1) actions).
            assembled = written.groupBy(
                "kind", "store", "level", "iz", "iy", "ix"
            ).applyInPandas(_make_global_assembler(), WRITER_SCHEMA)
            coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
            prev = spark.conf.get(coalesce_key, "true")
            spark.conf.set(coalesce_key, "false")
            try:
                stats = (
                    assembled.groupBy("tile_path", "level")
                    .agg(*stage_agg_exprs())
                    .collect()
                )
            finally:
                spark.conf.set(coalesce_key, prev)
        else:
            stats = (
                written.groupBy("tile_path").agg(*stage_agg_exprs()).collect()
            )
    stages = None
    if cascade is not None:
        # Level 0 per tile (tile_path kept, no level key, as in the
        # loop path); deeper levels one stage each across every tile.
        per_tile, stages = {}, []
        for r in stats:
            d = stage_dict(r)
            if d["level"] == 0:
                del d["level"]
                per_tile[d["tile_path"]] = d
            else:
                del d["tile_path"]
                stages.append(d)
        stages.sort(key=lambda d: d["level"])
        plan = "fused_cascade"
    else:
        per_tile = {r["tile_path"]: stage_dict(r) for r in stats}
        if compute_pyramid:
            # Computed levels run sequentially (level k depends on k-1,
            # reference A2) — but within a level EVERY tile's shards go
            # into ONE store-routed Spark action, so the job count per
            # level is independent of the tile count.
            if any(len(s) > 1 for s in all_specs.values()):
                import logging

                logging.getLogger(__name__).warning(
                    "computed pyramid runs the per-level store-read loop "
                    "(quarantine mode, or no window-aligned cascade group "
                    "within the memory cap for every tile) — expect ~2.5x "
                    "the fused-cascade wall time"
                )
            stages = _run_downsample_levels(
                spark, tiles, all_specs, settings, n_parts
            )
            plan = "level_loop"
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
    }
    n_errors = sum(r["n_errors"] for r in per_tile.values())
    if quarantine or n_errors or quarantined_tiles:
        result["n_errors"] = n_errors
        result["quarantined_tiles"] = quarantined_tiles
    if stages is not None:
        result["downsample_stages"] = stages
        result["pyramid_plan"] = plan
    return result


def _make_global_downsample_writer(
    factor: tuple[int, int, int], mode: str
):
    """Store-routed downsample writer: reads the factor-scaled parent
    region from each row's own store, block-reduces, writes the shard.
    Parent and child specs (and with them the parent's logical shape)
    are read once per (store, level) per call from the store's own
    zarr.json — no spec state shipped through the plan."""

    def writer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        specs = _LevelSpecs()
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                t0 = time.monotonic()
                parent = row.level - 1
                pspec = specs[row.store, parent]
                region3 = tuple(
                    slice(a * f, min(b * f, d))
                    for a, b, f, d in zip(
                        (row.z0, row.y0, row.x0),
                        (row.z1, row.y1, row.x1),
                        factor,
                        pspec.shape[2:],
                    )
                )
                # Shard-local reduce-then-assemble: only reduced voxels
                # are buffered.
                block = _read_reduced_region(
                    row.store, parent, region3, pspec, factor, mode
                )
                parent_nbytes = (
                    int(
                        np.prod(
                            [s.stop - s.start for s in region3],
                            dtype=np.int64,
                        )
                    )
                    * block.dtype.itemsize
                )
                nbytes = _put_shard(
                    row.store, row.level, row.iz, row.iy, row.ix, block,
                    specs[row.store, row.level],
                )
                out.append(
                    _stats_row(
                        row, parent_nbytes, nbytes, time.monotonic() - t0
                    )
                )
            yield pd.DataFrame(out, columns=WRITER_COLS)

    return writer


def _run_downsample_levels(
    spark: SparkSession,
    tiles: list[tuple[str, str]],
    all_specs: dict[str, dict[int, ShardSpec]],
    settings: ConvertJobSettings,
    n_parts: int,
) -> list[dict]:
    """One Spark action per pyramid level, all tiles unioned. Returns one
    stats dict per level (NOT per tile-level pair)."""
    n_levels = max(
        (len(specs) for specs in all_specs.values()), default=0
    )
    writer = _make_global_downsample_writer(
        settings.scale_factor, settings.downsample_mode
    )
    stages: list[dict] = []
    for lvl in range(1, n_levels):
        rows: list[tuple] = []
        for src_path, store in tiles:
            # Absent for a tile quarantined at the driver probe, or one
            # with fewer levels.
            spec = all_specs.get(src_path, {}).get(lvl)
            if spec is not None:
                # One group per shard: the downsample writer reads the
                # STORE, not the source, so there is nothing for
                # superchunk grouping to coalesce — it would only
                # collapse parallelism at the small deep levels.
                rows += _task_rows(
                    src_path, store, lvl, spec.shape[2:],
                    spec.shard_shape[2:], (1, 1, 1),
                )
        with driver_partitioned(
            spark, rows, n_parts, writer, WRITER_SCHEMA
        ) as written:
            stats = stage_dict(
                written.agg(*stage_agg_exprs()).collect()[0]
            )
        stats["level"] = lvl
        stages.append(stats)
    return stages
