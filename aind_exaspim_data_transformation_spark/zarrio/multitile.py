"""Multi-tile conversion: one GLOBAL shard-task DataFrame across all tiles
(the reference's partition_mode='shard', imaris_job.py:535-647).

Every task row fully describes its write (source path, store, level, slice
bounds, physical spec), so a single Spark action converts the whole
dataset: the scheduler load-balances shards across executors regardless of
tile boundaries — exactly what the reference's hand-rolled global
round-robin approximates. File mode runs this same plan once per tile
(``pipeline.convert_to_zarr`` is the one-tile call).

At 100 TB: ~45k coordinate rows per 6 TB tile, ~1M rows per dataset —
trivially plannable; payloads never enter the DataFrame.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import ConvertJobSettings
from ..sources.tensor import open_source
from .format import (
    ShardSpec,
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
    _unpack_payload,
    iter_coalesced_reads,
    stage_agg_exprs,
    stage_dict,
)

#: One self-describing row per shard write, for every stage: the
#: source-read stage (level 0, or every level when translating) and each
#: level of the store-read level loop. Rows are store-routed, so ONE
#: Spark action covers a stage across EVERY tile.
TASK_SCHEMA = (
    "tile_path string, store string, level int, "
    "iz int, iy int, ix int, "
    "z0 int, z1 int, y0 int, y1 int, x0 int, x1 int, "
    "shard_z int, shard_y int, shard_x int, "
    "chunk_z int, chunk_y int, chunk_x int, "
    "shape_z int, shape_y int, shape_x int, "
    "dtype string, codec string, codec_level int, transpose string, "
    "superchunk string"
)

STATS_SCHEMA = (
    "tile_path string, level int, iz int, iy int, ix int, "
    "bytes_read long, bytes_written long, elapsed double, error string"
)
STATS_COLS = [f.split()[0] for f in STATS_SCHEMA.split(", ")]

#: Cascade rows for the fused multi-tile computed pyramid: 'stats' rows
#: are per-shard write records (tile_path set so level-0 stats keep their
#: per-tile grouping), 'part' rows carry a compressed reduced piece
#: routed to (store, level, shard index).
MT_CASCADE_SCHEMA = (
    "kind string, tile_path string, store string, level int, "
    "iz int, iy int, ix int, "
    "bytes_read long, bytes_written long, elapsed double, "
    "oz int, oy int, ox int, sz int, sy int, sx int, payload binary"
)

MT_CASCADE_COLS = [f.split()[0] for f in MT_CASCADE_SCHEMA.split(", ")]
#: The null part columns (oz..payload) of a 'stats' cascade row.
_NO_PART = (None,) * 7


def _row_spec(row) -> ShardSpec:
    """The level's ShardSpec, rebuilt from a self-describing task row."""
    return ShardSpec(
        shape=(1, 1, row.shape_z, row.shape_y, row.shape_x),
        shard_shape=(1, 1, row.shard_z, row.shard_y, row.shard_x),
        chunk_shape=(1, 1, row.chunk_z, row.chunk_y, row.chunk_x),
        dtype=row.dtype,
        codec=row.codec,
        codec_level=row.codec_level,
        transpose_order=row.transpose or None,
    )


def _mt_cascade_applicable(
    all_specs: dict[str, dict[int, ShardSpec]],
    settings: ConvertJobSettings,
) -> dict[str, tuple[int, int, int]] | None:
    """Per-tile cascade group multiples (in level-0 shards), or None when
    ANY tile cannot cascade (single-level grid, or the window-aligned
    group would exceed `pipeline.CASCADE_MAX_GROUP_BYTES`) — mixed grids
    fall back to the level loop as one dataset."""
    from .pipeline import cascade_group_multiple

    out: dict[str, tuple[int, int, int]] = {}
    for path, specs in all_specs.items():
        if len(specs) < 2:
            return None
        gm = cascade_group_multiple(
            specs,
            settings.scale_factor,
            len(specs),
            settings.superchunk_multiple,
        )
        if gm is None:
            return None
        out[path] = gm
    return out


def _make_global_fused_writer(
    factor: tuple[int, int, int], mode: str, n_levels: int
):
    """Self-describing fused copy writer: reads each cascade GROUP's
    bounding box in one source read, writes every level-0 shard in the
    group, then recursively reduces the whole group block and emits
    compressed 'part' rows routed by store. Reducing at group (not
    shard) granularity is what lifts the old shard-alignment
    precondition: the group extent is chosen window-aligned through
    every level (`pipeline.cascade_group_multiple`), so ANY shard shape
    cascades exactly — per-window reduce results are independent of the
    block extent they are computed in, so group-level and shard-level
    reduces are byte-identical where both apply. Child shard shapes come
    from each store's own zarr.json, read once per (store, level) per
    worker."""
    from .format import read_array_metadata

    from ..operators.downsample import downsample_block

    def writer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sources: dict[str, object] = {}
        child_shard: dict[tuple[str, int], tuple[int, int, int]] = {}

        def read_fn(row, z0, z1, y0, y1, x0, x1):
            src = sources.get(row.tile_path)
            if src is None:
                src = sources[row.tile_path] = open_source(row.tile_path)
            return src.read_block(row.level, z0, z1, y0, y1, x0, x1)

        # The group-level reduce needs every row of a group in hand, and
        # mapInPandas may split one partition into several Arrow batches
        # — so materialize the partition's rows (coordinates only, tiny)
        # before grouping. Partitioning hashes the superchunk key, so a
        # group never spans Spark partitions.
        pdfs = [p for p in batches if len(p)]
        all_rows = (
            pd.concat(pdfs, ignore_index=True) if pdfs else None
        )
        if all_rows is not None:
            for _, grp in all_rows.groupby("superchunk", sort=False):
                rows = list(grp.itertuples(index=False))
                box = _group_bbox(rows)
                if box is None:
                    raise RuntimeError(
                        "fused cascade saw an incomplete superchunk "
                        f"group ({len(rows)} rows, key "
                        f"{rows[0].superchunk!r}) — compute-pyramid runs "
                        "enumerate full groups, so this indicates a "
                        "partitioning bug"
                    )
                b0 = box[0::2]
                t0 = time.monotonic()
                region = read_fn(rows[0], *box)
                read_sec = (time.monotonic() - t0) / len(rows)
                out = []
                for row in rows:
                    t0 = time.monotonic()
                    block = region[
                        row.z0 - b0[0] : row.z1 - b0[0],
                        row.y0 - b0[1] : row.y1 - b0[1],
                        row.x0 - b0[2] : row.x1 - b0[2],
                    ]
                    nbytes = _put_shard(
                        row.store, 0, row.iz, row.iy, row.ix, block,
                        _row_spec(row),
                    )
                    out.append(
                        (
                            "stats",
                            row.tile_path,
                            row.store,
                            0,
                            row.iz,
                            row.iy,
                            row.ix,
                            block.nbytes,
                            nbytes,
                            read_sec + time.monotonic() - t0,
                            *_NO_PART,
                        )
                    )
                red = region
                origin = b0
                store = rows[0].store
                for lvl_to in range(1, n_levels):
                    red = downsample_block(red, factor, mode)
                    origin = tuple(
                        o // f for o, f in zip(origin, factor)
                    )
                    key = (store, lvl_to)
                    cs = child_shard.get(key)
                    if cs is None:
                        cs = child_shard[key] = read_array_metadata(
                            store, lvl_to
                        ).shard_shape[2:]
                    for part in _split_rows(red, origin, lvl_to, cs):
                        # part = (level, iz, iy, ix,
                        #         oz, oy, ox, sz, sy, sx, payload)
                        out.append(
                            (
                                "part",
                                None,
                                store,
                                *part[:4],
                                None,
                                None,
                                None,
                                *part[4:],
                            )
                        )
                yield pd.DataFrame(out, columns=MT_CASCADE_COLS)
        for s in sources.values():
            s.close()

    return writer


def _make_global_assembler():
    """Grouped assembler for the multi-tile cascade: each 'part' group
    is one (store, level, shard) — place pieces, encode with the
    store's own spec, write, emit a stats row. 'stats' groups pass
    through. Specs cache per (store, level) across groups within a
    worker."""
    from .format import read_array_metadata

    specs_cache: dict[tuple[str, int], ShardSpec] = {}

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.iloc[0]["kind"] == "stats":
            return pdf
        t0 = time.monotonic()
        first = pdf.iloc[0]
        store, lvl = first["store"], int(first["level"])
        iz, iy, ix = int(first["iz"]), int(first["iy"]), int(first["ix"])
        key = (store, lvl)
        spec = specs_cache.get(key)
        if spec is None:
            spec = specs_cache[key] = read_array_metadata(store, lvl)
        cs = spec.shard_shape[2:]
        dims = spec.shape[2:]
        start = (iz * cs[0], iy * cs[1], ix * cs[2])
        valid = tuple(min(c, d - s) for c, d, s in zip(cs, dims, start))
        block = np.full(valid, spec.fill_value, dtype=spec.np_dtype)
        nread = 0
        for r in pdf.itertuples(index=False):
            raw = _unpack_payload(
                r.payload,
                int(r.sz) * int(r.sy) * int(r.sx) * spec.np_dtype.itemsize,
            )
            piece = np.frombuffer(raw, dtype=spec.np_dtype).reshape(
                r.sz, r.sy, r.sx
            )
            block[
                r.oz : r.oz + r.sz,
                r.oy : r.oy + r.sy,
                r.ox : r.ox + r.sx,
            ] = piece
            # Uncompressed piece size, so bytes_read is comparable with
            # the per-level fallback loop (which reads raw parent voxels).
            nread += (
                int(r.sz) * int(r.sy) * int(r.sx) * spec.np_dtype.itemsize
            )
        nbytes = _put_shard(store, lvl, iz, iy, ix, block, spec)
        return pd.DataFrame(
            [
                (
                    "stats",
                    None,
                    store,
                    lvl,
                    iz,
                    iy,
                    ix,
                    nread,
                    nbytes,
                    time.monotonic() - t0,
                    *_NO_PART,
                )
            ],
            columns=MT_CASCADE_COLS,
        )

    return assemble


def _task_rows(
    src_path: str,
    store: str,
    lvl: int,
    spec: ShardSpec,
    settings: ConvertJobSettings,
    key_m: tuple[int, int, int],
) -> list[tuple]:
    """One tile's level-``lvl`` TASK_SCHEMA rows, one per shard of
    ``format.shard_grid``; the superchunk key groups ``key_m`` shards per
    axis."""
    shard, chunk = spec.shard_shape[2:], spec.chunk_shape[2:]
    return [
        (
            src_path,
            store,
            lvl,
            *cell,
            *shard,
            *chunk,
            *spec.shape[2:],
            spec.dtype,
            settings.codec,
            settings.codec_level,
            settings.transpose_order or "",
            f"{src_path},{lvl},{cell[0] // key_m[0]},"
            f"{cell[1] // key_m[1]},{cell[2] // key_m[2]}",
        )
        for cell in shard_grid(spec.shape[2:], shard)
    ]


def build_global_tasks(
    spark: SparkSession,
    tiles: list[tuple[str, str]],
    settings: ConvertJobSettings,
) -> tuple[DataFrame, dict[str, dict[int, ShardSpec]], dict[str, str]]:
    """Probe every tile driver-side, create its stores, and emit the
    global task rows (source-readable levels only: every level in
    translate mode, level 0 in compute mode — computed levels run as
    per-level downsample stages afterwards).
    Returns (tasks DF, specs per tile, quarantined tiles). The third
    map is empty unless on_corrupt="quarantine" skipped tiles whose
    open OR metadata probe failed driver-side."""
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
        for lvl in range(len(shapes)):
            write_array_metadata(store, lvl, specs[lvl])
        source_levels = len(shapes) if settings.translate_pyramid else 1
        for lvl in range(source_levels):
            rows += _task_rows(
                src_path, store, lvl, specs[lvl], settings, key_m
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
    tasks = spark.createDataFrame(rows, TASK_SCHEMA)
    return tasks, all_specs, quarantined


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
    """Self-describing writer: rebuilds the ShardSpec from task columns;
    sources cached per partition; source reads superchunk-coalesced (one
    bounding-box read per superchunk group — the superchunk key embeds
    tile_path and level, so groups never span tiles).

    With ``quarantine`` (settings.on_corrupt="quarantine"): a tile that
    fails to open, or a read that fails, yields per-shard ERROR rows —
    a poison-pill tile cannot abort the other tiles' conversion. The
    open failure is cached per tile so a corrupt tile is probed once
    per partition, not once per superchunk group.

    A module-level CLASS (not a closure factory) so cloudpickle ships
    instances by class reference + state: workers re-import this module
    and resolve ``open_source`` at call time, instead of baking the
    driver's globals (incl. test monkeypatches) into the pickle."""

    def __init__(self, quarantine: bool = False):
        self.quarantine = quarantine

    def __call__(
        self, batches: Iterator[pd.DataFrame]
    ) -> Iterator[pd.DataFrame]:
        _test_straggler_hook()
        quarantine = self.quarantine
        sources: dict[str, object] = {}
        last_err: dict[str, str] = {}

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

        n_err: dict[str, int] = {}
        for pdf in batches:
            out = []
            for row, block, read_sec in iter_coalesced_reads(pdf, read_fn):
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
                    out.append(
                        (
                            row.tile_path,
                            row.level,
                            row.iz,
                            row.iy,
                            row.ix,
                            0,
                            0,
                            read_sec,
                            msg,
                        )
                    )
                    continue
                t0 = time.monotonic()
                nbytes = _put_shard(
                    row.store, row.level, row.iz, row.iy, row.ix, block,
                    _row_spec(row),
                )
                out.append(
                    (
                        row.tile_path,
                        row.level,
                        row.iz,
                        row.iy,
                        row.ix,
                        block.nbytes,
                        nbytes,
                        read_sec + time.monotonic() - t0,
                        None,
                    )
                )
            yield pd.DataFrame(out, columns=STATS_COLS)
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
    tasks, all_specs, quarantined_tiles = build_global_tasks(
        spark, tiles, settings
    )
    quarantine = settings.on_corrupt == "quarantine"
    if partition_to_process is not None and num_partitions:
        w = Window.orderBy(
            "tile_path", "level", "iz", "iy", "ix"
        )
        tasks = (
            tasks.withColumn("__rn", F.row_number().over(w) - 1)
            .where(F.col("__rn") % num_partitions == partition_to_process)
            .drop("__rn")
        )
    n_parts = max(
        spark.sparkContext.defaultParallelism * settings.tasks_per_cpu, 1
    )
    compute_pyramid = not settings.translate_pyramid
    # Quarantine forces the level loop: the fused cascade assembles
    # deeper-level shards from level-0 partials, so a quarantined group
    # would bake PARTIAL coverage into a written shard. The loop reads
    # parents back from the store, where a missing (quarantined) shard
    # already degrades to fill_value.
    group_multiples = (
        _mt_cascade_applicable(all_specs, settings)
        if compute_pyramid and not quarantine
        else None
    )
    stages = None
    if group_multiples:
        # Fused cascade: the WHOLE dataset — every tile, every pyramid
        # level — is ONE Spark job. Level-0 writes emit per-level
        # compressed reduced partials routed by (store, level, shard);
        # one shuffle assembles all deeper levels of all tiles. No
        # store re-read, and the job count is 1 regardless of tile
        # count or depth (the loop path schedules 1 + (L-1) actions).
        n_levels = max(len(s) for s in all_specs.values())
        df = tasks.repartition(n_parts, "superchunk").mapInPandas(
            _make_global_fused_writer(
                settings.scale_factor,
                settings.downsample_mode,
                n_levels,
            ),
            MT_CASCADE_SCHEMA,
        )
        df = df.groupBy(
            "kind", "store", "level", "iz", "iy", "ix"
        ).applyInPandas(_make_global_assembler(), MT_CASCADE_SCHEMA)
        coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = spark.conf.get(coalesce_key, "true")
        spark.conf.set(coalesce_key, "false")
        try:
            # A cascade never quarantines: the null error column gives
            # its stages the shared stats keys with zero errors.
            rows = (
                df.where(F.col("kind") == "stats")
                .withColumn("error", F.lit(None).cast("string"))
                .groupBy("tile_path", "level")
                .agg(*stage_agg_exprs())
                .collect()
            )
        finally:
            spark.conf.set(coalesce_key, prev)
        # Level 0 per tile (tile_path kept, no level key, as in the
        # loop path); deeper levels one stage each across every tile.
        per_tile, stages = {}, []
        for r in rows:
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
        stats = (
            tasks.repartition(n_parts, "superchunk")
            .mapInPandas(_GlobalWriter(quarantine), STATS_SCHEMA)
            .groupBy("tile_path")
            .agg(*stage_agg_exprs())
            .collect()
        )
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
    Parent specs (and with them the parent's logical shape) are read
    once per (store, level) per partition from the store's own
    zarr.json — no spec state shipped through the plan."""
    from .format import read_array_metadata

    def writer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pspecs: dict[tuple[str, int], ShardSpec] = {}
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                t0 = time.monotonic()
                parent = row.level - 1
                key = (row.store, parent)
                pspec = pspecs.get(key)
                if pspec is None:
                    pspec = pspecs[key] = read_array_metadata(
                        row.store, parent
                    )
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
                    _row_spec(row),
                )
                out.append(
                    (
                        row.tile_path,
                        row.level,
                        row.iz,
                        row.iy,
                        row.ix,
                        parent_nbytes,
                        nbytes,
                        time.monotonic() - t0,
                        None,
                    )
                )
            yield pd.DataFrame(out, columns=STATS_COLS)

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
                rows += _task_rows(
                    src_path, store, lvl, spec, settings,
                    settings.superchunk_multiple,
                )
        tasks = spark.createDataFrame(rows, TASK_SCHEMA)
        # Shard-coord partitioning: the downsample writer reads the
        # STORE, not the source, so there is nothing for superchunk
        # grouping to coalesce — it would only collapse parallelism at
        # the small deep levels.
        stats = stage_dict(
            tasks.repartition(n_parts, "store", "iz", "iy", "ix")
            .mapInPandas(writer, STATS_SCHEMA)
            .agg(*stage_agg_exprs())
            .collect()[0]
        )
        stats["level"] = lvl
        stages.append(stats)
    return stages
