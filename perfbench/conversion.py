"""Conversion workload: ``job.run_job`` over the seeded ``.ims`` tiles.

One op is one ``run_job`` call (shard mode: one global action, fused
pyramid cascade) into a fresh output root. Outputs are checked outside
the timed window: the first op's store is checked for content and every
later op must reproduce it byte for byte. The traced run also converts
the first tile through the per-level store read-back loop (file mode
with quarantine, the second conversion stack), which must write that
tile's store byte for byte as the cascade did, and replays one op's work
serially on the driver, one public call per layer, to split the op's
time by module.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import math
import os
import shutil
import statistics

import numpy as np

from fixtures import DIGESTS, IMS_CHUNKS, TILE_SHAPE, voxel_digest
from probes import OpMeter, spark_counts

# Computed 4-level mean pyramid, 64^3 chunks in 128^3 shards, zstd-3.
COMMON = dict(
    chunk_shape=(64, 64, 64),
    shard_shape=(128, 128, 128),
    scale_factor=(2, 2, 2),
    downsample_levels=4,
    downsample_mode="mean",
    translate_pyramid=False,
    codec="zstd",
    codec_level=3,
)
SHARD = dict(partition_mode="shard", on_corrupt="fail")
# The level loop pays a dozen Spark actions per tile: first tile only
# (the job's own single-tile mode).
LEVEL_LOOP = dict(
    partition_mode="file", on_corrupt="quarantine", single_tile_upload=True
)

WARM_UP_OPS = 2

# Sampled shards per (tile, level) for the downsample check.
SAMPLED_SHARDS = 2


def level_geometry() -> list[tuple[tuple, tuple]]:
    """(shape, shard shape) per level, derived here from the settings
    rather than read back from the store under test."""
    out = []
    shape = TILE_SHAPE
    for _ in range(COMMON["downsample_levels"]):
        chunk = tuple(min(c, d) for c, d in zip(COMMON["chunk_shape"], shape))
        shard = tuple(
            max(min(s, d) // c * c, c)
            for s, d, c in zip(COMMON["shard_shape"], shape, chunk)
        )
        out.append((shape, shard))
        shape = tuple(
            math.ceil(d / f) for d, f in zip(shape, COMMON["scale_factor"])
        )
    return out


def shard_boxes(shape, shard):
    for idx in itertools.product(
        *(range(math.ceil(d / s)) for d, s in zip(shape, shard))
    ):
        yield idx, tuple(
            slice(i * s, min((i + 1) * s, d))
            for i, s, d in zip(idx, shard, shape)
        )


def tree_sum(obj, key: str) -> float:
    """Sum of every ``key`` value anywhere in a run_job stats tree."""
    if isinstance(obj, dict):
        return sum(
            (v or 0) if k == key else tree_sum(v, key) for k, v in obj.items()
        )
    if isinstance(obj, list):
        return sum(tree_sum(v, key) for v in obj)
    return 0


def listing(root: str) -> dict[str, str]:
    """Relative path -> sha256 of every file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    fh.read()
                ).hexdigest()
    return out


def store_bytes(root: str) -> tuple[int, int]:
    """(object count, total bytes) of a store root's listing."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def differing(got: dict, want: dict) -> list[str]:
    return sorted(k for k in got.keys() | want.keys() if got.get(k) != want.get(k))


class ConversionWorkload:
    def __init__(self, name, spark, tiles_dir, work_dir, seed):
        self.name = name
        self.spark = spark
        self.tiles_dir = tiles_dir
        self.work_dir = work_dir
        self.seed = seed
        with open(os.path.join(tiles_dir, DIGESTS)) as f:
            self.digests = json.load(f)
        self.tiles = sorted(self.digests)
        self.source_bytes = len(self.tiles) * math.prod(TILE_SHAPE) * 2
        self.puts = self.put_bytes = 0
        self.reference: dict[str, str] | None = None  # first op's store
        self.level_loop: dict = {}

    def _run(self, out: str, mode: dict):
        from aind_exaspim_data_transformation_spark.job import (
            TileJobSettings,
            run_job,
        )

        shutil.rmtree(out, ignore_errors=True)
        return run_job(
            self.spark,
            TileJobSettings(
                input_source=self.tiles_dir, output_location=out, **COMMON, **mode
            ),
        )

    def _timed_run(self, out: str, mode: dict, group: str, tracer):
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            with tracer.span("job.run_job", group), OpMeter() as meter:
                resp = self._run(out, mode)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return resp, meter, spark_counts(sc, group)

    def warm_up(self) -> None:
        """Untimed ops: the first takes about twice a warm op while the
        JVM's compilers and the Python workers warm up; after the second
        the op time is flat to within a few percent."""
        warm = os.path.join(self.work_dir, "warm")
        for _ in range(WARM_UP_OPS):
            self._run(warm, SHARD)
        shutil.rmtree(warm, ignore_errors=True)

    def op(self, i: int, tracer) -> dict:
        """One timed run_job; returns its record (time, counters,
        output-check failures)."""
        out = os.path.join(self.work_dir, f"op{i}")
        resp, meter, counts = self._timed_run(out, SHARD, f"{self.name}-op{i}", tracer)
        rec = {
            **meter.record(),
            "spark": counts,
            "writer_task_s": tree_sum(resp.data, "task_seconds"),
            "errors": self.check(out, resp),
        }
        self.puts, self.put_bytes = store_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return rec

    # -- output checks ---------------------------------------------------
    def check(self, out: str, resp) -> list[str]:
        if resp.status_code != 200:
            return [f"status {resp.status_code}: {resp.message}"]
        errs = []
        got = listing(out)
        if self.reference is None:
            errs += self.verify_content(out)
            if not errs:
                self.reference = got
            return errs
        diff = differing(got, self.reference)
        if diff:
            errs.append(f"store differs from the first op's in {len(diff)} file(s), e.g. {diff[:3]}")
        return errs

    def verify_content(self, out: str) -> list[str]:
        """Shard count equals the grid, level 0 equals the source, level
        k equals downsample_block(level k-1) on seeded sample shards,
        root zarr.json carries the multiscales."""
        from aind_exaspim_data_transformation_spark.operators.downsample import (
            downsample_block,
        )
        from aind_exaspim_data_transformation_spark.zarrio.format import (
            read_array_region,
        )

        errs = []
        geo = level_geometry()
        rng = np.random.default_rng(self.seed)
        full = (slice(0, 1), slice(0, 1))
        for tile in self.tiles:
            store = os.path.join(out, tile[: -len(".ims")] + ".zarr")
            with open(os.path.join(store, "zarr.json")) as f:
                ms = json.load(f)["attributes"]["ome"]["multiscales"][0]
            if len(ms["datasets"]) != len(geo):
                errs.append(f"{tile}: multiscales lists {len(ms['datasets'])} levels")
            for lvl, (shape, shard) in enumerate(geo):
                n_files = sum(
                    len(files)
                    for _, _, files in os.walk(os.path.join(store, str(lvl), "c"))
                )
                expect = math.prod(math.ceil(d / s) for d, s in zip(shape, shard))
                if n_files != expect:
                    errs.append(f"{tile} level {lvl}: {n_files} shards, grid {expect}")
            level0 = read_array_region(
                store, 0, full + tuple(slice(0, d) for d in TILE_SHAPE)
            )
            if voxel_digest(level0[0, 0]) != self.digests[tile]:
                errs.append(f"{tile}: level 0 differs from the source")
            for lvl in range(1, len(geo)):
                boxes = list(shard_boxes(*geo[lvl]))
                picks = rng.choice(len(boxes), min(SAMPLED_SHARDS, len(boxes)), replace=False)
                for k in picks:
                    idx, box = boxes[k]
                    parent = read_array_region(
                        store, lvl - 1,
                        full + tuple(slice(s.start * 2, s.stop * 2) for s in box),
                    )[0, 0]
                    got = read_array_region(store, lvl, full + box)[0, 0]
                    want = downsample_block(parent, COMMON["scale_factor"], COMMON["downsample_mode"])
                    if not np.array_equal(got, want):
                        errs.append(f"{tile} level {lvl} shard {idx}: not the downsample of level {lvl - 1}")
        return errs

    def cross_check(self, tracer) -> list[str]:
        """The level loop (file mode, quarantine) on the first tile must
        write that tile's store byte for byte as the fused cascade did.
        It runs twice, and the second (warm) run is recorded for the
        per-layer ``pipeline.*`` metrics."""
        if self.reference is None:
            return ["no verified cascade store to compare the level loop with"]
        out = os.path.join(self.work_dir, "level_loop")
        for i in range(2):
            resp, meter, counts = self._timed_run(
                out, LEVEL_LOOP, f"{self.name}-level-loop{i}", tracer
            )
        self.level_loop = {"job_s": meter.wall_s, "spark": counts}
        if resp.status_code != 200:
            return [f"level loop: status {resp.status_code}: {resp.message}"]
        errs = []
        n_err = tree_sum(resp.data, "n_errors")
        if n_err:
            errs.append(f"level loop quarantined {n_err} shard(s)")
        prefix = self.tiles[0][: -len(".ims")] + ".zarr" + os.sep
        want = {k: v for k, v in self.reference.items() if k.startswith(prefix)}
        diff = differing(listing(out), want)
        shutil.rmtree(out, ignore_errors=True)
        if diff:
            errs.append(
                f"level-loop store differs from the cascade store in "
                f"{len(diff)} file(s), e.g. {diff[:3]}"
            )
        return errs

    # -- traced layer replay ------------------------------------------------
    def replay(self, tracer) -> dict:
        """Run one op's work serially through each module's public
        functions, then the level loop's store read-back; returns the
        layer counters (times live in spans)."""
        from aind_exaspim_data_transformation_spark.operators.downsample import (
            downsample_block,
        )
        from aind_exaspim_data_transformation_spark.sources.discovery import (
            discover_tiles,
        )
        from aind_exaspim_data_transformation_spark.sources.tensor import open_source
        from aind_exaspim_data_transformation_spark.zarrio.format import (
            encode_shard,
            read_array_region,
            write_shard_file,
        )
        from aind_exaspim_data_transformation_spark.zarrio.multitile import (
            build_global_tasks,
        )
        from aind_exaspim_data_transformation_spark.job import TileJobSettings

        op = "replay"
        out = os.path.join(self.work_dir, "replay")
        shutil.rmtree(out, ignore_errors=True)
        c = dict(read_bytes=0, chunks_decoded=0, ds_bytes=0, enc_bytes=0,
                 inner_chunks=0, decode_bytes=0, n_tasks=0)
        settings = TileJobSettings(
            input_source=self.tiles_dir, output_location=out, **COMMON, **SHARD
        )
        with tracer.span("replay", op):
            with tracer.span("discovery.discover_tiles", op):
                rows = discover_tiles(self.spark, self.tiles_dir).collect()
            pairs = [
                (r["tile_path"], os.path.join(out, r["tile_name"][: -len(".ims")] + ".zarr"))
                for r in rows
            ]
            with tracer.span("multitile.build_global_tasks", op):
                tasks, specs, _ = build_global_tasks(self.spark, pairs, settings)
            tasks = tasks.toPandas()
            c["n_tasks"] = len(tasks)
            for path, store in pairs:
                src = open_source(path)
                level0 = np.empty(TILE_SHAPE, dtype=np.uint16)
                for _, g in tasks[tasks.tile_path == path].groupby("superchunk", sort=False):
                    b = tuple(int(v) for v in (
                        g.z0.min(), g.z1.max(), g.y0.min(), g.y1.max(), g.x0.min(), g.x1.max()
                    ))
                    with tracer.span("tensor.read_block", op):
                        region = src.read_block(0, *b)
                    level0[b[0]:b[1], b[2]:b[3], b[4]:b[5]] = region
                    c["read_bytes"] += region.nbytes
                    c["chunks_decoded"] += math.prod(
                        (hi - 1) // ch - lo // ch + 1
                        for lo, hi, ch in zip(b[0::2], b[1::2], IMS_CHUNKS)
                    )
                src.close()
                levels = [level0]
                for _ in range(1, len(specs[path])):
                    with tracer.span("downsample.downsample_block", op):
                        levels.append(downsample_block(
                            levels[-1], COMMON["scale_factor"], COMMON["downsample_mode"]
                        ))
                    c["ds_bytes"] += levels[-2].nbytes
                for lvl, arr in enumerate(levels):
                    spec = specs[path][lvl]
                    for idx, box in shard_boxes(arr.shape, spec.shard_shape[2:]):
                        block = np.zeros(spec.shard_shape, dtype=arr.dtype)
                        block[(0, 0) + tuple(slice(0, s.stop - s.start) for s in box)] = arr[box]
                        with tracer.span("format.encode_shard", op):
                            blob = encode_shard(block, spec)
                        c["enc_bytes"] += block.nbytes
                        with tracer.span("format.write_shard_file", op):
                            write_shard_file(store, lvl, (0, 0, *idx), blob)
                        self._replay_codecs(tracer, op, block, spec, blob, c)
                # What the level loop adds: every parent level read back.
                for lvl in range(len(levels) - 1):
                    spec = specs[path][lvl]
                    for _, box in shard_boxes(levels[lvl].shape, spec.shard_shape[2:]):
                        with tracer.span("format.read_array_region", op):
                            got = read_array_region(store, lvl, (slice(0, 1), slice(0, 1)) + box, spec)
                        c["decode_bytes"] += got.nbytes
        shutil.rmtree(out, ignore_errors=True)
        return c

    @staticmethod
    def _replay_codecs(tracer, op, block, spec, blob, c):
        """The codec calls encode_shard makes, alone: one compress per
        inner chunk, one crc32c over the shard index."""
        from aind_exaspim_data_transformation_spark.zarrio.codecs import (
            compress,
            crc32c,
        )

        cs = spec.chunk_shape
        for idx in itertools.product(*(range(n) for n in spec.chunks_per_shard)):
            raw = np.ascontiguousarray(
                block[tuple(slice(i * s, (i + 1) * s) for i, s in zip(idx, cs))]
            ).tobytes()
            with tracer.span("codecs.compress", op):
                compress(raw, spec.codec, spec.codec_level)
            c["inner_chunks"] += 1
        index_len = math.prod(spec.chunks_per_shard) * 16
        with tracer.span("codecs.crc32c", op):
            crc32c(blob[-(index_len + 4):-4])

    def layer_metrics(self, tracer, counters, ops, nproc) -> dict:
        def rate(nbytes, secs):
            return nbytes / 1e6 / secs if secs > 0 else 0.0

        t = {n: tracer.total(n) for n in (
            "tensor.read_block", "downsample.downsample_block", "format.encode_shard",
            "format.write_shard_file", "format.read_array_region", "codecs.compress",
            "codecs.crc32c", "discovery.discover_tiles", "multitile.build_global_tasks",
        )}
        # The calls a shard-mode op makes (encode_shard already covers
        # its compress and crc32c calls; the read-back is the level
        # loop's, not this op's).
        core_s = sum(t[n] for n in (
            "tensor.read_block", "downsample.downsample_block",
            "format.encode_shard", "format.write_shard_file",
        ))
        job_s = statistics.median(o["job_s"] for o in ops)
        return {
            "tensor.read_s": t["tensor.read_block"],
            "tensor.read_mbps": rate(counters["read_bytes"], t["tensor.read_block"]),
            "minihdf5.chunks_decoded": counters["chunks_decoded"],
            "downsample.s": t["downsample.downsample_block"],
            "downsample.mbps": rate(counters["ds_bytes"], t["downsample.downsample_block"]),
            "format.encode_s": t["format.encode_shard"],
            "format.encode_mbps": rate(counters["enc_bytes"], t["format.encode_shard"]),
            "format.inner_chunks": counters["inner_chunks"],
            "codecs.compress_s": t["codecs.compress"],
            "codecs.crc32c_s": t["codecs.crc32c"],
            "format.write_s": t["format.write_shard_file"],
            "kvstore.puts": self.puts,
            "kvstore.put_bytes": self.put_bytes,
            "kvstore.stored_ratio": self.put_bytes / self.source_bytes,
            "format.read_region_s": t["format.read_array_region"],
            "format.decode_mbps": rate(counters["decode_bytes"], t["format.read_array_region"]),
            "discovery.discover_s": t["discovery.discover_tiles"],
            "multitile.build_tasks_s": t["multitile.build_global_tasks"],
            "multitile.n_tasks": counters["n_tasks"],
            "spark.writer_task_s": statistics.median(o["writer_task_s"] for o in ops),
            "spark.unattributed_s": job_s - core_s / nproc,
            "spark.unattributed_share": 1 - core_s / nproc / job_s,
            "pipeline.level_loop_job_s": self.level_loop.get("job_s", 0.0),
            "pipeline.level_loop_spark_jobs": self.level_loop.get("spark", {}).get("jobs", 0),
        }
