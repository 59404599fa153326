"""Computed pyramid in one pass vs in several passes.

A pass (zarrio/multitile.py: `_GlobalWriter` with its `cascade` step,
reached through `pipeline.convert_to_zarr` as a one-tile call) writes
the levels after its base level inside its writer tasks: it reduces
each unit's superchunk groups in tree order into one open block per
level and writes each shard once its block is complete. The planner
(`multitile.pyramid_passes`) ends a pass where a level's shards do not
nest, where the held bytes would exceed
`pipeline.CASCADE_MAX_GROUP_BYTES`, or, when the base level itself is
over that cap, where the units would number fewer than the writer
ranges need; the next pass reads its base level back from the store.
The test session's 16 writer ranges matter only to the runs that lower
the cap below their base level's bytes. With the cap
at 0 every pass is one reduce step, the sequential level-by-level
pyramid (which is golden-tested against the reference's downsample
semantics). For any shape / mode / depth every pass plan must write a
BYTE-identical store, because the deterministic-shard-bytes guarantee
(gzip mtime=0 / fixed zstd frames) is what makes re-runs idempotent.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import pytest

from aind_exaspim_data_transformation_spark.config import ConvertJobSettings
import aind_exaspim_data_transformation_spark.zarrio.pipeline as pipeline


def _tree_hash(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.md5(
                    f.read()
                ).hexdigest()
    return out


def _convert(
    spark,
    out,
    shape,
    mode,
    levels,
    cap=None,
    shard=(64, 64, 64),
    chunk=(32, 32, 32),
):
    """One conversion; ``cap`` overrides CASCADE_MAX_GROUP_BYTES (0
    forces one-step passes)."""
    orig = pipeline.CASCADE_MAX_GROUP_BYTES
    if cap is not None:
        pipeline.CASCADE_MAX_GROUP_BYTES = cap
    try:
        return pipeline.convert_to_zarr(
            spark,
            ConvertJobSettings(
                input_source=f"synth://{shape},1",
                output_location=out,
                chunk_shape=chunk,
                shard_shape=shard,
                translate_pyramid=False,
                downsample_levels=levels,
                downsample_mode=mode,
                codec="zstd",
                codec_level=3,
            ),
        )
    finally:
        pipeline.CASCADE_MAX_GROUP_BYTES = orig


@pytest.mark.parametrize(
    "shape,mode,levels",
    [
        ("300,260,200", "mean", 3),  # edge truncation on every axis
        ("300,260,200", "max", 3),
        ("256,256,256", "mean", 4),  # deeper than shard/f^2 alignment
        ("130,70,50", "median", 2),  # sub-shard dims
    ],
)
def test_cascade_matches_loop_bytes(spark, shape, mode, levels):
    with tempfile.TemporaryDirectory() as tmp:
        a = os.path.join(tmp, "cascade.zarr")
        b = os.path.join(tmp, "loop.zarr")
        ra = _convert(spark, a, shape, mode, levels)
        rb = _convert(spark, b, shape, mode, levels, cap=0)
        assert _tree_hash(a) == _tree_hash(b)
        # One stats stage per level, whatever the pass plan.
        assert len(ra["stages"]) == len(rb["stages"]) == levels
        for sa, sb in zip(ra["stages"], rb["stages"]):
            assert sa["n_shards"] == sb["n_shards"]
            assert sa["bytes_written"] == sb["bytes_written"]


def _specs(shape, shard, chunk, n_levels):
    """(settings, per-level uint16 specs) of a factor-2 pyramid over
    ``shape``, with ``shard`` and ``chunk`` clamped per level."""
    from types import SimpleNamespace

    settings = ConvertJobSettings(
        input_source="unused",
        output_location="unused",
        chunk_shape=chunk,
        shard_shape=shard,
        translate_pyramid=False,
        downsample_levels=n_levels,
    )
    shapes = pipeline._level_shapes(settings, SimpleNamespace(shapes=[shape]))
    return settings, pipeline._level_specs(settings, shapes, "uint16")


def test_pyramid_passes_plan(monkeypatch, caplog):
    """The pass planner, for an explicit writer range count: each pass
    goes as deep as every level nests (whole shards on the window grid)
    and the held bytes fit the cap, and, when its base level is over the
    cap, as its units still feed the ranges; a pass that a level's
    nesting or the cap ended logs one record naming why, and a pass the
    unit count ended logs none."""
    import aind_exaspim_data_transformation_spark.zarrio.multitile as mt

    logger = "aind_exaspim_data_transformation_spark.zarrio.multitile"
    perfbench = ((128, 256, 256), (128,) * 3, (64,) * 3, 4)
    # (name, geometry, tiles, ranges, cap, passes, logged reason)
    table = [
        # Level 1 is one 64x128x128 shard per tile, so each level is
        # one unit per tile: all of it in one pass.
        ("perfbench tile", perfbench, 4, 8, None, [(0, 4)], None),
        # 2 GiB of level 0, over the cap: 64 / 8 / 1 units for levels
        # 1 / 2 / 3, so level 3 would starve the 8 ranges and level 2 is
        # read back for it; on one range it is one pass.
        ("1024^3 over 128^3", ((1024,) * 3, (128,) * 3, (64,) * 3, 4), 1,
         8, None, [(0, 3), (2, 2)], None),
        ("1024^3 over 128^3, 1 range",
         ((1024,) * 3, (128,) * 3, (64,) * 3, 4), 1, 1, None, [(0, 4)],
         None),
        # 0.94 GiB of level 0 fits the cap: one pass on one unit.
        ("1024x1024x480 over 128^3",
         ((1024, 1024, 480), (128,) * 3, (64,) * 3, 4), 1, 8, None,
         [(0, 4)], None),
        # 32 MiB of level 0: one pass on one unit.
        ("256^3 over 64^3", ((256,) * 3, (64,) * 3, (32,) * 3, 4), 1, 16,
         None, [(0, 4)], None),
        # Level 2's x block is three 12-voxel shards (36 voxels, clipped
        # to its 15), the footprint of two of level 1's 18-voxel shards.
        ("100x80x60 over 18^3", ((100, 80, 60), (18,) * 3, (6,) * 3, 4), 1,
         16, None, [(0, 4)], None),
        # Level 1's odd 101-voxel shards are off the window grid; a store
        # pass reads two of them as one group and goes to the last level.
        ("300^3 over 101^3", ((300,) * 3, (101,) * 3, (101,) * 3, 5), 1,
         16, None, [(0, 2), (1, 4)],
         "level 2's shards do not nest on level 1's"),
        ("cap 0", perfbench, 4, 8, 0, [(0, 2), (1, 2), (2, 2)],
         "CASCADE_MAX_GROUP_BYTES=0"),
        ("one level", ((64, 64, 64), (64,) * 3, (64,) * 3, 1), 1, 8, None,
         [], None),
    ]
    for name, (shape, shard, chunk, n_levels), n_tiles, ranges, cap, want, \
            reason in table:
        settings, specs = _specs(shape, shard, chunk, n_levels)
        all_specs = {f"t{i}": specs for i in range(n_tiles)}
        if cap is not None:
            monkeypatch.setattr(pipeline, "CASCADE_MAX_GROUP_BYTES", cap)
        caplog.clear()
        with caplog.at_level("WARNING", logger=logger):
            assert mt.pyramid_passes(all_specs, settings, ranges) == want, name
        monkeypatch.undo()
        records = [r for r in caplog.records if r.name == logger]
        if reason is None:
            assert records == [], name
        else:
            (rec,) = records
            assert reason in rec.getMessage(), name
            assert rec.pyramid_passes == [[b, b + d - 1] for b, d in want]
        # Every pass's units are whole groups at its base level.
        for base, depth in want:
            g = mt._grid("t0", None, specs, base, base + depth - 1, settings)
            assert all(u % n == 0 or u >= d
                       for u, n, d in zip(g.unit, g.group, g.dims)), name

    # A store pass widens a one-shard group onto the window grid; with
    # factor 3, 50-voxel shards need groups of 3 on y and x, 6 on z.
    settings, specs = _specs((300,) * 3, (101,) * 3, (101,) * 3, 5)
    assert mt._grid("t", None, specs, 1, 4, settings).group == (202,) * 3


def test_cascade_group_multiple_gate():
    """The group-alignment gate for one reduce step: a superchunk group
    whose extent the factor divides keeps the plain multiple; otherwise
    the multiple grows by factor / gcd(extent, factor) on that axis
    only."""
    sm = (2, 1, 1)

    def multiple(shard, factor):
        _, specs = _specs((300,) * 3, shard, shard, 2)
        return pipeline.cascade_group_multiple(specs[0], factor, sm)

    # Power-of-two shards, factor 2: already aligned, group == sm.
    assert multiple((64, 64, 64), (2, 2, 2)) == (2, 1, 1)
    # 18 % 4 != 0 no longer matters: one step needs only 18 % 2 == 0.
    assert multiple((18, 18, 18), (2, 2, 2)) == (2, 1, 1)
    # Odd 101-voxel shards: z's 202-voxel group is even, y and x double.
    assert multiple((101, 101, 101), (2, 2, 2)) == (2, 2, 2)
    # Factor 3 on 48-voxel shards: 96 and 48 both divide by 3.
    assert multiple((48, 48, 48), (3, 3, 3)) == (2, 1, 1)
    # Factor 3 on 50-voxel shards: triple every axis.
    assert multiple((50, 50, 50), (3, 3, 3)) == (6, 3, 3)
    # An axis with factor 1 never widens.
    assert multiple((101, 101, 101), (2, 2, 1)) == (2, 2, 1)


@pytest.mark.parametrize(
    "shape,mode,levels,shard,chunk",
    [
        # 18 % 2^2 != 0: the OLD alignment gate rejected these; the
        # group-aligned cascade (36-voxel groups) must still be
        # byte-identical to one-step passes.
        ("100,80,60", "mean", 3, (18, 18, 18), (6, 6, 6)),
        ("90,66,50", "mode", 3, (18, 18, 18), (9, 9, 9)),
        ("100,80,60", "stride", 4, (20, 20, 20), (10, 10, 10)),
        # Odd shards: level 2's do not nest on level 1's, so a store
        # pass reads level 1 in two-shard groups and writes levels 2-4
        # in-task.
        ("300,300,300", "mean", 5, (101, 101, 101), (101, 101, 101)),
    ],
)
def test_misaligned_cascade_matches_loop_bytes(
    spark, shape, mode, levels, shard, chunk
):
    """A block may span several shards of its level: the first three
    geometries run in one pass; the last runs in two because odd shards
    put level 1's blocks off the window grid."""
    want = {
        ("100,80,60", "mean"): [[0, 2]],
        ("90,66,50", "mode"): [[0, 2]],
        ("100,80,60", "stride"): [[0, 3]],
        ("300,300,300", "mean"): [[0, 1], [1, 4]],
    }[shape, mode]
    with tempfile.TemporaryDirectory() as tmp:
        a = os.path.join(tmp, "cascade.zarr")
        b = os.path.join(tmp, "loop.zarr")
        ra = _convert(
            spark, a, shape, mode, levels, shard=shard, chunk=chunk
        )
        rb = _convert(
            spark, b, shape, mode, levels, cap=0, shard=shard, chunk=chunk
        )
        # The plan-choice record says which plan each run took.
        assert ra["pyramid_plan"] == (
            "fused_cascade" if len(want) == 1 else "cascade_passes"
        )
        assert ra["pyramid_passes"] == want
        assert rb["pyramid_plan"] == "cascade_passes"
        assert rb["pyramid_passes"] == [[i, i + 1] for i in range(levels - 1)]
        assert _tree_hash(a) == _tree_hash(b)


def test_two_pass_cascade_matches_one_pass_bytes(spark, caplog):
    """A cap that admits level 1 in-task but not level 2 splits a
    4-level pyramid over 256^3 in 64^3 shards into [(0, 2), (1, 3)]:
    the second pass reads level 1 back from the store and writes levels
    2-3 in-task. Held bytes (uint16): a 128x64x64 group, 1 MiB, plus a
    64^3 block per level, 512 KiB each: 2,097,152 B to level 2, over a
    2,000,000 B cap; the store pass holds a 64^3 group, a 64^3 block
    and a 32^3 one, 1,114,112 B. That plan logs one record naming the
    cap; the one-pass plan logs none. Over 18^3 shards a 200,000 B cap
    never binds, but it puts the 960,000 B level 0 over the cap, so the
    unit count applies: level 2's 4 units would starve the session's 16
    writer ranges where level 1 has 18, and the pyramid runs [(0, 2),
    (1, 3)] without a record."""
    logger = "aind_exaspim_data_transformation_spark.zarrio.multitile"

    def records():
        out = [r for r in caplog.records if r.name == logger]
        caplog.clear()
        return out

    shard, chunk = (18, 18, 18), (6, 6, 6)
    with tempfile.TemporaryDirectory() as tmp, caplog.at_level(
        "WARNING", logger=logger
    ):
        a = os.path.join(tmp, "one.zarr")
        b = os.path.join(tmp, "two.zarr")
        ra = _convert(spark, a, "256,256,256", "mean", 4)
        assert records() == []
        rb = _convert(spark, b, "256,256,256", "mean", 4, cap=2_000_000)
        (rec,) = records()
        assert rec.pyramid_passes == [[0, 1], [1, 3]]
        assert "CASCADE_MAX_GROUP_BYTES=2000000" in rec.getMessage()
        assert ra["pyramid_plan"] == "fused_cascade"
        assert ra["pyramid_passes"] == [[0, 3]]
        assert rb["pyramid_plan"] == "cascade_passes"
        assert rb["pyramid_passes"] == [[0, 1], [1, 3]]
        assert _tree_hash(a) == _tree_hash(b)
        assert [s["level"] for s in rb["stages"]] == [0, 1, 2, 3]
        for sa, sb in zip(ra["stages"], rb["stages"]):
            assert sa["n_shards"] == sb["n_shards"]
            assert sa["bytes_written"] == sb["bytes_written"]

        a = os.path.join(tmp, "one18.zarr")
        b = os.path.join(tmp, "two18.zarr")
        for out, cap, want in (
            (a, None, [[0, 3]]), (b, 200_000, [[0, 1], [1, 3]])
        ):
            res = _convert(
                spark, out, "100,80,60", "mean", 4, cap=cap, shard=shard,
                chunk=chunk,
            )
            assert res["pyramid_passes"] == want
            assert records() == []
        assert _tree_hash(a) == _tree_hash(b)


def test_cascade_idempotent_rerun(spark):
    """Re-running the cascade over an existing store rewrites identical
    bytes (the retry/speculation safety the loop path guarantees)."""
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "s.zarr")
        _convert(spark, out, "200,130,70", "mean", 3)
        h1 = _tree_hash(out)
        _convert(spark, out, "200,130,70", "mean", 3)
        assert _tree_hash(out) == h1


def test_multitile_cascade_matches_loop_bytes(spark, tmp_path, monkeypatch):
    """The multi-tile fused cascade must write byte-identical stores in
    one pass and in one-step passes for every tile, including
    edge-truncated grids."""
    import numpy as np

    import aind_exaspim_data_transformation_spark.zarrio.multitile as mt
    from aind_exaspim_data_transformation_spark.sources.tensor import (
        write_npy_pyramid,
    )

    rng = np.random.default_rng(5)
    sources = []
    for i, shape in enumerate([(20, 14, 10), (16, 16, 16), (9, 9, 9)]):
        arr = rng.integers(0, 65535, size=shape, dtype=np.uint16)
        src = str(tmp_path / f"cmp_tile{i}")
        write_npy_pyramid(src, arr, n_levels=1)
        sources.append(src)

    def run(tag, one_step):
        tiles = [
            (src, str(tmp_path / f"{tag}_store{i}.zarr"))
            for i, src in enumerate(sources)
        ]
        if one_step:
            monkeypatch.setattr(pipeline, "CASCADE_MAX_GROUP_BYTES", 0)
        return tiles, mt.convert_tiles_to_zarr(
            spark,
            tiles,
            ConvertJobSettings(
                input_source="ignored",
                output_location="ignored",
                chunk_shape=(8, 8, 8),
                shard_shape=(8, 8, 8),
                translate_pyramid=False,
                downsample_levels=3,
                downsample_mode="mean",
            ),
        )

    def hashes(tiles):
        return {
            i: _tree_hash(store) for i, (_, store) in enumerate(tiles)
        }

    cascade, res = run("casc", one_step=False)
    assert res["pyramid_plan"] == "fused_cascade"
    passes, res = run("passes", one_step=True)
    assert res["pyramid_passes"] == [[0, 1], [1, 2]]
    assert hashes(cascade) == hashes(passes)
    assert all(len(h) > 3 for h in hashes(cascade).values())


STAGE_KEYS = {
    "n_shards",
    "bytes_read",
    "bytes_written",
    "task_seconds",
    "n_errors",
    "error_samples",
}


@pytest.mark.parametrize(
    "plan", ["translate", "fused_cascade", "cascade_passes", "v2"]
)
def test_stage_dicts_share_one_key_set(spark, tmp_path, monkeypatch, plan):
    """Every stage dict carries the same stats keys whichever plan ran,
    through both entry points: the level-0 copy, a Zarr v2 copy, the
    cascade's deeper levels in one pass or several all come from one
    aggregation."""
    import aind_exaspim_data_transformation_spark.zarrio.multitile as mt

    if plan == "cascade_passes":
        monkeypatch.setattr(pipeline, "CASCADE_MAX_GROUP_BYTES", 0)
    translate = plan in ("translate", "v2")
    zarr_format = 2 if plan == "v2" else 3
    settings = ConvertJobSettings(
        input_source="synth://96,80,64,3",
        output_location=str(tmp_path / "one.zarr"),
        chunk_shape=(16, 16, 16),
        shard_shape=(32, 32, 32),
        translate_pyramid=translate,
        downsample_levels=3,
    )
    res = pipeline.convert_to_zarr(spark, settings, zarr_format=zarr_format)
    levels = [0] if translate else [0, 1, 2]
    assert [s["level"] for s in res["stages"]] == levels
    for s in res["stages"]:
        assert set(s) == STAGE_KEYS | {"level"}, s
        assert s["n_errors"] == 0 and s["error_samples"] == []
    assert res.get("pyramid_plan") == (None if translate else plan)

    multi = mt.convert_tiles_to_zarr(
        spark,
        [(settings.input_source, str(tmp_path / "multi.zarr"))],
        settings,
        zarr_format=zarr_format,
    )
    for t in multi["tiles"].values():
        assert set(t) == STAGE_KEYS | {"tile_path"}, t
    for s in multi.get("downsample_stages", []):
        assert set(s) == STAGE_KEYS | {"level"}, s
    assert len(multi.get("downsample_stages", [])) == (0 if translate else 2)
    assert multi.get("pyramid_plan") == (None if translate else plan)
