"""Fused pyramid cascade in one pass vs in several passes.

The cascade (zarrio/multitile.py: `_GlobalWriter` with its `cascade`
step and `_make_global_assembler`, reached through
`pipeline.convert_to_zarr` as a one-tile call) computes every pyramid
level inside ONE Spark job — the source writer reduces each superchunk
group's block recursively and ships compressed partials through a single
shuffle. When a window-aligned group would exceed
`pipeline.CASCADE_MAX_GROUP_BYTES` it runs in passes, each later pass
reading its base level back from the store; with the cap at 0 every
pass is one reduce step, the sequential level-by-level pyramid (which
is golden-tested against the reference's downsample semantics). For
any shape / mode / depth every pass plan must write a BYTE-identical
store, because the deterministic-shard-bytes guarantee (gzip mtime=0 /
fixed zstd frames) is what makes re-runs idempotent.
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


def _settings(shard, n_levels):
    return ConvertJobSettings(
        input_source="unused",
        output_location="unused",
        chunk_shape=shard,
        shard_shape=shard,
        translate_pyramid=False,
        downsample_levels=n_levels,
    )


def _specs(shard, shape=(4096, 4096, 4096), n_levels=2):
    """Per-level uint16 specs of a factor-2 pyramid over ``shape``, with
    ``shard`` (and a one-chunk shard) clamped per level."""
    from types import SimpleNamespace

    settings = _settings(shard, n_levels)
    shapes = pipeline._level_shapes(settings, SimpleNamespace(shapes=[shape]))
    return pipeline._level_specs(settings, shapes, "uint16")


def test_cascade_group_multiple_gate():
    """The group-alignment gate: power-of-two configs keep the plain
    superchunk grouping; factor-indivisible shards get a scaled (but
    small) aligned group; pathological shards that would need a
    gigabyte group are refused (None)."""
    sm = (2, 1, 1)
    # 64^3 shards, factor 2, depth 3: already aligned, group == sm.
    assert pipeline.cascade_group_multiple(
        _specs((64, 64, 64))[0], (2, 2, 2), 3, sm
    ) == (2, 1, 1)
    # 48^3 shards at depth 6 (48 % 32 != 0 — the OLD gate rejected
    # this): a (2,2,2)-shard group (96^3 voxels) is 32-aligned.
    assert pipeline.cascade_group_multiple(
        _specs((48, 48, 48))[0], (2, 2, 2), 6, sm
    ) == (2, 2, 2)
    # factor 3: 48 has one factor of 3, depth 3 needs 9 -> triple the
    # y/x group; z already has sm=2 -> 96 -> needs m=3 as well.
    assert pipeline.cascade_group_multiple(
        _specs((48, 48, 48))[0], (3, 3, 3), 3, sm
    ) == (6, 3, 3)
    # Odd 101^3 shard at depth 5 needs 1616-voxel groups -> over the
    # 1 GiB cap.
    assert (
        pipeline.cascade_group_multiple(
            _specs((101, 101, 101))[0], (2, 2, 2), 5, sm
        )
        is None
    )
    # Single level: nothing to cascade.
    assert (
        pipeline.cascade_group_multiple(
            _specs((64, 64, 64))[0], (2, 2, 2), 1, sm
        )
        is None
    )
    # The byte estimate clamps the group to the array shape: the same
    # odd shard on a small array fits and cascades.
    assert pipeline.cascade_group_multiple(
        _specs((101, 101, 101), shape=(300, 300, 300))[0],
        (2, 2, 2), 5, sm,
    ) == (16, 16, 16)


def test_pyramid_passes_plan(monkeypatch):
    """The pass planner: one pass when the full-depth group fits the
    cap, else passes chained base to base, each within the cap unless
    it is one step deep; a cap of 0 gives one-step passes."""
    import aind_exaspim_data_transformation_spark.zarrio.multitile as mt

    def chained(passes, n_levels):
        levels = [(b, b + d - 1) for b, d in passes]
        return (
            levels[0][0] == 0
            and levels[-1][1] == n_levels - 1
            and all(a[1] == b[0] for a, b in zip(levels, levels[1:]))
        )

    st = _settings((64, 64, 64), 5)
    pow2 = {"t0": _specs((64, 64, 64), n_levels=5), "t1": _specs(
        (64, 64, 64), shape=(300, 260, 200), n_levels=5)}
    assert mt.pyramid_passes(pow2, st) == [(0, 5)]

    st = _settings((101, 101, 101), 5)
    odd = {"t0": _specs((101, 101, 101), n_levels=5)}
    passes = mt.pyramid_passes(odd, st)
    assert len(passes) > 1 and chained(passes, 5)
    for base, depth in passes:
        if depth > 2:
            spec = odd["t0"][base]
            assert mt._pass_multiple(spec, base, depth, st) is not None

    # One single-level tile set: nothing to compute.
    assert mt.pyramid_passes({"t0": _specs((64, 64, 64), n_levels=1)},
                             _settings((64, 64, 64), 1)) == []

    monkeypatch.setattr(pipeline, "CASCADE_MAX_GROUP_BYTES", 0)
    assert mt.pyramid_passes(pow2, st) == [(0, 2), (1, 2), (2, 2), (3, 2)]


@pytest.mark.parametrize(
    "shape,mode,levels,shard,chunk",
    [
        # 18 % 2^2 != 0: the OLD alignment gate rejected these; the
        # group-aligned cascade (36-voxel groups) must still be
        # byte-identical to one-step passes.
        ("100,80,60", "mean", 3, (18, 18, 18), (6, 6, 6)),
        ("90,66,50", "mode", 3, (18, 18, 18), (9, 9, 9)),
        ("100,80,60", "stride", 4, (20, 20, 20), (10, 10, 10)),
    ],
)
def test_misaligned_cascade_matches_loop_bytes(
    spark, shape, mode, levels, shard, chunk
):
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
        assert ra["pyramid_plan"] == "fused_cascade"
        assert ra["pyramid_passes"] == [[0, levels - 1]]
        assert rb["pyramid_plan"] == "cascade_passes"
        assert rb["pyramid_passes"] == [[i, i + 1] for i in range(levels - 1)]
        assert _tree_hash(a) == _tree_hash(b)


def test_two_pass_cascade_matches_one_pass_bytes(spark, caplog):
    """A cap that admits a depth-3 group but not a depth-4 one splits a
    4-level pyramid over 18^3 shards into [(0, 3), (2, 2)]: the second
    pass reads level 2 back from the store. Group bytes (uint16, 2x the
    superchunk on z): depth 3 needs 36^3 = 93,312 B, depth 4 needs
    72x72x60 = 622,080 B."""
    shard, chunk = (18, 18, 18), (6, 6, 6)
    logger = "aind_exaspim_data_transformation_spark.zarrio.multitile"
    with tempfile.TemporaryDirectory() as tmp:
        a = os.path.join(tmp, "one.zarr")
        b = os.path.join(tmp, "two.zarr")
        with caplog.at_level("WARNING", logger=logger):
            ra = _convert(
                spark, a, "100,80,60", "mean", 4, shard=shard, chunk=chunk
            )
            assert not [r for r in caplog.records if r.name == logger]
            rb = _convert(
                spark, b, "100,80,60", "mean", 4, cap=200_000, shard=shard,
                chunk=chunk,
            )
        # The multi-pass plan logs ONE record naming the passes and cap.
        (rec,) = [r for r in caplog.records if r.name == logger]
        assert rec.pyramid_passes == [[0, 2], [2, 3]]
        assert "200000" in rec.getMessage()
        assert ra["pyramid_passes"] == [[0, 3]]
        assert rb["pyramid_plan"] == "cascade_passes"
        assert rb["pyramid_passes"] == [[0, 2], [2, 3]]
        assert _tree_hash(a) == _tree_hash(b)
        assert [s["level"] for s in rb["stages"]] == [0, 1, 2, 3]
        for sa, sb in zip(ra["stages"], rb["stages"]):
            assert sa["n_shards"] == sb["n_shards"]
            assert sa["bytes_written"] == sb["bytes_written"]


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
        else:
            monkeypatch.undo()
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
