"""Fused pyramid cascade vs the per-level store-read loop.

The cascade (zarrio/multitile.py: `_GlobalWriter` with its `cascade`
step and `_make_global_assembler`, reached through
`pipeline.convert_to_zarr` as a one-tile call) computes every pyramid
level inside ONE Spark job — the source writer reduces each superchunk
group's block recursively and ships compressed partials through a single
shuffle. It must be a pure optimization: for any shape / mode / depth
the resulting store must be BYTE-identical to the sequential
level-loop (which is itself golden-tested against the reference's
downsample semantics), because the deterministic-shard-bytes guarantee
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
    force_loop,
    shard=(64, 64, 64),
    chunk=(32, 32, 32),
):
    orig = pipeline.cascade_group_multiple
    if force_loop:
        pipeline.cascade_group_multiple = lambda *a, **k: None
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
        pipeline.cascade_group_multiple = orig


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
        ra = _convert(spark, a, shape, mode, levels, force_loop=False)
        rb = _convert(spark, b, shape, mode, levels, force_loop=True)
        assert _tree_hash(a) == _tree_hash(b)
        # The cascade reports one stats stage per level, like the loop.
        assert len(ra["stages"]) == len(rb["stages"]) == levels
        for sa, sb in zip(ra["stages"], rb["stages"]):
            assert sa["n_shards"] == sb["n_shards"]
            assert sa["bytes_written"] == sb["bytes_written"]


def _specs(shard, shape=(4096, 4096, 4096)):
    from aind_exaspim_data_transformation_spark.zarrio.format import (
        ShardSpec,
    )

    return {
        0: ShardSpec(
            shape=(1, 1, *shape),
            shard_shape=(1, 1, *shard),
            chunk_shape=(1, 1, *shard),
            dtype="uint16",
            codec="zstd",
            codec_level=3,
        ),
        1: None,  # only level count matters to the gate
    }


def test_cascade_group_multiple_gate():
    """The group-alignment gate: power-of-two configs keep the plain
    superchunk grouping; factor-indivisible shards get a scaled (but
    small) aligned group; pathological shards that would need a
    gigabyte group fall back (None)."""
    sm = (2, 1, 1)
    # 64^3 shards, factor 2, depth 3: already aligned, group == sm.
    assert pipeline.cascade_group_multiple(
        _specs((64, 64, 64)), (2, 2, 2), 3, sm
    ) == (2, 1, 1)
    # 48^3 shards at depth 6 (48 % 32 != 0 — the OLD gate rejected
    # this): a (2,2,2)-shard group (96^3 voxels) is 32-aligned.
    assert pipeline.cascade_group_multiple(
        _specs((48, 48, 48)), (2, 2, 2), 6, sm
    ) == (2, 2, 2)
    # factor 3: 48 has one factor of 3, depth 3 needs 9 -> triple the
    # y/x group; z already has sm=2 -> 96 -> needs m=3 as well.
    assert pipeline.cascade_group_multiple(
        _specs((48, 48, 48)), (3, 3, 3), 3, sm
    ) == (6, 3, 3)
    # Odd 101^3 shard at depth 5 needs 1616-voxel groups -> over the
    # 1 GiB cap -> loop.
    assert (
        pipeline.cascade_group_multiple(
            _specs((101, 101, 101)), (2, 2, 2), 5, sm
        )
        is None
    )
    # Single level: nothing to cascade.
    assert (
        pipeline.cascade_group_multiple(
            {0: _specs((64, 64, 64))[0]}, (2, 2, 2), 1, sm
        )
        is None
    )
    # The byte estimate clamps the group to the array shape: the same
    # odd shard on a small array fits and cascades.
    assert pipeline.cascade_group_multiple(
        _specs((101, 101, 101), shape=(300, 300, 300)), (2, 2, 2), 5, sm
    ) == (16, 16, 16)


@pytest.mark.parametrize(
    "shape,mode,levels,shard,chunk",
    [
        # 18 % 2^2 != 0: the OLD alignment gate rejected these; the
        # group-aligned cascade (36-voxel groups) must still be
        # byte-identical to the store-read loop.
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
            spark, a, shape, mode, levels, False, shard=shard, chunk=chunk
        )
        rb = _convert(
            spark, b, shape, mode, levels, True, shard=shard, chunk=chunk
        )
        # The plan-choice record says which path each run took.
        assert ra["pyramid_plan"] == "fused_cascade"
        assert rb["pyramid_plan"] == "level_loop"
        assert _tree_hash(a) == _tree_hash(b)


def test_cascade_idempotent_rerun(spark):
    """Re-running the cascade over an existing store rewrites identical
    bytes (the retry/speculation safety the loop path guarantees)."""
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "s.zarr")
        _convert(spark, out, "200,130,70", "mean", 3, force_loop=False)
        h1 = _tree_hash(out)
        _convert(spark, out, "200,130,70", "mean", 3, force_loop=False)
        assert _tree_hash(out) == h1


def test_multitile_cascade_matches_loop_bytes(spark, tmp_path, monkeypatch):
    """The multi-tile fused cascade must write byte-identical stores to
    the per-level loop for every tile, including edge-truncated grids."""
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

    def run(tag, force_loop):
        tiles = [
            (src, str(tmp_path / f"{tag}_store{i}.zarr"))
            for i, src in enumerate(sources)
        ]
        if force_loop:
            monkeypatch.setattr(
                mt, "_mt_cascade_applicable", lambda *a: False
            )
        else:
            monkeypatch.undo()
        mt.convert_tiles_to_zarr(
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
        return {
            i: _tree_hash(store) for i, (_, store) in enumerate(tiles)
        }

    cascade = run("casc", force_loop=False)
    loop = run("loop", force_loop=True)
    assert cascade == loop
    assert all(len(h) > 3 for h in cascade.values())


STAGE_KEYS = {
    "n_shards",
    "bytes_read",
    "bytes_written",
    "task_seconds",
    "n_errors",
    "error_samples",
}


@pytest.mark.parametrize("plan", ["translate", "fused_cascade", "level_loop"])
def test_stage_dicts_share_one_key_set(spark, tmp_path, monkeypatch, plan):
    """Every stage dict carries the same stats keys whichever plan ran,
    through both entry points: the level-0 copy, the cascade's deeper
    levels and the level loop's all come from one aggregation."""
    import aind_exaspim_data_transformation_spark.zarrio.multitile as mt

    if plan == "level_loop":
        monkeypatch.setattr(
            pipeline, "cascade_group_multiple", lambda *a, **k: None
        )
    translate = plan == "translate"
    settings = ConvertJobSettings(
        input_source="synth://96,80,64,3",
        output_location=str(tmp_path / "one.zarr"),
        chunk_shape=(16, 16, 16),
        shard_shape=(32, 32, 32),
        translate_pyramid=translate,
        downsample_levels=3,
    )
    res = pipeline.convert_to_zarr(spark, settings)
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
    )
    for t in multi["tiles"].values():
        assert set(t) == STAGE_KEYS | {"tile_path"}, t
    for s in multi.get("downsample_stages", []):
        assert set(s) == STAGE_KEYS | {"level"}, s
    assert len(multi.get("downsample_stages", [])) == (0 if translate else 2)
    assert multi.get("pyramid_plan") == (None if translate else plan)
