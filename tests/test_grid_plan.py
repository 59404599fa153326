"""Shard-grid goldens (reference grid-math tests,
compress/imaris_to_zarr.py:277-372 semantics) for ``format.shard_grid``,
the one grid every conversion stage enumerates."""

from aind_exaspim_data_transformation_spark.zarrio.format import shard_grid


def test_golden_shard_grid_768_2688_3584():
    rows = list(shard_grid((768, 2688, 3584), (256, 256, 256)))
    # grid (3, 11, 14) -> 462 shards (reference :298-299)
    assert len(rows) == 3 * 11 * 14
    by_idx = {r[:3]: r[3:] for r in rows}
    # shard (0,1,2) -> slices (0:256, 256:512, 512:768) (reference :331-332)
    assert by_idx[(0, 1, 2)] == (0, 256, 256, 512, 512, 768)


def test_truncated_edges_and_counts():
    rows = list(shard_grid((50, 50, 50), (32, 32, 32)))
    # row-major: x varies fastest
    assert [r[:3] for r in rows] == [
        (z, y, x) for z in (0, 1) for y in (0, 1) for x in (0, 1)
    ]
    z0, z1, y0, y1, x0, x1 = rows[-1][3:]
    assert (z1 - z0, y1 - y0, x1 - x0) == (18, 18, 18)
