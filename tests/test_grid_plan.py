"""Shard-grid goldens (reference grid-math tests,
compress/imaris_to_zarr.py:277-372 semantics) for ``format.shard_grid``,
the one grid every conversion stage enumerates, and the coverage
property of ``format.grid_cells``, the region-to-grid walk under it."""

import numpy as np

from aind_exaspim_data_transformation_spark.zarrio.format import (
    grid_cells,
    shard_grid,
)


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


def test_grid_cells_cover_region_exactly_once():
    """Random rank-3 regions (empty extents and non-zero origins
    included) over random block shapes: the ``outer`` slices cover every
    voxel of the region exactly once, each ``inner`` has its ``outer``'s
    shape and lies inside one block, and cells come in row-major order."""
    rng = np.random.default_rng(20241017)
    for case in range(200):
        block = tuple(int(b) for b in rng.integers(1, 9, 3))
        starts = tuple(int(a) for a in rng.integers(0, 20, 3))
        extent = [int(e) for e in rng.integers(0, 25, 3)]
        if case % 10 == 0:
            extent[case % 3] = 0
        stops = tuple(a + e for a, e in zip(starts, extent))
        counter = np.zeros(extent, dtype=np.int32)
        cells = list(grid_cells(starts, stops, block))
        for idx, inner, outer in cells:
            counter[outer] += 1
            assert counter[outer].shape == tuple(
                s.stop - s.start for s in inner
            )
            for i, s, b, a, o in zip(idx, inner, block, starts, outer):
                assert 0 <= s.start < s.stop <= b
                # inner and outer name the same global voxels
                assert i * b + s.start == a + o.start
        assert (counter == 1).all(), (starts, stops, block)
        if 0 in extent:
            assert cells == []
        idxs = [c[0] for c in cells]
        assert idxs == sorted(idxs)
