"""Real-HDF5 Imaris read path (SURVEY §2A S4/M1), exercised end-to-end
through the pure-Python HDF5 subset in sources/minihdf5.py.

Covers the reference's two subtlest correctness hazards:
- scalar attrs stored as byte-char arrays needing ``.tobytes()`` decode
  (reference utils/io_utils.py:461-466, :576-579);
- padded-vs-metadata dataset shapes, where the authoritative shape comes
  from DataSetInfo and coarse levels are reconstructed by padded-ratio
  scaling (reference utils/io_utils.py:430-525; regression twin of the
  reference's tests/test_imaris_job.py:1309-1387).

When h5py is installed the same fixture files are cross-checked with it
(skipped otherwise — minihdf5 writes spec-conformant bytes).
"""

import numpy as np
import pytest

from aind_exaspim_data_transformation_spark.config import ConvertJobSettings
from aind_exaspim_data_transformation_spark.job import (
    TileJobSettings,
    run_job,
)
from aind_exaspim_data_transformation_spark.sources import minihdf5
from aind_exaspim_data_transformation_spark.sources.tensor import (
    Hdf5ImarisSource,
    open_source,
    write_imaris_file,
)
from aind_exaspim_data_transformation_spark.zarrio.format import (
    read_array_region,
)
from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
    convert_to_zarr,
)


@pytest.fixture(scope="module")
def ims_fixture(tmp_path_factory):
    """Padded 2-level Imaris tree: meta (10, 12, 14) stored as (16, 16,
    16); level 1 true (5, 6, 7) stored as (8, 8, 8)."""
    rng = np.random.default_rng(3)
    l0 = np.zeros((16, 16, 16), np.uint16)
    l0[:10, :12, :14] = rng.integers(0, 65535, (10, 12, 14), np.uint16)
    l1 = np.zeros((8, 8, 8), np.uint16)
    l1[:5, :6, :7] = rng.integers(0, 65535, (5, 6, 7), np.uint16)
    path = str(tmp_path_factory.mktemp("ims") / "tile_000000_ch_488.ims")
    write_imaris_file(
        path, [l0, l1], meta_shape=(10, 12, 14),
        ext_min=(1.0, 2.0, 3.0), voxel_size=(2.0, 0.5, 0.5),
    )
    return path, l0, l1


def test_attr_tobytes_quirk(ims_fixture):
    """Attrs come back as S1 byte arrays — int(a.tobytes()) is required,
    int(a) would fail — exactly the reference's decode quirk."""
    path, _, _ = ims_fixture
    f = minihdf5.File(path, "r")
    z = f["DataSetInfo/Image"].attrs["Z"]
    assert z.dtype == np.dtype("S1") and z.shape == (2,)
    with pytest.raises(TypeError):
        int(z)
    assert int(z.tobytes()) == 10
    chan = f["DataSet/ResolutionLevel 0/TimePoint 0/Channel 0"]
    assert chan["Data"].shape == (16, 16, 16)  # padded on disk
    assert int(chan.attrs["ImageSizeZ"].tobytes()) == 16
    f.close()


def test_padded_vs_metadata_shapes(ims_fixture):
    """meta.shapes must be the TRUE shapes, not the padded HDF5 shapes;
    coarse levels are scaled by the padded ratio."""
    path, l0, l1 = ims_fixture
    src = open_source(path)
    assert isinstance(src, Hdf5ImarisSource)
    assert len(src.meta.shapes) == 2
    assert src.meta.dtype == "uint16"
    assert src.meta.shapes == [(10, 12, 14), (5, 6, 7)]
    # voxel size from Ext bounds over the META shape, origin = ExtMin ZYX
    assert src.meta.voxel_size == (2.0, 0.5, 0.5)
    assert src.meta.origin == (1.0, 2.0, 3.0)
    # hyperslab reads hit the stored (padded) array at true coordinates
    np.testing.assert_array_equal(
        src.read_block(0, 2, 9, 0, 12, 3, 14), l0[2:9, 0:12, 3:14]
    )
    np.testing.assert_array_equal(
        src.read_block(1, 0, 5, 0, 6, 0, 7), l1[0:5, 0:6, 0:7]
    )
    src.close()


def test_ims_to_zarr_voxel_roundtrip(spark, ims_fixture, tmp_path):
    """Full conversion from the .ims fixture: every level in the Zarr
    store equals the unpadded source voxels."""
    path, l0, l1 = ims_fixture
    store = str(tmp_path / "ims_out.zarr")
    settings = ConvertJobSettings(
        input_source=path,
        output_location=store,
        chunk_shape=(8, 8, 8),
        shard_shape=(8, 8, 8),
        translate_pyramid=True,
    )
    result = convert_to_zarr(spark, settings)
    assert result["n_levels"] == 2
    for lvl, (true_shape, padded) in enumerate(
        [((10, 12, 14), l0), ((5, 6, 7), l1)]
    ):
        got = read_array_region(
            store, lvl,
            (slice(0, 1), slice(0, 1), slice(0, true_shape[0]),
             slice(0, true_shape[1]), slice(0, true_shape[2])),
        )[0, 0]
        want = padded[: true_shape[0], : true_shape[1], : true_shape[2]]
        np.testing.assert_array_equal(got, want)


def test_run_job_discovers_ims_tiles(spark, tmp_path_factory):
    """S1 discovery (*.ims glob) + the HDF5 source inside the job loop."""
    root = tmp_path_factory.mktemp("ims_ds")
    rng = np.random.default_rng(9)
    arrays = {}
    for i in range(2):
        name = f"tile_{i:06d}_ch_488.ims"
        arr = rng.integers(0, 65535, (8, 8, 8), np.uint16)
        write_imaris_file(str(root / name), [arr])
        arrays[name] = arr
    out = tmp_path_factory.mktemp("ims_out")
    settings = TileJobSettings(
        input_source=str(root),
        output_location=str(out),
        chunk_shape=(8, 8, 8),
        shard_shape=(8, 8, 8),
        translate_pyramid=True,
    )
    resp = run_job(spark, settings)
    assert resp.status_code == 200
    assert resp.data["stats"]["n_tiles"] == 2
    for i in range(2):
        store = str(out / f"tile_{i:06d}_ch_488.zarr")
        got = read_array_region(
            store, 0,
            (slice(0, 1), slice(0, 1), slice(0, 8), slice(0, 8),
             slice(0, 8)),
        )[0, 0]
        np.testing.assert_array_equal(
            got, arrays[f"tile_{i:06d}_ch_488.ims"]
        )


def test_h5py_cross_check(ims_fixture):
    """minihdf5 writes spec-conformant HDF5: h5py (when present) must
    read back identical voxels and the same S1 attr arrays."""
    h5py = pytest.importorskip("h5py")
    path, l0, _ = ims_fixture
    with h5py.File(path, "r") as f:
        np.testing.assert_array_equal(
            f["DataSet/ResolutionLevel 0/TimePoint 0/Channel 0/Data"][:],
            l0,
        )
        z = f["DataSetInfo/Image"].attrs["Z"]
        assert bytes(z.tobytes()) == b"10"
