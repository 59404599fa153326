"""OME-NGFF metadata goldens (reference tests/test_translation_fix.py:88-94
and FIXTURES.md A5), and the multiscales a conversion writes."""

import json
import os

import numpy as np
import pytest

from aind_exaspim_data_transformation_spark.config import ConvertJobSettings
from aind_exaspim_data_transformation_spark.sources.tensor import (
    write_imaris_file,
)
from aind_exaspim_data_transformation_spark.zarrio.metadata import (
    downscale_origins,
    multiscales_metadata,
)
from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
    convert_to_zarr,
)


def test_translation_golden_values():
    # voxel (1,1,1), factor 2, origin 0, 5 levels ->
    # per-axis translations [0, 0.5, 1.5, 3.5, 7.5].
    origins, voxels = downscale_origins(
        (0.0, 0.0, 0.0), (1.0, 1.0, 1.0), [(2.0, 2.0, 2.0)] * 4
    )
    assert [o[0] for o in origins] == [0.0, 0.5, 1.5, 3.5, 7.5]
    assert [v[0] for v in voxels] == [1.0, 2.0, 4.0, 8.0, 16.0]


def test_anisotropic_factors_and_origin():
    origins, voxels = downscale_origins(
        (30.5, 20.5, 10.5), (1.0, 0.748, 0.748), [(1.0, 2.0, 2.0)] * 2
    )
    # z untouched (factor 1)
    assert [o[0] for o in origins] == [30.5, 30.5, 30.5]
    assert voxels[2] == [1.0, 0.748 * 4, 0.748 * 4]
    assert origins[1][1] == 20.5 + 0.748 / 2


def test_multiscales_structure():
    meta = multiscales_metadata(
        "tile_000000_ch_488", (1.0, 1.0, 1.0), [(2.0, 2.0, 2.0)] * 4
    )
    ome = meta["ome"]
    assert ome["version"] == "0.5"
    ms = ome["multiscales"][0]
    assert [a["name"] for a in ms["axes"]] == ["t", "c", "z", "y", "x"]
    assert ms["axes"][2]["unit"] == "micrometer"
    assert ms["axes"][0]["unit"] == "millisecond"
    assert len(ms["datasets"]) == 5
    d1 = ms["datasets"][1]
    assert d1["path"] == "1"
    kinds = [t["type"] for t in d1["coordinateTransformations"]]
    assert kinds == ["scale", "translation"]
    assert d1["coordinateTransformations"][0]["scale"] == [1, 1, 2, 2, 2]
    assert d1["coordinateTransformations"][1]["translation"] == [
        0,
        0,
        0.5,
        0.5,
        0.5,
    ]
    assert ome["omero"]["channels"][0]["window"]["max"] == 65535


def test_omero_channel_windows_and_validation():
    """Omero entries follow the reference's _build_ome/_validate pair
    (compress/omezarr_metadata.py:36-96, :251-282)."""
    import pytest

    from aind_exaspim_data_transformation_spark.zarrio.metadata import (
        build_omero,
        validate_omero,
    )

    omero = build_omero("img", n_channels=2)
    validate_omero(omero)  # structurally valid by construction
    ch0, ch1 = omero["channels"]
    assert ch0["label"] == "Channel:img:0"
    assert ch0["color"] == "000000" and ch1["color"] == "000001"
    assert ch0["window"] == {
        "end": 1.0, "max": 1.0, "min": 0.0, "start": 0.0,
    }
    assert all(isinstance(v, float) for v in ch0["window"].values())

    custom = build_omero(
        "img",
        n_channels=1,
        channel_names=["ch488"],
        channel_colors=[0x00FF00],
        channel_minmax=[(0.0, 65535.0)],
        channel_startend=[(90.0, 1500.0)],
    )
    validate_omero(custom)
    w = custom["channels"][0]["window"]
    assert custom["channels"][0]["color"] == "00ff00"
    assert (w["start"], w["end"], w["min"], w["max"]) == (
        90.0, 1500.0, 0.0, 65535.0,
    )

    with pytest.raises(TypeError):
        validate_omero({"channels": [{"color": "xyz"}]})
    with pytest.raises(TypeError):
        validate_omero({"channels": [{"color": 123456}]})
    with pytest.raises(KeyError):
        validate_omero(
            {"channels": [{"window": {"min": 0, "max": 1, "start": 0}}]}
        )
    with pytest.raises(TypeError):
        validate_omero({"channels": [{"window": "0..1"}]})
    validate_omero(None)  # empty metadata is allowed


def test_multiscales_omero_defaults_validated():
    meta = multiscales_metadata("tile", (1.0, 1.0, 1.0), [(2.0, 2.0, 2.0)])
    ch = meta["ome"]["omero"]["channels"][0]
    assert ch["window"] == {
        "end": 65535.0, "max": 65535.0, "min": 0.0, "start": 0.0,
    }
    assert ch["label"] == "channel_0"


def _npy_stride3(path):
    """A 42x51x60 npy pyramid whose level 1 is level 0 strided by 3."""
    rng = np.random.default_rng(3)
    level0 = rng.integers(0, 65535, size=(42, 51, 60), dtype=np.uint16)
    os.makedirs(path)
    for lvl, arr in enumerate([level0, level0[::3, ::3, ::3]]):
        np.save(os.path.join(path, f"level_{lvl}.npy"), arr)
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(
            {
                "n_levels": 2,
                "dtype": "uint16",
                "shapes": [[42, 51, 60], [14, 17, 20]],
                "voxel_size": [2.0, 0.5, 0.25],
                "origin": [10.0, 20.0, 30.0],
            },
            f,
        )
    return (2.0, 0.5, 0.25), (10.0, 20.0, 30.0), (3.0, 3.0, 3.0)


def _ims_anisotropic(path):
    """A 16x32x32 Imaris pyramid whose level 1 keeps Z and halves Y, X."""
    rng = np.random.default_rng(4)
    level0 = rng.integers(0, 65535, size=(16, 32, 32), dtype=np.uint16)
    write_imaris_file(
        path, [level0, level0[:, ::2, ::2]],
        ext_min=(5.0, 6.0, 7.0), voxel_size=(2.0, 0.5, 0.5),
    )
    return (2.0, 0.5, 0.5), (5.0, 6.0, 7.0), (1.0, 2.0, 2.0)


@pytest.mark.parametrize("zarr_format", [3, 2])
@pytest.mark.parametrize(
    "make_source, name",
    [(_npy_stride3, "tile"), (_ims_anisotropic, "tile.ims")],
    ids=["npy_stride3", "ims_anisotropic"],
)
def test_translated_levels_get_their_own_factors(
    spark, tmp_path, make_source, name, zarr_format
):
    """A translated pyramid's multiscales take each level's factor from
    the level shapes (reference X4), not from ``scale_factor``: level 1
    is scaled by the factor and shifted by voxel * (factor - 1) / 2."""
    src = str(tmp_path / name)
    voxel, origin, factors = make_source(src)
    store = tmp_path / "out.zarr"
    convert_to_zarr(
        spark,
        ConvertJobSettings(
            input_source=src,
            output_location=str(store),
            chunk_shape=(16, 16, 16),
            shard_shape=(32, 32, 32),
        ),
        zarr_format=zarr_format,
    )
    if zarr_format == 3:
        attrs = json.loads((store / "zarr.json").read_text())["attributes"]
    else:
        attrs = json.loads((store / ".zattrs").read_text())
    datasets = attrs["ome"]["multiscales"][0]["datasets"]
    assert [d["path"] for d in datasets] == ["0", "1"]
    (scale0, shift0), (scale1, shift1) = (
        [t[t["type"]] for t in d["coordinateTransformations"]]
        for d in datasets
    )
    assert scale0 == [1.0, 1.0, *voxel]
    assert shift0 == [0.0, 0.0, *origin]
    assert scale1 == [1.0, 1.0, *(v * f for v, f in zip(voxel, factors))]
    assert shift1 == [
        0.0, 0.0,
        *(o + v * (f - 1) / 2 for o, v, f in zip(origin, voxel, factors)),
    ]
