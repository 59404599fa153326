"""Multi-tile job orchestration: discovery, acquisition.json lookups,
global conversion, single-tile mode, CLI settings parsing."""

import json

import numpy as np
import pytest

from aind_exaspim_data_transformation_spark.job import (
    TileJobSettings,
    _settings_from_args,
    run_job,
)
from aind_exaspim_data_transformation_spark.sources.acquisition import (
    load_acquisition,
    tile_translations,
    translation_table,
    voxel_resolution,
)
from aind_exaspim_data_transformation_spark.sources.discovery import (
    discover_tiles,
)
from aind_exaspim_data_transformation_spark.sources.tensor import (
    write_npy_pyramid,
)
from aind_exaspim_data_transformation_spark.zarrio.format import (
    read_array_region,
)

ACQ = {
    "schema_version": "1.0.0",
    "axes": [
        {"name": "X", "resolution": 0.748},
        {"name": "Y", "resolution": 0.748},
        {"name": "Z", "resolution": 1.0},
    ],
    "tiles": [
        {
            "file_name": "tile_000000_ch_488",
            "coordinate_transformations": [
                {"type": "scale", "scale": [1.0, 1.0, 1.0]},
                {"type": "translation", "translation": [1.5, 2.5, 3.5]},
            ],
        },
        {
            "file_name": "tile_000001_ch_488",
            "coordinate_transformations": [
                {"type": "scale", "scale": [1.0, 1.0, 1.0]}
            ],
        },
    ],
}


@pytest.fixture(scope="module")
def dataset(tmp_path_factory):
    root = tmp_path_factory.mktemp("dataset")
    rng = np.random.default_rng(42)
    arrays = {}
    for i in range(2):
        name = f"tile_{i:06d}_ch_488"
        arr = rng.integers(0, 65535, size=(40, 40, 40), dtype=np.uint16)
        write_npy_pyramid(str(root / name), arr, n_levels=2)
        arrays[name] = arr
    acq_path = root / "acquisition.json"
    acq_path.write_text(json.dumps(ACQ))
    return root, arrays, str(acq_path)


def test_discover_tiles_sorted_and_single(spark, dataset):
    root, _, _ = dataset
    df = discover_tiles(spark, str(root))
    rows = df.collect()
    assert [r.tile_name for r in rows] == [
        "tile_000000_ch_488",
        "tile_000001_ch_488",
    ]
    single = discover_tiles(spark, str(root), single_tile=True).collect()
    assert [r.tile_name for r in single] == ["tile_000000_ch_488"]


def test_discover_empty_dir(spark, tmp_path):
    assert discover_tiles(spark, str(tmp_path)).count() == 0


def test_acquisition_lookups(spark, dataset):
    _, _, acq_path = dataset
    acq = load_acquisition(spark, acq_path)
    assert voxel_resolution(acq) == (1.0, 0.748, 0.748)
    tr = tile_translations(acq).collect()
    assert len(tr) == 1  # the translation-less tile is excluded
    # XYZ mm [1.5, 2.5, 3.5] -> ZYX um (3500, 2500, 1500)
    table = translation_table(acq)
    assert table.get("tile_000000_ch_488") == (
        3500.0,
        2500.0,
        1500.0,
    )
    assert table.get("tile_000001_ch_488") is None
    assert table.get("missing") is None


def test_run_job_shard_mode(spark, dataset, tmp_path):
    root, arrays, acq_path = dataset
    out = tmp_path / "out"
    settings = TileJobSettings(
        input_source=str(root),
        output_location=str(out),
        chunk_shape=(16, 16, 16),
        shard_shape=(32, 32, 32),
        acquisition_path=acq_path,
    )
    resp = run_job(spark, settings)
    assert resp.status_code == 200
    assert resp.message.startswith("Job finished in")
    assert resp.data["stats"]["n_tiles"] == 2
    # per-tile voxel equality on level 0
    for name, arr in arrays.items():
        got = read_array_region(
            str(out / f"{name}.zarr"),
            0,
            (slice(0, 1), slice(0, 1), slice(0, 40), slice(0, 40),
             slice(0, 40)),
        )[0, 0]
        np.testing.assert_array_equal(got, arr)
    trans = resp.data["translations_um"]
    assert list(trans.values()) == [[3500.0, 2500.0, 1500.0]] or list(
        trans.values()
    ) == [(3500.0, 2500.0, 1500.0)]


def test_run_job_single_tile(spark, dataset, tmp_path):
    root, arrays, _ = dataset
    out = tmp_path / "out_single_tile"
    settings = TileJobSettings(
        input_source=str(root),
        output_location=str(out),
        chunk_shape=(16, 16, 16),
        shard_shape=(32, 32, 32),
        single_tile_upload=True,
    )
    resp = run_job(spark, settings)
    assert resp.status_code == 200
    assert len(resp.data["stats"]["tiles"]) == 1  # single-tile mode


def test_run_job_empty(spark, tmp_path):
    resp = run_job(
        spark,
        TileJobSettings(
            input_source=str(tmp_path / "nothing"),
            output_location=str(tmp_path / "out"),
        ),
    )
    assert resp.status_code == 404


def test_settings_parsing(tmp_path, monkeypatch):
    js = json.dumps(
        {"input_source": "/in", "output_location": "/out",
         "downsample_mode": "median"}
    )
    s = _settings_from_args(["--job-settings", js])
    assert s.downsample_mode == "median"
    cfg = tmp_path / "cfg.json"
    cfg.write_text(js)
    s2 = _settings_from_args(["--config-file", str(cfg)])
    assert s2.input_source == "/in"
    monkeypatch.setenv("TRANSFORMATION_JOB_INPUT_SOURCE", "/env_in")
    monkeypatch.setenv("TRANSFORMATION_JOB_OUTPUT_LOCATION", "/env_out")
    s3 = _settings_from_args([])
    assert s3.input_source == "/env_in"
    # The reference's partition_mode is accepted and ignored: its 'file'
    # and 'shard' modes are one plan here.
    s4 = _settings_from_args(
        ["--job-settings",
         json.dumps({**json.loads(js), "partition_mode": "file"})]
    )
    assert s4 == s
    with pytest.raises(Exception):
        TileJobSettings.model_validate_json(
            json.dumps(
                {"input_source": "x", "output_location": "y",
                 "downsample_mode": "nearest"}
            )
        )
