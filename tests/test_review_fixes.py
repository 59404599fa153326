"""Regression tests for defects found in code review."""

import json

import pytest

from aind_exaspim_data_transformation_spark.config import ConvertJobSettings
from aind_exaspim_data_transformation_spark.job import _settings_from_args
from aind_exaspim_data_transformation_spark.operators.components import (
    connected_components,
)
from aind_exaspim_data_transformation_spark.operators.layout import (
    salted_join,
)
from aind_exaspim_data_transformation_spark.queries.dedup_q import (
    _minhash_signatures_from,
)
from aind_exaspim_data_transformation_spark.zarrio.metadata import (
    multiscales_metadata,
)
from aind_exaspim_data_transformation_spark.zarrio.multitile import (
    convert_tiles_to_zarr,
)


def test_minhash_handles_short_and_empty_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "hello"),  # single word: no 2-gram shingles
            (2, ""),  # empty
            (3, "a b c"),  # normal
        ],
        "doc_id long, text string",
    )
    rows = _minhash_signatures_from(docs).collect()
    # short docs contribute no signature row instead of crashing
    assert [r["doc_id"] for r in rows] == [3]


def test_partition_subsetting_rejects_compute_mode(spark, tmp_path):
    settings = ConvertJobSettings(
        input_source="x",
        output_location="y",
        translate_pyramid=False,
    )
    with pytest.raises(ValueError, match="translate_pyramid"):
        convert_tiles_to_zarr(
            spark,
            [("src", str(tmp_path))],
            settings,
            partition_to_process=0,
            num_partitions=2,
        )


@pytest.mark.parametrize(
    "p, n",
    [
        (-1, 2),  # used to write only the last shard
        (2, 2),  # used to write nothing, with no error
        (0, None),  # used to convert everything
    ],
)
def test_partition_subsetting_rejects_out_of_range_subset(
    spark, tmp_path, p, n
):
    settings = ConvertJobSettings(
        input_source="x",
        output_location="y",
        translate_pyramid=True,
    )
    with pytest.raises(ValueError, match="partition_to_process"):
        convert_tiles_to_zarr(
            spark,
            [("src", str(tmp_path))],
            settings,
            partition_to_process=p,
            num_partitions=n,
        )


def test_env_settings_parse_tuples(monkeypatch):
    monkeypatch.setenv("TRANSFORMATION_JOB_INPUT_SOURCE", "/in")
    monkeypatch.setenv("TRANSFORMATION_JOB_OUTPUT_LOCATION", "/out")
    monkeypatch.setenv("TRANSFORMATION_JOB_CHUNK_SHAPE", "[64, 64, 64]")
    monkeypatch.setenv("TRANSFORMATION_JOB_SINGLE_TILE_UPLOAD", "true")
    s = _settings_from_args([])
    assert s.chunk_shape == (64, 64, 64)
    assert s.single_tile_upload is True
    assert s.input_source == "/in"


def test_salted_join_rejects_right_outer(spark):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, "k", how="right")


def test_connected_components_raises_on_non_convergence(spark, monkeypatch):
    # a chain of diameter 63 cannot converge in 2 pointer-jumping
    # rounds (each round at most ~triples reach); force the
    # distributed path — the union-find fast path has no round cap
    import aind_exaspim_data_transformation_spark.operators.components as C

    monkeypatch.setattr(C, "COLLECT_MAX_BYTES", 0)
    monkeypatch.setattr(C, "MAX_ROUNDS", 2)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges)


def test_multiscales_metadata_records_method():
    meta = multiscales_metadata(
        "t", (1.0, 1.0, 1.0), [(2.0, 2.0, 2.0)], method="median"
    )
    ms = meta["ome"]["multiscales"][0]
    assert ms["metadata"]["method"] == "median"
