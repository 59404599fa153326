"""acquisition.json sidecar lookups as DataFrame ops (SURVEY §2A M2, M3).

The reference walks nested dicts imperatively (imaris_job.py:114-314);
here the sidecar is a one-row DataFrame (multiline JSON read) and the
lookups are explode/filter/transform expressions:

- voxel resolution: axes[] -> (z, y, x) µm, with a >=2.0.0 schema dispatch
  (reference :183-215);
- tile translation: tiles[] -> match file_name -> first translation-type
  transform -> mm -> µm (x1000, reference _MM_TO_UM :260) -> reversed to
  ZYX, collected once into a ``{file_name: zyx}`` dict whose ``.get``
  is None on any miss (reference returns None, :309-314).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MM_TO_UM = 1000.0


def load_acquisition(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.option("multiLine", "true").json(path)


def voxel_resolution(acq: DataFrame) -> tuple[float, float, float]:
    """(z, y, x) voxel size in µm from the axes array; schema >=2.0.0
    nests the resolution under ``scale`` (dispatch mirrors reference
    imaris_job.py:141-155 vs :192-215)."""
    ax = acq.select(
        F.col("schema_version").alias("ver"),
        F.explode("axes").alias("axis"),
    )
    # Version dispatch: >=2.0.0 carries `scale`, 1.x `resolution`. The
    # inferred JSON schema only contains fields present in the document,
    # so resolve the column choice against the schema (referencing a
    # missing struct field fails analysis).
    axis_fields = {
        f.name for f in ax.schema["axis"].dataType.fields
    }
    if {"scale", "resolution"} <= axis_fields:
        is_v2 = F.split(F.col("ver"), "\\.").getItem(0).cast("int") >= 2
        res_col = F.when(is_v2, F.col("axis.scale")).otherwise(
            F.col("axis.resolution")
        )
    elif "scale" in axis_fields:
        res_col = F.col("axis.scale")
    else:
        res_col = F.col("axis.resolution")
    res = ax.select(
        F.lower("axis.name").alias("name"),
        res_col.cast("double").alias("res"),
    ).collect()
    by_name = {r["name"]: r["res"] for r in res}
    return (by_name["z"], by_name["y"], by_name["x"])


def tile_translations(acq: DataFrame) -> DataFrame:
    """(file_name, trans_z_um, trans_y_um, trans_x_um) for every tile that
    carries a translation transform. Input translations are XYZ mm."""
    tiles = acq.select(F.explode("tiles").alias("tile")).select(
        F.col("tile.file_name").alias("file_name"),
        F.filter(
            F.col("tile.coordinate_transformations"),
            lambda t: t["type"] == "translation",
        ).alias("trs"),
    )
    xyz_mm = F.element_at(F.col("trs"), 1)["translation"]
    um = F.transform(
        F.reverse(xyz_mm), lambda v: v.cast("double") * MM_TO_UM
    )
    return tiles.where(F.size("trs") > 0).select(
        "file_name",
        F.element_at(um, 1).alias("trans_z_um"),
        F.element_at(um, 2).alias("trans_y_um"),
        F.element_at(um, 3).alias("trans_x_um"),
    )


def translation_table(
    acq: DataFrame,
) -> dict[str, tuple[float, float, float]]:
    """``{file_name: (z, y, x) µm}`` for every tile with a translation,
    collected in one Spark job; ``.get`` gives None on a miss."""
    return {
        r["file_name"]: (r["trans_z_um"], r["trans_y_um"], r["trans_x_um"])
        for r in tile_translations(acq).collect()
    }
