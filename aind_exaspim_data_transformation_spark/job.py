"""Job orchestration + CLI entry (SURVEY §2A L1, P1-P3, K3).

The reference's job_entrypoint/run_job (imaris_job.py:719-770) re-expressed
for spark-submit: settings come from --job-settings JSON, a config file, or
the TRANSFORMATION_JOB_* environment; tiles are discovered, optionally
filtered to one (single-tile mode), joined to acquisition.json translations,
and converted in one global shard-scheduled plan
(``multitile.convert_tiles_to_zarr``). The reference's two partition modes
become that one plan: its 'file' mode wrote the same stores, so a
``partition_mode`` in the settings is accepted and ignored. Returns the
same JobResponse shape (status_code 200, "Job finished in ...").
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pydantic import BaseModel

from pyspark.sql import SparkSession

from .config import ConvertJobSettings
from .sources.acquisition import load_acquisition, translation_table
from .sources.discovery import list_tiles
from .zarrio.kvstore import kv_join
from .zarrio.multitile import convert_tiles_to_zarr


class JobResponse(BaseModel):
    status_code: int
    message: str
    data: dict | None = None


class TileJobSettings(ConvertJobSettings):
    """Dataset-level settings: input_source is the tile directory,
    output_location the store root; acquisition.json optional."""

    acquisition_path: str | None = None


def _tile_store(output_root: str, tile_name: str) -> str:
    base = tile_name
    for suffix in (".ims", ".h5"):
        base = base.removesuffix(suffix)
    return kv_join(output_root, f"{base}.zarr")


def run_job(spark: SparkSession, settings: TileJobSettings) -> JobResponse:
    t_start = time.monotonic()
    tiles = [
        (path, _tile_store(settings.output_location, name))
        for path, name, _size in list_tiles(
            settings.input_source, settings.single_tile_upload
        )
    ]
    if not tiles:
        return JobResponse(
            status_code=404,
            message=f"no tiles found under {settings.input_source}",
        )

    translations = {}
    if settings.acquisition_path:
        table = translation_table(
            load_acquisition(spark, settings.acquisition_path)
        )
        for tile_path, _ in tiles:
            tr = table.get(os.path.basename(tile_path))
            if tr is not None:
                translations[tile_path] = tr

    stats = convert_tiles_to_zarr(spark, tiles, settings)

    elapsed = time.monotonic() - t_start
    return JobResponse(
        status_code=200,
        message=f"Job finished in {elapsed:.1f}s",
        data={"stats": stats, "translations_um": translations},
    )


def _settings_from_args(sys_args: list[str]) -> TileJobSettings:
    parser = argparse.ArgumentParser("exaspim-spark-job")
    parser.add_argument("--job-settings", type=str, default=None)
    parser.add_argument("--config-file", type=str, default=None)
    args = parser.parse_args(sys_args)
    if args.job_settings:
        return TileJobSettings.model_validate_json(args.job_settings)
    if args.config_file:
        with open(args.config_file) as f:
            return TileJobSettings.model_validate(json.load(f))
    env = {}
    for k, v in os.environ.items():
        if not k.startswith("TRANSFORMATION_JOB_"):
            continue
        key = k.removeprefix("TRANSFORMATION_JOB_").lower()
        # JSON-decode structured values (tuples like [512,512,512],
        # booleans, numbers); plain strings pass through unchanged.
        try:
            env[key] = json.loads(v)
        except (json.JSONDecodeError, ValueError):
            env[key] = v
    if env:
        return TileJobSettings.model_validate(env)
    raise SystemExit(
        "provide --job-settings, --config-file, or TRANSFORMATION_JOB_* env"
    )


def job_entrypoint(sys_args: list[str]) -> JobResponse:
    from .session import get_spark

    settings = _settings_from_args(sys_args)
    spark = get_spark("exaspim-convert")
    response = run_job(spark, settings)
    print(response.model_dump_json())
    return response


if __name__ == "__main__":  # pragma: no cover - CLI shim
    import sys

    job_entrypoint(sys.argv[1:])
