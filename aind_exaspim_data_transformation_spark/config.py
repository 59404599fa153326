"""Job settings model.

Same knob surface as the reference's pydantic settings (reference
models.py:20-143: chunk/shard shapes, scale factor, level count, the six
downsample modes, single-tile mode) plus Spark-specific additions. The
reference's ``partition_mode`` is accepted and ignored (pydantic's
default ``extra="ignore"``): its 'shard' and 'file' modes are one plan
here. Values validate from JSON / dict / env exactly like a spark-submit
entry module needs.
"""

from __future__ import annotations

from typing import Literal

from pydantic import BaseModel, Field, field_validator

DownsampleMode = Literal["stride", "median", "mode", "mean", "min", "max"]


class ConvertJobSettings(BaseModel):
    """Settings for the tensor -> Zarr v3 conversion pipeline."""

    input_source: str
    output_location: str

    chunk_shape: tuple[int, int, int] = (128, 256, 256)
    shard_shape: tuple[int, int, int] = (512, 512, 512)
    scale_factor: tuple[int, int, int] = (2, 2, 2)
    downsample_levels: int = 5
    downsample_mode: DownsampleMode = "mean"
    translate_pyramid: bool = True  # copy source levels vs recompute

    # zstd level 3 matches the reference's production codec chain
    # (reference compress/imaris_to_zarr.py:223-242), encoded by
    # pyarrow's libzstd; gzip and none remain selectable.
    codec: Literal["gzip", "zstd", "none"] = "zstd"
    codec_level: int = 3
    # inner transpose codec order ("C", "F", or None to omit) — the
    # reference always writes transpose(C) ahead of the compressor
    transpose_order: Literal["C", "F"] | None = None

    # Spark-side knobs
    single_tile_upload: bool = False
    superchunk_multiple: tuple[int, int, int] = (2, 1, 1)
    tasks_per_cpu: int = 2

    # Poison-pill policy for SOURCE reads (round 11). "fail" preserves
    # the strict default: a truncated/corrupt tile fails its task, and
    # because the decode error is deterministic, Spark's retries cannot
    # save the stage — the job aborts. "quarantine" applies the
    # reference's defensive-read posture (utils/utils.py:114-146 returns
    # empty on bad JSON instead of raising) to tensor sources: a failed
    # superchunk read yields per-shard ERROR rows in the stage stats
    # instead of raising, the affected shards are simply not written,
    # and absent shards read back as fill_value under the Zarr v3 spec —
    # so the output store stays valid and every healthy byte converts.
    # The fused pyramid cascade still runs: it reduces the group region
    # built from the per-shard reads, a withheld shard's voxels as
    # fill_value, which is what a store read of level 0 returns.
    on_corrupt: Literal["fail", "quarantine"] = "fail"

    @field_validator("downsample_levels")
    @classmethod
    def _levels_positive(cls, v: int) -> int:
        if v < 1:
            raise ValueError("downsample_levels must be >= 1")
        return v

    @field_validator("shard_shape")
    @classmethod
    def _shard_positive(cls, v):
        if any(d < 1 for d in v):
            raise ValueError("shard_shape must be positive")
        return v

    @classmethod
    def from_json(cls, text: str) -> "ConvertJobSettings":
        return cls.model_validate_json(text)
