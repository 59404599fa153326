"""A/B bench: fused pyramid cascade, window-aligned vs misaligned shards.

Round-6 lifted the cascade's shard-alignment precondition via
window-aligned superchunk groups (``cascade_group_multiple``); byte
identity is proven in tests/test_pyramid_cascade.py. This tool records
the PERF side of that story (round-5 acceptance bar: a misaligned config
within 1.5x of the aligned cascade's throughput on the same volume).

  aligned:    shard 128^3, factor 2, depth 4  -> group multiple 1
  misaligned: shard 100^3, factor 2, depth 4  -> group multiple 2
              (100 % 2^3 != 0, so groups scale to 200-shard windows)

Same 2.1 GB synthetic uint16 volume, same codec (zstd-3), same protocol
as bench.py's pyramid row (1 untimed warm-up + 3 timed, median). Prints
one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aind_exaspim_data_transformation_spark.config import ConvertJobSettings
from aind_exaspim_data_transformation_spark.session import get_spark
from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
    cascade_group_multiple,
    convert_to_zarr,
    _level_specs,
)

CONFIGS = {
    "aligned_128": dict(chunk_shape=(64, 64, 64), shard_shape=(128, 128, 128)),
    "misaligned_100": dict(chunk_shape=(50, 50, 50), shard_shape=(100, 100, 100)),
}
VOLUME = "synth://1024,1024,1024,1"
DEPTH = 4


def settings(out: str, cfg: dict) -> ConvertJobSettings:
    return ConvertJobSettings(
        input_source=VOLUME,
        output_location=out,
        translate_pyramid=False,
        downsample_levels=DEPTH,
        downsample_mode="mean",
        codec="zstd",
        codec_level=3,
        **cfg,
    )


def main() -> None:
    spark = get_spark("cascade-ab", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    result: dict = {"volume": VOLUME, "depth": DEPTH, "configs": {}}
    for name, cfg in CONFIGS.items():
        with tempfile.TemporaryDirectory() as tmp:  # warm-up, untimed
            convert_to_zarr(spark, settings(os.path.join(tmp, "w.zarr"), cfg))
        runs = []
        for _ in range(3):
            with tempfile.TemporaryDirectory() as tmp:
                t0 = time.monotonic()
                r = convert_to_zarr(
                    spark, settings(os.path.join(tmp, "b.zarr"), cfg)
                )
                runs.append(time.monotonic() - t0)
        med = statistics.median(runs)
        # the full-depth group multiple (None past the cap, where the
        # cascade runs in the passes reported beside it)
        from aind_exaspim_data_transformation_spark.sources.tensor import (
            open_source,
        )
        from aind_exaspim_data_transformation_spark.operators.downsample import (
            downsampled_shape,
        )

        st = settings("/tmp/x", cfg)
        meta = open_source(VOLUME).meta
        shapes = [meta.shapes[0]]
        for _ in range(1, DEPTH):
            shapes.append(downsampled_shape(shapes[-1], st.scale_factor))
        specs = _level_specs(st, shapes, meta.dtype)
        gm = cascade_group_multiple(
            specs[0], st.scale_factor, DEPTH, st.superchunk_multiple
        )
        result["configs"][name] = {
            "median_sec": round(med, 3),
            "runs": [round(x, 3) for x in runs],
            "gbps": round(r["stages"][0]["bytes_read"] / 1e9 / med, 4),
            "group_multiple": gm,
            "plan": r["pyramid_plan"],
            "passes": r["pyramid_passes"],
        }
    a = result["configs"]["aligned_128"]["median_sec"]
    b = result["configs"]["misaligned_100"]["median_sec"]
    result["misaligned_over_aligned"] = round(b / a, 3)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
