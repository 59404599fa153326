"""A/B bench: computed pyramid, window-aligned vs misaligned shards.

Byte identity of any pass plan is proven in
tests/test_pyramid_cascade.py; this tool records the PERF side (the
acceptance bar: a misaligned config within 1.5x of the aligned one's
throughput on the same volume), and each config's ``pyramid_passes``.

  aligned:    shard 128^3, factor 2, depth 4
  misaligned: shard 100^3, factor 2, depth 4 (100 % 2^3 != 0)

The 2 GiB level 0 is larger than ``CASCADE_MAX_GROUP_BYTES``, so the
pass plan depends on the writer range count (``multitile.
pyramid_passes``): with 8 ranges (4 cores, 2 tasks per core) the
aligned volume plans 64 / 8 / 1 units for levels 1 / 2 / 3, so its
level 2 is read back from the store, [(0, 3), (2, 2)].

Same 2.1 GB synthetic uint16 volume, same codec (zstd-3), same protocol
as bench.py's pyramid row (1 untimed warm-up + 3 timed, median). Prints
one JSON line. ``SPARK_GRAFT_CPUS`` sets the local core count (default
32).
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
    convert_to_zarr,
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
        result["configs"][name] = {
            "median_sec": round(med, 3),
            "runs": [round(x, 3) for x in runs],
            "gbps": round(r["stages"][0]["bytes_read"] / 1e9 / med, 4),
            "plan": r["pyramid_plan"],
            "pyramid_passes": r["pyramid_passes"],
        }
    a = result["configs"]["aligned_128"]["median_sec"]
    b = result["configs"]["misaligned_100"]["median_sec"]
    result["misaligned_over_aligned"] = round(b / a, 3)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
