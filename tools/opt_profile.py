"""Per-query optimization profiler (round 14, guide §1).

For every registered query: time the computation against the noop sink
(guide §1.4 — isolates compute from result collection), capture
``.explain("formatted")``, and summarize plan shape (Exchange count,
join strategies, Python-boundary nodes, pushed filters).

Usage:
    python tools/opt_profile.py <sf_dir> [out_json] [name_filter ...]

Writes plans to plans/<tag>/<query>_profile.txt (one file per query;
tag from env OPT_PLANS_TAG, default r15; plans/ is untracked run
output) and a JSON summary with per-query seconds + plan stats. Timing
is min over REPS (env OPT_REPS, default 2) after one warm pass,
matching the bench's min-of-mins philosophy in a single JVM (cross-JVM
robustness is bench.py's job; this tool ranks queries relative to one
another).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aind_exaspim_data_transformation_spark.queries import QUERIES  # noqa: E402
from aind_exaspim_data_transformation_spark.queries.lifecycle import (  # noqa: E402
    managed_query,
)
from aind_exaspim_data_transformation_spark.session import get_spark  # noqa: E402

REPS = int(os.environ.get("OPT_REPS", "2"))


def plan_stats(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_exchanges": len(re.findall(r"BroadcastExchange", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "batch_eval_python": len(re.findall(r"BatchEvalPython", plan)),
        "arrow_eval_python": len(re.findall(r"ArrowEvalPython", plan)),
        "map_in_arrow": len(re.findall(r"MapInArrow|MapInPandas|PythonMapInArrow", plan)),
        "flatmap_groups": len(re.findall(r"FlatMapGroupsInPandas|FlatMapGroupsInArrow", plan)),
        "sorts": len(re.findall(r"\bSort\b", plan)),
        "window": len(re.findall(r"\bWindow\b", plan)),
        "take_ordered": len(re.findall(r"TakeOrderedAndProject", plan)),
        "scans": len(re.findall(r"Scan parquet|FileScan", plan)),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = sys.argv[2] if len(sys.argv) > 2 else "/tmp/opt_profile.json"
    name_filters = sys.argv[3:]

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.environ.get("OPT_PLANS_TAG", "r15"),
    )
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark("opt-profile")
    spark.sparkContext.setLogLevel("ERROR")

    names = list(QUERIES)
    if name_filters:
        names = [n for n in names if any(f in n for f in name_filters)]

    results: dict[str, dict] = {}
    for i, name in enumerate(names):
        spark.sparkContext.setJobDescription(f"profile:{name}")
        try:
            # managed_query scope: intermediates a query track_persists
            # are unpersisted when its timing finishes — without this a
            # 178-query sweep accumulates every cached relation in one
            # JVM and later queries measure the resulting memory
            # pressure, not their own plan (observed: isolated re-runs
            # 2-7x faster than sweep numbers for late-registry rows).
            with managed_query(spark, sf_dir, name) as df:
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                t_warm0 = time.monotonic()
                df.write.format("noop").mode("overwrite").save()
                warm = time.monotonic() - t_warm0
                runs = []
                for _ in range(REPS):
                    # Rebuild the plan per rep (bench.py semantics:
                    # planning time counts). CacheManager dedupes the
                    # identical persisted subplans; the scope's exit
                    # unpersists them all.
                    df_rep = QUERIES[name](spark, sf_dir)
                    t0 = time.monotonic()
                    df_rep.write.format("noop").mode("overwrite").save()
                    runs.append(time.monotonic() - t0)
            stats = plan_stats(plan)
            stats["sec"] = round(min(runs), 3)
            stats["warm_sec"] = round(warm, 3)
            results[name] = stats
            with open(
                os.path.join(plans_dir, f"{name}_profile.txt"), "w"
            ) as fh:
                fh.write(plan)
            print(
                f"[{i+1}/{len(names)}] {name}: {stats['sec']:.3f}s "
                f"ex={stats['exchanges']} smj={stats['smj']} "
                f"bhj={stats['bhj']} py={stats['batch_eval_python']}"
                f"/{stats['arrow_eval_python']}/{stats['map_in_arrow']}",
                flush=True,
            )
        except Exception as e:  # noqa: BLE001
            results[name] = {"error": str(e)[:500]}
            print(f"[{i+1}/{len(names)}] {name}: ERROR {e}", flush=True)

    with open(out_json, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    timed = {
        k: v["sec"] for k, v in results.items() if "sec" in v
    }
    top = sorted(timed.items(), key=lambda kv: -kv[1])[:25]
    print("\nTop 25 by noop-sink seconds:")
    for n, s in top:
        print(f"  {s:8.3f}  {n}")
    print(f"total timed: {sum(timed.values()):.1f}s over {len(timed)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
