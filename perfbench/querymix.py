"""Query-mix workload: four per-job-floor queries, then the x64 fanned q01
aggregation, over seeded TPC-H-ish tables.

One op is one pass. Each query's DataFrame is built (plan) and fetched
with ``toPandas()`` (exec); every pass's results are hash-compared with
the DuckDB oracle exactly as ``tools/parity.py`` does, outside the timed
window.
"""

from __future__ import annotations

import importlib.util
import os
import time

from probes import OpMeter, spark_counts

# Four of the snapshot bench's 13 per-job-floor rows, one per operator
# family: scan + aggregate, multi-way join, window, vector similarity
# (the run budget allows three passes of four). Frozen here so the
# benchmark does not move with bench.py.
FLOOR = [
    "q01_pricing_summary",
    "q05_local_supplier_volume",
    "q_window_frames",
    "q_knn_bruteforce",
]
X64 = "q01_pricing_summary_x64"
FANOUT = 64
# Untimed passes: the first takes about twice a warm pass, the second
# still about 20% more, while the JVM compiles the queries' hot paths.
WARM_UP_PASSES = 2


def x64_df(spark, sf_dir: str):
    """q01's aggregation over all of lineitem, fanned out 64x in-plan:
    a CPU-bound aggregation well above the per-job floor."""
    from pyspark.sql import functions as F

    from aind_exaspim_data_transformation_spark.queries._helpers import (
        davg,
        dec,
        dsum,
        fan_out_small_scan,
    )
    from aind_exaspim_data_transformation_spark.sources.tables import load_table

    li = fan_out_small_scan(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount",
        )
    ).withColumn("rep", F.explode(F.array(*[F.lit(i) for i in range(FANOUT)])))
    return li.groupBy("l_returnflag", "l_linestatus", "rep").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        davg("l_discount", "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


def x64_oracle_sql() -> str:
    from aind_exaspim_data_transformation_spark.queries._helpers import (
        sql_davg,
        sql_dsum,
    )

    return f"""
SELECT l_returnflag, l_linestatus,
  {sql_dsum("l_quantity", "sum_qty")},
  {sql_dsum("l_extendedprice", "sum_base_price")},
  {sql_davg("l_discount", "avg_disc")},
  COUNT(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def _load_parity(root: str):
    spec = importlib.util.spec_from_file_location(
        "parity", os.path.join(root, "tools", "parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryMixWorkload:
    def __init__(self, name, spark, sf_dir, root):
        self.name = name
        self.spark = spark
        self.sf_dir = sf_dir
        self.parity = _load_parity(root)
        self.source_bytes = sum(
            os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir)
        )

    def _pass(self, tracer, op: str) -> dict:
        from aind_exaspim_data_transformation_spark.queries import QUERIES

        frames, parts = {}, {}
        for name in FLOOR + [X64]:
            t0 = time.perf_counter()
            with tracer.span(f"query.{name}.plan", op):
                df = (
                    x64_df(self.spark, self.sf_dir)
                    if name == X64
                    else QUERIES[name](self.spark, self.sf_dir)
                )
            with tracer.span(f"query.{name}.exec", op):
                frames[name] = df.toPandas()
            parts[name] = time.perf_counter() - t0
        return {"frames": frames, "parts": parts}

    def warm_up(self) -> None:
        from probes import Tracer

        for _ in range(WARM_UP_PASSES):
            self._pass(Tracer(False), "warm")

    def op(self, i: int, tracer) -> dict:
        group = f"{self.name}-op{i}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            with tracer.span("query_mix.pass", group), OpMeter() as meter:
                res = self._pass(tracer, group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return {
            **meter.record(),
            "spark": spark_counts(sc, group),
            "floor_s": sum(v for k, v in res["parts"].items() if k != X64),
            "x64_s": res["parts"][X64],
            "between_queries_s": meter.wall_s - sum(res["parts"].values()),
            "errors": self.check(res["frames"]),
        }

    def check(self, frames) -> list[str]:
        import duckdb
        import pandas as pd

        from aind_exaspim_data_transformation_spark.queries import ORACLES

        errs = []
        for name in FLOOR:
            ok, msg, _ = self.parity.compare(
                None, ORACLES[name], self.sf_dir, spark_pdf=frames[name]
            )
            if not ok:
                errs.append(f"{name}: {msg}")
        con = duckdb.connect()
        try:
            path = os.path.join(self.sf_dir, "lineitem.parquet")
            con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{path}'")
            base = con.execute(x64_oracle_sql()).df()
        finally:
            con.close()
        oracle = base.merge(pd.DataFrame({"rep": range(FANOUT)}), how="cross")
        got = frames[X64]
        canon = self.parity.canonical_rows
        if sorted(got.columns) != sorted(oracle.columns) or canon(got) != canon(oracle):
            errs.append(f"{X64}: differs from q01's oracle rows repeated {FANOUT}x")
        return errs

    def replay(self, tracer) -> dict:
        """The scan layer alone: every lineitem column read through
        load_table into Spark's no-op sink."""
        from aind_exaspim_data_transformation_spark.sources.tables import load_table

        with tracer.span("tables.scan_lineitem", "replay"):
            load_table(self.spark, self.sf_dir, "lineitem").write.format(
                "noop"
            ).mode("overwrite").save()
        return {}

    def layer_metrics(self, tracer, counters, ops, nproc) -> dict:
        import statistics

        n_ops = max(len(ops), 1)
        out = {"tables.scan_lineitem_s": tracer.total("tables.scan_lineitem")}
        for name in FLOOR + [X64]:
            for part in ("plan", "exec"):
                out[f"query.{name}.{part}_s"] = (
                    tracer.total(f"query.{name}.{part}") / n_ops
                )
        out["query.floor_mix_s"] = statistics.median(o["floor_s"] for o in ops)
        out["query.x64_agg_s"] = statistics.median(o["x64_s"] for o in ops)
        out["spark.unattributed_s"] = statistics.median(o["between_queries_s"] for o in ops)
        out["spark.unattributed_share"] = out["spark.unattributed_s"] / statistics.median(
            o["job_s"] for o in ops
        )
        return out
