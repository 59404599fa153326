"""Per-query fingerprints for refactors that must not change a query's
oracle, cost in Spark jobs or result.

For each query it prints one line:

- ``oracle``: the 12-hex prefix of the sha256 of the registered oracle
  SQL (``-`` for a rows-only query);
- ``jobs``: the number of Spark jobs started under one job group that
  spans building the DataFrame and ``toPandas()``;
- ``rows`` and ``result``: the row count and the 12-hex prefix of the
  sha256 of ``tools/parity.py``'s ``canonical_rows`` of the result.

Run it on two checkouts (say the parent commit in a ``git clone`` and
the change) with the same arguments; a behaviour-preserving refactor
prints the same ``oracle`` and ``result`` columns, and its ``jobs``
column shows what it did to the query's job count.

    python tools/query_fingerprints.py <sf_dir>
    python tools/query_fingerprints.py <sf_dir> q_ann_pq q_ann_ivf
"""

from __future__ import annotations

import hashlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:12]


def main() -> int:
    from parity import canonical_rows

    from aind_exaspim_data_transformation_spark.queries import ORACLES, QUERIES
    from aind_exaspim_data_transformation_spark.queries.lifecycle import (
        managed_query,
    )
    from aind_exaspim_data_transformation_spark.session import get_spark

    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    sf_dir = sys.argv[1]
    names = sys.argv[2:] or list(QUERIES)
    spark = get_spark("query-fingerprints", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    print(f"{'query':<40} {'oracle':<12} {'jobs':>5} {'rows':>7} result")
    for name in names:
        spark.catalog.clearCache()
        group = f"fingerprint-{name}"
        sc.setJobGroup(group, name)
        try:
            with managed_query(spark, sf_dir, name) as df:
                pdf = df.toPandas()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(tracker.getJobIdsForGroup(group))
        oracle = _sha(ORACLES[name]) if name in ORACLES else "-"
        result = _sha(repr(canonical_rows(pdf)))
        print(f"{name:<40} {oracle:<12} {jobs:>5} {len(pdf):>7} {result}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
