"""Cache lifecycle for the query library's persisted intermediates.

Three registry queries persist an intermediate relation at plan-build
time (`q_minhash_lsh_pairs_capped`'s shared signatures,
`q_text_dup_5gram_corpus`'s inverted index,
`q_docs_training_pipeline`'s survivor metadata). A registry function
returns a LAZY DataFrame, so it cannot unpersist its own intermediates
— under the oracle harness (one short-lived session per sweep) that is
fine, but a long-lived production session would accumulate cached
blocks across calls.

:func:`managed_query` is the production entry point: it runs a
registered query inside a tracking scope, yields the (still lazy)
result DataFrame, and on exit unpersists exactly the intermediates
that query persisted — nothing else the caller may have cached is
touched (unlike ``spark.catalog.clearCache()``).

Persist sites inside query functions opt in by routing through
:func:`track_persist` instead of calling ``.persist()`` directly; when
no tracking scope is active (the oracle harness path) the behavior is
byte-identical to a plain persist, so oracle hashes are unaffected.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

# Stack (not a single slot) so nested scopes — a managed query whose
# plan calls another registry function — each unpersist only their own
# intermediates. Plan construction is driver-side and single-threaded
# per session in this library, so a plain list suffices.
_ACTIVE: list[list[DataFrame]] = []


def track_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and, if a :func:`managed_query` scope is active,
    register it for unpersist when the scope exits."""
    df = df.persist(level)
    if _ACTIVE:
        _ACTIVE[-1].append(df)
    return df


@contextmanager
def managed_query(
    spark: SparkSession, sf_dir: str, name: str
) -> Iterator[DataFrame]:
    """Run registry query ``name`` with owned cache lifecycle.

    Yields the lazy result DataFrame; the caller actions it inside the
    ``with`` block (collect/write/count). On exit every intermediate
    the query persisted is unpersisted (blocking, so storage is
    verifiably freed when the block closes).
    """
    from aind_exaspim_data_transformation_spark.queries import QUERIES

    tracked: list[DataFrame] = []
    _ACTIVE.append(tracked)
    try:
        yield QUERIES[name](spark, sf_dir)
    finally:
        _ACTIVE.pop()
        for cached in tracked:
            cached.unpersist(blocking=True)
        maybe_recycle_python_workers(spark)


# --------------------------------------------------------------------------
# Bounded Python worker pool (round 15, guide §5).
#
# With spark.python.worker.reuse=true (the default, and the right call:
# reuse amortizes interpreter + import cost across tasks) the daemon's
# forked workers NEVER retire — a worker that once decoded images or
# ran the 32k-BPE encoder keeps its peak heap forever. Measured in r14
# (faaaf6a:OPTIMIZATION_r14.md "Not yet optimized"): after a heterogeneous
# pandas/Arrow churn the pool grows to ~95 processes / 14 GB RSS, and
# spark.python.worker.idleTimeoutSeconds does not reap the daemon pool.
# On a long-lived session that is an unbounded memory leak; it also
# inflates small-task Python stages 2-7x (worker acquisition from a
# bloated pool).
#
# Scope: local mode only. The policy sees and stops only the DRIVER
# JVM's Python workers, which are the whole pool only when the
# executors run inside the driver JVM (local[*]). On a cluster the
# executors' pools live in other JVMs on other hosts: this measures
# none of their processes and recycles none of their factories.
#
# Policy: after each managed query, measure the pool's total RSS
# (a /proc walk over the driver JVM's own process tree — no Spark
# job); above the ceiling, stop every PythonWorkerFactory of the
# driver's SparkEnv. stop() destroys
# the daemon, whose SIGTERM handler SIGHUPs its process group — every
# forked worker exits with it — and the factory transparently spawns a
# fresh daemon on the next Python task, so the recycle is invisible to
# callers beyond one daemon start (~100 ms). The ceiling is a conf/env
# dial (SPARK_GRAFT_PYWORKER_POOL_CEILING_MB, default 10240), calibrated
# on local[32] (r15 churn run, faaaf6a:OPTIMIZATION_r15.md): the healthy
# floor is ~4.4 GB (32 reused workers x ~140 MB of numpy/pandas
# imports), a fully-engaged two-factory pool (pickle + Arrow worker
# modules) measures ~6.9 GB, and the r14 pathological state was 14 GB /
# ~95 procs — 10 GB sits between "engaged" and "leaking". Deployments
# with different cores-per-executor scale it via the env var.
# --------------------------------------------------------------------------
POOL_CEILING_MB = int(
    os.environ.get("SPARK_GRAFT_PYWORKER_POOL_CEILING_MB", "10240")
)


def _proc_tree() -> tuple[dict[int, list[int]], dict[int, str]]:
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        pid = int(entry)
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces/parens: parse around the LAST ')'.
        lpar, rpar = stat.find("("), stat.rfind(")")
        comm[pid] = stat[lpar + 1 : rpar]
        ppid = int(stat[rpar + 2 :].split()[1])
        children.setdefault(ppid, []).append(pid)
    return children, comm


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGESIZE")
    except (OSError, IndexError, ValueError):
        return 0


def python_worker_pool_stats(spark: SparkSession) -> dict:
    """(n_processes, rss_bytes) of every python process descended from
    the driver JVM, found by walking this host's /proc tree: the daemon
    pool plus its forked workers. That is the whole pool in local mode
    only; executors in other JVMs (a cluster) are not counted."""
    jvm_pid = int(
        spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    )
    children, comm = _proc_tree()
    n, rss = 0, 0
    stack = list(children.get(jvm_pid, []))
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        if "python" in comm.get(pid, ""):
            n += 1
            rss += _rss_bytes(pid)
    return {"n_processes": n, "rss_bytes": rss}


def recycle_python_workers(spark: SparkSession) -> None:
    """Stop every PythonWorkerFactory of the driver's SparkEnv (the
    same call SparkEnv.stop() makes at shutdown): daemons exit, their
    SIGHUP'd workers exit with them, and the next Python task spawns a
    fresh daemon. Executors in other JVMs keep their factories. Safe
    whenever no job is running."""
    sc = spark.sparkContext
    jvm = sc._jvm
    gw = sc._gateway
    env = jvm.org.apache.spark.SparkEnv.get()
    cls = jvm.java.lang.Class.forName("org.apache.spark.SparkEnv")
    m = cls.getDeclaredMethod(
        "pythonWorkers", gw.new_array(jvm.java.lang.Class, 0)
    )
    m.setAccessible(True)
    factories = m.invoke(env, gw.new_array(jvm.java.lang.Object, 0))
    it = factories.values().iterator()
    while it.hasNext():
        it.next().stop()


def maybe_recycle_python_workers(spark: SparkSession) -> bool:
    """Recycle the driver JVM's pool iff its RSS exceeds the ceiling;
    returns whether it fired. Called by managed_query on scope exit.
    It bounds the pool in local mode only: it measures and recycles
    the driver's Python workers, never a cluster executor's."""
    try:
        stats = python_worker_pool_stats(spark)
    except Exception:
        return False  # non-procfs platform: policy is best-effort
    if stats["rss_bytes"] <= POOL_CEILING_MB * 1024 * 1024:
        return False
    recycle_python_workers(spark)
    return True
