"""Repository benchmark: ``job.run_job`` over seeded ``.ims`` tiles and a
query mix over seeded tables, on ``local[nproc]`` from one closed-loop
client (this process; the next op starts when the previous one ends).

    python3 perfbench/run.py --workload ims_pyramid_shard --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. Everything the run
writes stays under the repository root: fixtures in .perfbench_cache/
(by seed), stores and Spark scratch in .perfbench_work/ (removed at
exit), the environment record and spans in .perfbench_out/. See
perfbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "aind_exaspim_data_transformation_spark"
REQUIRED = (PKG, "tools/gen_testdata.py", "tools/parity.py")

WORKLOADS = ("ims_pyramid_shard", "query_mix_sf0.01")

END_TO_END_UNITS = {"setup_s": "s", "job_s": "s", "source_gbps": "GB/s", "peak_rss_gb": "GB"}

# Setups per run: the first starts the JVM, the others restart the
# session in it; setup_s is their median.
N_SETUPS = 3

# Timed ops per run: at least MIN_OPS, so one slow op (this class of
# shared host has multi-second CPU stalls) cannot set the run's median;
# MAX_OPS stops a loop of ops that fail instantly.
MIN_OPS = 3
MAX_OPS = 50

# Host steal: the share of the machine's CPU time the hypervisor gave
# to other guests during an op. On this class of shared host an op
# slows by about twice its stolen share, and neighbours hold the host
# for tens of seconds at a time, so the medians use only ops under
# STEAL_LIMIT when MIN_OPS of them ran (else the MIN_OPS least stolen).
# Every op stays in the run record with its steal share.
STEAL_LIMIT = 0.025
MAX_BUSY = 2.0


def clear_ops(ops: list[dict]) -> list[dict]:
    return [o for o in ops if o["steal_share"] <= STEAL_LIMIT]


def steady_ops(ops: list[dict]) -> list[dict]:
    """The ops the run's medians are taken over."""
    clear = clear_ops(ops)
    if len(clear) >= MIN_OPS:
        return clear
    return sorted(ops, key=lambda o: o["steal_share"])[:MIN_OPS]


def per_layer_names() -> list[str]:
    from querymix import FLOOR, X64

    names = [
        "tensor.read_s", "tensor.read_mbps", "minihdf5.chunks_decoded",
        "downsample.s", "downsample.mbps",
        "format.encode_s", "format.encode_mbps", "format.inner_chunks",
        "codecs.compress_s", "codecs.crc32c_s",
        "format.write_s", "kvstore.puts", "kvstore.put_bytes", "kvstore.stored_ratio",
        "format.read_region_s", "format.decode_mbps",
        "discovery.discover_s", "multitile.build_tasks_s", "multitile.n_tasks",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks", "host.steal_share",
        "spark.op_cpu_s",
        "spark.writer_task_s", "spark.unattributed_s", "spark.unattributed_share",
        "pipeline.level_loop_job_s", "pipeline.level_loop_spark_jobs",
        "tables.scan_lineitem_s", "query.floor_mix_s", "query.x64_agg_s",
    ]
    for q in FLOOR + [X64]:
        names += [f"query.{q}.plan_s", f"query.{q}.exec_s"]
    return names


def layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("mbps"):
        return "MB/s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_share")):
        return "ratio"
    return "count"


def _warm_fn(batches):
    """Warm-up body: Python workers import the package once."""
    import aind_exaspim_data_transformation_spark.zarrio.multitile  # noqa: F401

    yield from batches


def new_session(nproc: int, tmp: str):
    from aind_exaspim_data_transformation_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 4 * nproc, numPartitions=nproc).mapInPandas(
        _warm_fn, "id long"
    ).collect()
    return spark


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for every process this
    run started (JVM, Python worker daemon, workers) to end."""
    import signal
    import subprocess

    from pyspark import SparkContext

    import probes

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        rest = [p for p in probes.process_tree() if p != os.getpid()]
        if not rest:
            return
        for pid in rest:
            try:
                os.kill(pid, signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in rest:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def measure(args, spark, work: str, setups: list[float], rss_samples: list[int]) -> dict:
    import fixtures
    import probes

    nproc = os.cpu_count() or 1
    tracer = probes.Tracer(bool(args.trace))
    phases: dict[str, float] = {}
    mark = time.monotonic()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.monotonic()
        phases[name] = now - mark
        mark = now

    cache = os.path.join(ROOT, ".perfbench_cache")
    conversion = args.workload == "ims_pyramid_shard"
    if not conversion:
        from querymix import QueryMixWorkload

        sf_dir, gen_s = fixtures.ensure("tables", args.seed, cache)
        wl = QueryMixWorkload(args.workload, spark, sf_dir, ROOT)
    else:
        from conversion import ConversionWorkload

        tiles_dir, gen_s = fixtures.ensure("ims", args.seed, cache)
        wl = ConversionWorkload(args.workload, spark, tiles_dir, work, args.seed)

    phase("fixtures")
    env = probes.environment(f"local[{nproc}]", work)
    phase("env_probes")
    wl.warm_up()
    phase("warm_up")

    # Closed loop: ops back to back until their summed time reaches
    # --seconds (checks between ops are not counted), and on past it, up
    # to MAX_BUSY x --seconds, while fewer than MIN_OPS ops ran clear of
    # host steal.
    ops, errors = [], []
    attempted = failed = 0
    busy = 0.0
    while attempted < MAX_OPS and (
        len(ops) < MIN_OPS
        or busy < args.seconds
        or (len(clear_ops(ops)) < MIN_OPS and busy < MAX_BUSY * args.seconds)
    ):
        attempted += 1
        t0 = time.perf_counter()
        try:
            rec = wl.op(attempted, tracer)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            failed += 1
            errors.append(traceback.format_exc())
            busy += time.perf_counter() - t0
            continue
        busy += rec["job_s"]
        rss_samples.append(probes.tree_peak_rss_bytes())
        if rec["errors"]:
            failed += 1
            errors.extend(rec["errors"])
        ops.append(rec)
    phase("ops_and_checks")
    if conversion and ops and args.trace:
        cross = wl.cross_check(tracer)
        attempted += 1
        failed += bool(cross)
        errors.extend(cross)
        phase("level_loop_check")

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "fixture_gen_s": gen_s,
        "setups_s": setups,
        "phases_s": phases,
        "ops": ops,
        "errors": errors,
    }
    measured = steady_ops(ops)
    record["steady_ops"] = [ops.index(o) for o in measured]
    if not ops:
        metrics = {}
    elif args.trace:
        counters = wl.replay(tracer)
        phase("replay")
        layer = {n: 0.0 for n in per_layer_names()}
        for key in ("jobs", "stages", "tasks", "failed_tasks"):
            layer[f"spark.{key}"] = statistics.median(o["spark"][key] for o in ops)
        layer["host.steal_share"] = statistics.median(o["steal_share"] for o in ops)
        layer["spark.op_cpu_s"] = statistics.median(o["cpu_s"] for o in measured)
        layer.update(wl.layer_metrics(tracer, counters, measured, nproc))
        metrics = {
            n: {"value": float(layer[n]), "unit": layer_unit(n)}
            for n in per_layer_names()
        }
        record["self_time"] = tracer.summary()
        record["spans"] = tracer.dump()
    else:
        job_s = statistics.median(o["job_s"] for o in measured)
        values = {
            "setup_s": statistics.median(setups),
            "job_s": job_s,
            "source_gbps": wl.source_bytes / 1e9 / job_s,
            "peak_rss_gb": max(rss_samples) / 1e9,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END_UNITS.items()}
    record["metrics"] = metrics
    probes.write_json(
        os.path.join(
            ROOT, ".perfbench_out",
            f"{args.workload}-seed{args.seed}-trace{args.trace}.json",
        ),
        record,
    )
    for e in errors:
        print(e, file=sys.stderr)
    return {
        "correct": bool(ops) and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def run(args, work: str) -> dict:
    import probes

    nproc = os.cpu_count() or 1
    tmp = os.path.join(work, "tmp")
    spark = None
    try:
        # Set-up: JVM + session + Python workers, N_SETUPS times.
        spark = new_session(nproc, tmp)
        setups = [time.monotonic() - probes.process_start_monotonic()]
        for _ in range(N_SETUPS - 1):
            spark.stop()
            t0 = time.monotonic()
            spark = new_session(nproc, tmp)
            setups.append(time.monotonic() - t0)
        rss = [probes.tree_peak_rss_bytes()]
        return measure(args, spark, work, setups, rss)
    finally:
        shutdown(spark)


def main(argv=None) -> int:
    import signal

    args = parse_args(argv)
    # A terminated run still stops its JVM and removes its scratch.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a repository checkout (missing {missing})", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Workers inherit the environment of the JVM, which inherits ours.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    sys.path[:0] = [ROOT, HERE]
    os.chdir(work)
    try:
        result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
