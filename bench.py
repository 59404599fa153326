"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": <total sec>, "unit": "sec",
 "queries": {name: headline sec, ...}, "sf": <sf>, ...}

Trust-by-construction protocol (round-10 verdict, Next #1). Two rounds
running, the single-JVM bench read as a phantom regression on
byte-identical code: same-commit two-worktree controls spread +/-9% per
JVM (faaaf6a:AB_r09_control.json), the variance is CORRELATED across queries
within a JVM, and the host CPU has a measured ~4x slow power state —
so one unlucky JVM (or one slow host window) shifted every median
one-sidedly. Structural fixes, in this file rather than in the
explanation:

1. MULTI-JVM, MIN-OF-MINS HEADLINE. The query set runs in >=2 fresh
   JVMs (interleaved reps inside each); each row's headline number is
   the min over all JVMs of the min over reps. A single unlucky JVM
   can no longer poison the artifact — the other JVM's min survives.
   Per-JVM medians + cpu probes are kept as diagnostics so a real
   regression (both JVMs slow, probes normal) is still visible.
2. DEDICATED CONVERSION JVMs. `tensor_to_zarr_4GB` and
   `pyramid_compute_2GB` previously ran LAST in the query JVM, after
   ~75 query executions of GC/shuffle-file pressure — the exact
   contamination the sf30 sweep measured on q09 (44.4 s in-sweep vs
   18.9 s fresh-JVM, ROUND_NOTES 10f). They now run in their own fresh
   JVMs and never share a heap with the query set.
3. CPU-PROBE SANITY COLUMN. Every JVM records a pinned-size matmul
   probe; `value_probe_scaled` rescales the headline to the reference
   probe speed (PROBE_REF_MS, the r10 steady state) so a drifted total
   can be read against the host speed it ran at.

Cross-commit regression claims still belong to ``tools/ab_bench.py``
(ABBA interleave cancels drift entirely); this artifact is the cheap
per-round snapshot, now robust to the two failure modes observed.

Headline set: one query per operator family, weighted toward the
shuffle-heavy paths that dominate at scale (joins, aggregation,
windows, dedup pair generation) plus the tensor conversion pipeline at
bench scale (synthetic source, pure write path). Round 8 swapped the
LSH row to `q_minhash_lsh_pairs_capped` (production path).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q10_returned_items",
    "q_cube_flag_status",
    "q_window_frames",
    "q_topk_orders_per_customer",
    "q_events_session",
    "q_asof_click_purchase",
    "q_minhash_lsh_pairs_capped",
    "q_text_tfidf_top_term",
    "q_knn_bruteforce",
    "q_shard_grid",
]

CONVERSION_ROWS = ["tensor_to_zarr_4GB", "pyramid_compute_2GB"]

# Round-15 (r14 verdict, Next #8): every query row sits at the 0.4-2 s
# job-scheduling floor at sf0.1, where +/-20% is noise and 8-vs-32-core
# ratios are ~1 — the bench could not resolve plan changes. This row is
# the SAME q01 aggregation over lineitem fanned out 64x in-plan
# (explode over a 64-literal array — recomputed from parquet every run,
# nothing cached), giving a multi-second, CPU-bound aggregation whose
# time tracks cores (measured 3.5 s at 32 cores vs 9.8 s at 8, ratio
# ~2.7 where every legacy row reads ~1.0). ADDITION-ONLY: reported in
# `queries` but excluded from `value`, so the headline stays comparable
# to r<=14.
SCALE_PROBE_ROW = "q01_pricing_summary_x64"
_SCALE_PROBE_FANOUT = 64


def _scale_probe_df(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from aind_exaspim_data_transformation_spark.queries._helpers import (
        davg,
        dec,
        dsum,
        fan_out_small_scan,
    )
    from aind_exaspim_data_transformation_spark.sources.tables import (
        load_table,
    )

    # fan_out_small_scan BEFORE the explode: lineitem.parquet at bench
    # SF plans only 3 scan tasks (row-group bound), which would pin the
    # fanned CPU work to 3 cores and erase exactly the core-scaling
    # signal this row exists to measure (first clean-host run without
    # it: 12.48 s at 32 cores vs 12.28 s at 8). No-op at real scale.
    li = fan_out_small_scan(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        )
    ).withColumn(
        "rep",
        F.explode(
            F.array(*[F.lit(i) for i in range(_SCALE_PROBE_FANOUT)])
        ),
    )
    return li.groupBy("l_returnflag", "l_linestatus", "rep").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        davg("l_discount", "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )

# JVM fan-out: 2 query JVMs x 3 interleaved reps = 6 timed samples per
# query (vs the old 1 JVM x 5), plus 2 conversion JVMs x 2 reps.
N_QUERY_JVMS = int(os.environ.get("BENCH_QUERY_JVMS", "2"))
N_CONV_JVMS = int(os.environ.get("BENCH_CONV_JVMS", "2"))
REPS_PER_JVM = int(os.environ.get("BENCH_REPS", "3"))
CONV_REPS_PER_JVM = int(os.environ.get("BENCH_CONV_REPS", "2"))

# Reference cpu-probe speed (ms) for the sanity column: the r10
# steady-state reading on this host class (faaaf6a:BENCH_r10.json env).
PROBE_REF_MS = 27.7

_CHILD_TAG = "BENCHCHILD "


def _env_snapshot() -> dict:
    """Machine-state suspects for round-over-round drift (round-9
    verdict, Next #1): load, free memory, page cache, and tmp-disk free
    space — recorded so a drifted BENCH can be checked against the
    environment it ran in, not just its predecessor's numbers."""
    snap: dict = {}
    try:
        snap["loadavg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as f:
            mi = dict(
                (line.split(":")[0], int(line.split()[1]))
                for line in f
                if ":" in line and line.split()[1].isdigit()
            )
        snap["mem_available_gb"] = round(mi.get("MemAvailable", 0) / 2**20, 1)
        snap["page_cache_gb"] = round(mi.get("Cached", 0) / 2**20, 1)
    except OSError:
        pass
    try:
        st = os.statvfs(tempfile.gettempdir())
        snap["tmp_free_gb"] = round(st.f_bavail * st.f_frsize / 2**30, 1)
    except OSError:
        pass
    # Host-speed probe: this VM's CPU has a measured ~4x slower cold
    # power state (round-10 diagnosis: identical matmuls ran 0.272 s ->
    # 0.074 s across consecutive calls), and rounds run hours apart.
    # The probe both PULLS the host out of the slow state before any
    # timed section and RECORDS the steady-state speed, so a drifted
    # round total can be checked against the host speed it ran at.
    import numpy as np

    x = np.random.rand(1500, 1500)
    runs = []
    for _ in range(8):
        t0 = time.monotonic()
        x @ x
        runs.append(time.monotonic() - t0)
    snap["cpu_probe_ms"] = round(min(runs) * 1000, 1)
    return snap


def _io_probe_ms(size_mb: int = 128) -> float:
    """Write+fsync a fixed-size file in the bench temp dir (round-11
    verdict, What's wrong #1): the matmul probe is CPU-only, so a dirty
    DISK window — dirty-page writeback stalling the conversion rows'
    output path — left no fingerprint (r11 run 2 caught both conversion
    JVMs slow with CLEAN cpu probes). This names it: the probe measures
    the same write+fsync path the shard writer uses, with a size small
    enough (~128 MB) to cost <1 s on a clean disk and large enough that
    a contended writeback window shows up as a multi-x reading."""
    buf = os.urandom(1 << 20)
    t0 = time.monotonic()
    fd, path = tempfile.mkstemp(prefix="io_probe_")
    try:
        with os.fdopen(fd, "wb") as f:
            for _ in range(size_mb):
                f.write(buf)
            f.flush()
            os.fsync(f.fileno())
    finally:
        os.unlink(path)
    return round((time.monotonic() - t0) * 1000, 1)


def _child_queries(sf_dir: str, cpus: int, reps: int) -> dict:
    """One fresh JVM: warm-up + `reps` INTERLEAVED passes over HEADLINE.

    Interleaving (rep loop OUTER, query loop INNER) spreads slow
    machine drift across every query equally instead of concentrating
    it on whichever query ran during the bad minute (round-7 fix)."""
    from aind_exaspim_data_transformation_spark.queries import QUERIES
    from aind_exaspim_data_transformation_spark.session import get_spark

    env = _env_snapshot()
    spark = get_spark("bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + catalog with one tiny action, then one untimed
    # cold pass (whole-stage codegen compile + file-index population
    # are one-time costs that amortize away on a long-lived cluster).
    QUERIES["q06_forecast_revenue"](spark, sf_dir).collect()
    cold_total = 0.0
    for name in HEADLINE:
        t0 = time.monotonic()
        QUERIES[name](spark, sf_dir).collect()
        cold_total += time.monotonic() - t0

    # Scale-probe row: one untimed cold pass, then timed with the same
    # rep interleave (appended after the HEADLINE loop each rep so the
    # r<=14 rows' measurement context is unchanged).
    _scale_probe_df(spark, sf_dir).collect()

    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    samples[SCALE_PROBE_ROW] = []
    for _ in range(reps):
        for name in HEADLINE:
            t0 = time.monotonic()
            QUERIES[name](spark, sf_dir).collect()
            samples[name].append(time.monotonic() - t0)
        t0 = time.monotonic()
        _scale_probe_df(spark, sf_dir).collect()
        samples[SCALE_PROBE_ROW].append(time.monotonic() - t0)
    spark.stop()
    return {"samples": samples, "cold_total": round(cold_total, 3), "env": env}


def _child_conversion(cpus: int, reps: int) -> dict:
    """One fresh JVM dedicated to the two conversion rows — never
    shares a heap with the query set (round-10 verdict, Next #1b)."""
    from aind_exaspim_data_transformation_spark.config import (
        ConvertJobSettings,
    )
    from aind_exaspim_data_transformation_spark.session import get_spark
    from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
        convert_to_zarr,
    )

    env = _env_snapshot()
    spark = get_spark("bench-conv", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # Tiny warm run spins up Python workers; one untimed bench-scale
    # run pays worker buffer growth + page-cache population (observed
    # spread without it: [3.2 s, 6.5 s] for identical work).
    with tempfile.TemporaryDirectory() as tmp:
        convert_to_zarr(
            spark,
            ConvertJobSettings(
                input_source="synth://64,64,64,1",
                output_location=os.path.join(tmp, "warm.zarr"),
                chunk_shape=(32, 32, 32),
                shard_shape=(32, 32, 32),
            ),
        )
    with tempfile.TemporaryDirectory() as tmp:
        convert_to_zarr(
            spark,
            ConvertJobSettings(
                input_source="synth://2048,1024,1024,1",
                output_location=os.path.join(tmp, "warm_full.zarr"),
                chunk_shape=(64, 64, 64),
                shard_shape=(128, 128, 128),
                translate_pyramid=True,
                codec="zstd",
                codec_level=3,
            ),
        )

    # I/O probes bracket the timed sections (start / between rows /
    # end) so a dirty disk window opening MID-JVM is still named.
    io_probes = {"start": _io_probe_ms()}

    # tensor_to_zarr_4GB: 4.3 GB synthetic uint16 through the shard
    # writer with zstd-3 (production codec, matching the reference's
    # chain; BASELINE.md comparable: 0.084 GB/s at 8-16 workers).
    conv_runs: list[float] = []
    conv_bytes = 0
    for _ in range(reps):
        with tempfile.TemporaryDirectory() as tmp:
            t0 = time.monotonic()
            result = convert_to_zarr(
                spark,
                ConvertJobSettings(
                    input_source="synth://2048,1024,1024,1",
                    output_location=os.path.join(tmp, "bench.zarr"),
                    chunk_shape=(64, 64, 64),
                    shard_shape=(128, 128, 128),
                    translate_pyramid=True,
                    codec="zstd",
                    codec_level=3,
                ),
            )
            conv_runs.append(time.monotonic() - t0)
            conv_bytes = result["stages"][0]["bytes_read"]

    io_probes["mid"] = _io_probe_ms()

    # pyramid_compute_2GB (A1 kernel path): level 0 copied + levels 1-2
    # mean-downsampled FROM THE STORE (read-back + block-reduce +
    # write). GB/s is level-0 source bytes over the 3-level wall time.
    pyr_runs: list[float] = []
    pyr_bytes = 0
    for _ in range(reps):
        with tempfile.TemporaryDirectory() as tmp:
            t0 = time.monotonic()
            pyr = convert_to_zarr(
                spark,
                ConvertJobSettings(
                    input_source="synth://1024,1024,1024,1",
                    output_location=os.path.join(tmp, "pyr.zarr"),
                    chunk_shape=(64, 64, 64),
                    shard_shape=(128, 128, 128),
                    translate_pyramid=False,
                    downsample_levels=3,
                    downsample_mode="mean",
                    codec="zstd",
                    codec_level=3,
                ),
            )
            pyr_runs.append(time.monotonic() - t0)
            pyr_bytes = pyr["stages"][0]["bytes_read"]

    io_probes["pre_noise"] = _io_probe_ms()

    # tensor_to_zarr_4GB_noise (round-13 verdict, Next #7): the SAME
    # pipeline on the calibrated shot-noise source (~2:1 compressible,
    # the realistic-microscopy regime) so the committed bench tracks
    # BOTH conversion bounds every round — the ramp row flatters the
    # codec path ~65:1. Runs LAST so the two legacy rows' measurement
    # context is byte-identical to r<=13 (cross-round comparability).
    noise_runs: list[float] = []
    noise_bytes = 0
    for _ in range(reps):
        with tempfile.TemporaryDirectory() as tmp:
            t0 = time.monotonic()
            nz = convert_to_zarr(
                spark,
                ConvertJobSettings(
                    input_source="synthnoise://2048,1024,1024,1",
                    output_location=os.path.join(tmp, "noise.zarr"),
                    chunk_shape=(64, 64, 64),
                    shard_shape=(128, 128, 128),
                    translate_pyramid=True,
                    codec="zstd",
                    codec_level=3,
                ),
            )
            noise_runs.append(time.monotonic() - t0)
            noise_bytes = nz["stages"][0]["bytes_read"]
    spark.stop()
    io_probes["end"] = _io_probe_ms()
    return {
        "conv_runs": conv_runs,
        "pyr_runs": pyr_runs,
        "noise_runs": noise_runs,
        "conv_bytes": conv_bytes,
        "pyr_bytes": pyr_bytes,
        "noise_bytes": noise_bytes,
        "io_probes_ms": io_probes,
        "env": env,
    }


def _run_child(args: list[str]) -> dict:
    """Spawn one fresh-JVM child (this same file) and parse its tagged
    JSON line. Children run SEQUENTIALLY — parallel JVMs would contend
    for the same 32 cores and measure each other."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        capture_output=True,
        text=True,
        timeout=3600,
    )
    for line in proc.stdout.splitlines():
        if line.startswith(_CHILD_TAG):
            return json.loads(line[len(_CHILD_TAG):])
    sys.stderr.write(proc.stdout[-4000:] + "\n" + proc.stderr[-4000:] + "\n")
    raise RuntimeError(f"bench child {args} produced no result line")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    if len(sys.argv) > 1 and sys.argv[1] == "--child-queries":
        print(_CHILD_TAG + json.dumps(_child_queries(sf_dir, cpus, REPS_PER_JVM)))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--child-conversion":
        print(_CHILD_TAG + json.dumps(_child_conversion(cpus, CONV_REPS_PER_JVM)))
        return

    # Parent: orchestrate fresh JVMs, aggregate min-of-mins. Children
    # run sequentially but ALTERNATE kinds (Q C Q C ...): the host's
    # bad windows (CPU slow-state, dirty-page writeback) last minutes,
    # so two same-kind JVMs back-to-back can both land inside one —
    # observed on the conversion rows (both conv JVMs 2-3x slow in the
    # same run while every query JVM was clean). Alternation separates
    # a kind's JVMs in time, which is what makes its min-over-JVMs
    # robust to a single bad window.
    env_parent = _env_snapshot()  # also pulls the host out of slow state
    kinds = []
    for i in range(max(N_QUERY_JVMS, N_CONV_JVMS)):
        if i < N_QUERY_JVMS:
            kinds.append("--child-queries")
        if i < N_CONV_JVMS:
            kinds.append("--child-conversion")
    results = [(k, _run_child([k])) for k in kinds]
    qjvms = [r for k, r in results if k == "--child-queries"]
    cjvms = [r for k, r in results if k == "--child-conversion"]

    timings: dict[str, float] = {}  # headline: min over JVMs of min
    medians: dict[str, float] = {}  # pooled median (diagnostic)
    spread: dict[str, list[float]] = {}
    iqr: dict[str, float] = {}
    # SCALE_PROBE_ROW is aggregated like a query row but, like the
    # noise conversion row, EXCLUDED from `value` (see below).
    for name in HEADLINE + [SCALE_PROBE_ROW]:
        pooled = [s for j in qjvms for s in j["samples"][name]]
        per_jvm_mins = [min(j["samples"][name]) for j in qjvms]
        timings[name] = round(min(per_jvm_mins), 3)
        medians[name] = round(statistics.median(pooled), 3)
        spread[name] = [round(min(pooled), 3), round(max(pooled), 3)]
        if len(pooled) >= 2:
            q1, _, q3 = statistics.quantiles(pooled, n=4)
            iqr[name] = round(q3 - q1, 3)
        else:
            iqr[name] = 0.0

    conv_pooled = [s for j in cjvms for s in j["conv_runs"]]
    pyr_pooled = [s for j in cjvms for s in j["pyr_runs"]]
    for name, pooled in (
        ("tensor_to_zarr_4GB", conv_pooled),
        ("pyramid_compute_2GB", pyr_pooled),
    ):
        timings[name] = round(min(pooled), 3)
        medians[name] = round(statistics.median(pooled), 3)
        spread[name] = [round(min(pooled), 3), round(max(pooled), 3)]

    # `value` stays the sum of the r<=13 row set so it compares across
    # rounds; the realistic-entropy row (r14) and the scale-probe row
    # (r15) are reported alongside, not summed in.
    value_rows = HEADLINE + CONVERSION_ROWS
    value = round(sum(timings[n] for n in value_rows), 3)
    value_median = round(sum(medians[n] for n in value_rows), 3)
    conversion_gbps = round(
        cjvms[0]["conv_bytes"] / 1e9 / min(conv_pooled), 4
    )
    pyramid_compute_gbps = round(
        cjvms[0]["pyr_bytes"] / 1e9 / min(pyr_pooled), 4
    )
    noise_pooled = [s for j in cjvms for s in j.get("noise_runs", [])]
    if noise_pooled:
        name = "tensor_to_zarr_4GB_noise"
        timings[name] = round(min(noise_pooled), 3)
        medians[name] = round(statistics.median(noise_pooled), 3)
        spread[name] = [
            round(min(noise_pooled), 3), round(max(noise_pooled), 3)
        ]
        conversion_noise_gbps = round(
            cjvms[0]["noise_bytes"] / 1e9 / min(noise_pooled), 4
        )
    else:
        conversion_noise_gbps = None

    probes = [j["env"].get("cpu_probe_ms") for j in qjvms + cjvms]
    probes = [p for p in probes if p]
    best_probe = min(probes) if probes else None
    jvm_diag = {
        "query_jvms": [
            {
                "min_total": round(sum(min(j["samples"][n]) for n in HEADLINE), 3),
                "median_total": round(
                    sum(statistics.median(j["samples"][n]) for n in HEADLINE), 3
                ),
                "cpu_probe_ms": j["env"].get("cpu_probe_ms"),
                "loadavg_1m": j["env"].get("loadavg_1m"),
            }
            for j in qjvms
        ],
        "conversion_jvms": [
            {
                "conv_runs": [round(s, 3) for s in j["conv_runs"]],
                "pyr_runs": [round(s, 3) for s in j["pyr_runs"]],
                "noise_runs": [
                    round(s, 3) for s in j.get("noise_runs", [])
                ],
                "cpu_probe_ms": j["env"].get("cpu_probe_ms"),
                "io_probe_ms": j.get("io_probes_ms"),
            }
            for j in cjvms
        ],
        "io_probe_rule": (
            "each conversion JVM records write+fsync probes at start/"
            "mid/end (128 MB, same output path as the shard writer); a"
            " conversion row's min is trusted only from a JVM whose"
            " bracketing probes sit within ~2x of the round's best io"
            " probe — a JVM with drifted io probes and clean cpu probes"
            " was inside a dirty disk window (the r11 run-2 failure"
            " mode) and its samples are diagnostic, not headline,"
            " evidence. With >=2 conversion JVMs alternated in time the"
            " min-over-JVMs already drops such a window unless BOTH"
            " JVMs were dirty, which the probes now make visible."
        ),
    }

    # The driver captures only the tail of an over-long stdout line
    # (faaaf6a:BENCH_r12.json: "parsed": null) — keep the headline JSON
    # compact (<2 KB, every per-query value visible) and park everything
    # else in a sidecar the repo keeps (round-12 verdict Next #6).
    diag_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_DIAG.json")
    diagnostics = {
        "value_median_pooled": value_median,
        "queries_median_pooled": medians,
        "iqr": iqr,
        "spread": spread,
        "jvm_diagnostics": jvm_diag,
        "env": env_parent,
        "cold_first_run_total_sec": qjvms[0]["cold_total"],
        "protocol": (
            "multi-jvm min-of-mins: >=2 fresh query JVMs with"
            " interleaved reps; conversion rows in dedicated fresh"
            " JVMs; headline value = sum of per-row min over JVMs"
            " (round-10 verdict Next #1 — robust to the measured"
            " per-JVM +/-9% correlated spread and host CPU"
            " slow-states; cross-commit claims still via"
            " tools/ab_bench.py)"
        ),
        "headline_note": (
            "value is min-of-mins across fresh JVMs (compare to r10+"
            " value_min, not r<=9 medians); lsh row is"
            " q_minhash_lsh_pairs_capped (production path);"
            " value_probe_scaled rescales to the r10 reference cpu-probe"
            " speed — if value drifts but value_probe_scaled does not,"
            " the host was slow, not the code."
            " tensor_to_zarr_4GB_noise (r14+) is reported in queries/"
            "conversion_noise_gbps but EXCLUDED from value so the"
            " headline remains comparable to earlier rounds."
            " q01_pricing_summary_x64 (r15+) is a core-scaling probe —"
            " the q01 aggregation over lineitem fanned"
            f" {_SCALE_PROBE_FANOUT}x in-plan, the"
            " only query row above the sf0.1 job floor — also reported"
            " in queries but EXCLUDED from value."
        ),
    }
    with open(diag_path, "w", encoding="utf-8") as fh:
        json.dump(diagnostics, fh, indent=1)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_seconds",
                "value": value,  # = min protocol (old alias: value_min)
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpu_probe_ms_best": best_probe,
                "probe_ref_ms": PROBE_REF_MS,
                "value_probe_scaled": (
                    round(value * PROBE_REF_MS / best_probe, 3)
                    if best_probe
                    else None
                ),
                "conversion_gbps": conversion_gbps,
                "conversion_noise_gbps": conversion_noise_gbps,
                "pyramid_compute_gbps": pyramid_compute_gbps,
                "n_query_jvms": N_QUERY_JVMS,
                "n_conversion_jvms": N_CONV_JVMS,
                "reps_per_jvm": REPS_PER_JVM,
                "diagnostics_file": "BENCH_DIAG.json",
            }
        )
    )


if __name__ == "__main__":
    main()
