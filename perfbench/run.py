"""Benchmark of the ingestion engine: three workloads, one client each.

    python3 perfbench/run.py --workload hourly_ingest --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into ``.bench_work/`` (removed at exit); reports and traces are kept in
``.bench_out/``. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``; with ``--trace 1`` the same work runs
traced and the metrics are the per-layer ones. The line before it holds
the full report, whose end-to-end figures then include the tracing.
Exit code 1 if any op failed or any output check did not match. See
README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import proc  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402

UNITS = {
    "setup_s": "s", "wall_s": "s", "pass_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
    "ingest_p50_s": "s", "readback_p50_s": "s",
    "rows_per_s": "rows/s", "bytes_stored_per_input_byte": "ratio", "failed_frac": "ratio",
}
# every traced layer but the status poll, whose call count depends on timing
TRACED_LAYERS = [t[2] for t in tracing.TARGETS if t[2] != "api.job_status"] + ["plans.jobs.action"]


def declared(key: str) -> list[str]:
    """Names of the metrics BENCHMARK.json declares under ``key``."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return [m["name"] for m in json.load(fh)[key]]


def tail(xs: list[float]) -> dict | None:
    """The highest percentile that leaves at least ten samples beyond it."""
    if len(xs) < 11:
        return None
    s = sorted(xs)
    i = len(s) - 11
    return {"value": s[i], "pct": round(100.0 * (i + 1) / len(s), 1), "n": len(s)}


def med(xs):
    return statistics.median(xs) if xs else None


def set_env(work: str) -> int:
    """Keep every file the run writes inside the checkout, and give the
    JVM's Python workers the engine on their path."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None
    os.chdir(work)
    sys.path.insert(0, ROOT)
    return nproc


def per_layer(wl, spans: dict, passes: int, session_s: float, overhead: float) -> dict:
    """Per-layer counts, zero where the workload bypasses a layer, plus
    session start and the tracing overhead."""
    c = wl.counts
    per_ingest = max(c["ingests"], 1)
    per_rb = max(c["readbacks"], 1)
    st = wl.storage or {}
    calls = {name: row["calls"] for name, row in spans.items()}
    hours_ingested = max(calls.get("plans.ingest.run_partition_ingest", 0), 1)
    m = {
        "session.start_s": (session_s, "s"),
        "trace.overhead_frac": (overhead, "ratio"),
        "spark.jobs_per_ingest": (c.get("spark.jobs_ingest", 0) / per_ingest, "count"),
        "spark.stages_per_ingest": (c.get("spark.stages_ingest", 0) / per_ingest, "count"),
        "spark.tasks_per_ingest": (c.get("spark.tasks_ingest", 0) / per_ingest, "count"),
        "spark.jobs_per_readback": (c.get("spark.jobs_readback", 0) / per_rb, "count"),
        "spark.tasks_per_readback": (c.get("spark.tasks_readback", 0) / per_rb, "count"),
        "sources.probe.calls_per_ingest": (
            calls.get("sources.probe.partition_exists", 0) / hours_ingested, "count"),
        "operators.sink.files_per_hour": (st.get("files", 0) / max(st.get("hours", 0), 1), "count"),
        "operators.sink.bytes_per_hour": (st.get("bytes", 0) / max(st.get("hours", 0), 1), "bytes"),
    }
    for layer in TRACED_LAYERS:
        m[f"{layer}.calls_per_pass"] = (calls.get(layer, 0) / passes, "count")
    for key in W.CATALOG_KEYS:
        m[f"queries.catalog.{key}.jobs"] = (c.get(f"queries.catalog.{key}.jobs", 0), "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def layer_report(wl, spans: dict) -> dict:
    """The named per-layer figures of the traced phase, for the
    layers this workload exercises (median per call unless noted)."""
    def med_of(name):
        row = spans.get(name)
        return row["median_s"] if row else None

    c = wl.counts
    out = {
        "api.ingest_partition_s": med_of("api.ingest_partition"),
        "api.job_status_s": med_of("api.job_status"),
        "api.polls_per_ingest": c.get("polls", 0) / c["ingests"] if c.get("polls") else None,
        "plans.jobs.handoff_s": med(wl.handoff),
        "plans.ingest.backfill_call_s": med_of("plans.ingest.backfill_partition_range"),
        "plans.ingest.run_partition_ingest_s": med_of("plans.ingest.run_partition_ingest"),
        "sources.probe.partition_exists_s": med_of("sources.probe.partition_exists"),
        "sources.hive_csv.read_build_s": med_of("sources.hive_csv.read_hive_partition"),
        "operators.sink.write_s": med_of("operators.sink.write_partition_overwrite"),
        "operators.sink.read_build_s": med_of("operators.sink.read_landing_table"),
        "plans.guard.assert_s": med_of("plans.guard.assert_partition_filtered"),
        "operators.sink.read_exec_s": med_of("operators.sink.read_exec"),
        "sources.tables.load_table_s": med_of("sources.tables.load_table"),
        "sources.tables.load_table_calls": spans.get("sources.tables.load_table", {}).get("calls"),
    }
    for key in W.CATALOG_KEYS:
        out[f"queries.catalog.{key}.build_s"] = med_of(f"queries.catalog.{key}.build")
        out[f"queries.catalog.{key}.exec_s"] = med_of(f"queries.catalog.{key}.exec")
    return {
        k: {"value": v, "unit": "s" if k.endswith("_s") else "count"}
        for k, v in out.items()
        if v is not None
    }


def timed_phase(wl, passes: int, tracer=None) -> tuple[list[float], float]:
    """Run the passes, traced when given a tracer; return the pass wall
    times and the CPU seconds the process tree spent."""
    me = os.getpid()
    cpu0 = proc.tree_cpu_s(me)
    times = []
    if tracer:
        tracer.enabled = True
    for p in range(passes):
        t0 = time.perf_counter()
        wl.run_pass(p)
        times.append(time.perf_counter() - t0)
    if tracer:
        tracer.enabled = False
    return times, proc.tree_cpu_s(me) - cpu0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="the self-test's small instance")
    args = ap.parse_args()

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work)
    try:
        return run(args, work, out_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, out_dir: str) -> int:
    nproc = set_env(work)
    passes = W.n_passes(args.workload, args.seconds, args.tiny)
    tracer = tracing.Tracer()
    wl = W.WORKLOADS[args.workload](
        args.seed, work, W.SIZES["tiny" if args.tiny else "full"], passes, tracer
    )
    t0 = time.perf_counter()
    digest = wl.generate()
    gen_s = time.perf_counter() - t0
    host = {"probe_ms": proc.host_probe_ms(), "other_jvms": proc.other_jvms()}

    # --- set-up: engine import -> first timed op; the harness's own
    # imports and the input generation are outside it ---
    t_setup = time.perf_counter()
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t_setup
    try:
        jvm = proc.jvm_pid(spark)
        wl.setup(spark)
        setup_s = time.perf_counter() - t_setup

        if args.trace:
            tracing.install(tracer)
        steal0 = proc.steal_s()
        pass_s, cpu_s = timed_phase(wl, passes, tracer if args.trace else None)
        host["steal_s"] = proc.steal_s() - steal0
        spans, overhead = {}, None
        if args.trace:
            spans = tracing.layer_table(tracer.spans)
            # the wrappers' own time, measured on a no-op, over the traced wall
            overhead = len(tracer.spans) * tracer.span_cost_s() / sum(pass_s)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        wl.verify()
        rss = proc.peak_rss_mb(os.getpid()) + proc.peak_rss_mb(jvm)
    finally:
        proc.stop_all(spark)

    wall_s = sum(pass_s)
    failed = len(wl.failures)
    attempted = max(wl.attempted, 1)
    report = {
        "setup_s": setup_s, "wall_s": wall_s, "pass_s": statistics.median(pass_s),
        "cpu_s": cpu_s, "peak_rss_mb": rss, "failed_frac": failed / attempted,
    }
    if wl.ingest_lat:
        st = wl.storage
        report.update({
            "ingest_p50_s": med(wl.ingest_lat), "readback_p50_s": med(wl.readback_lat),
            "rows_per_s": wl.rows_verified / wall_s,
            "bytes_stored_per_input_byte": st["bytes"] / st["csv_bytes"] if st["csv_bytes"] else None,
        })
    metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in report.items() if v is not None}
    for name, xs in (("ingest_tail_s", wl.ingest_lat), ("readback_tail_s", wl.readback_lat)):
        t = tail(xs)
        if t is not None:  # omitted where fewer than 11 samples
            metrics[name] = {**t, "unit": "s"}
    full = {
        "workload": args.workload, "seed": args.seed, "passes": passes,
        "metrics": metrics,
        "pass_times_s": pass_s, "ingest_n": len(wl.ingest_lat), "readback_n": len(wl.readback_lat),
        "input_digest": digest, "gen_s": gen_s, "session.start_s": session_s,
        "setup_phases_s": wl.setup_phases,
        "nproc": nproc, "loadavg": os.getloadavg(), "host": host, "counts": wl.counts,
        "failures": wl.failures[:20],
        "ingest_lat_s": wl.ingest_lat, "readback_lat_s": wl.readback_lat,
    }
    if args.trace:
        layers = layer_report(wl, spans)
        layers.update(per_layer(wl, spans, passes, session_s, overhead))
        full["layers"] = layers
        full["spans"] = spans
        names, source = declared("per_layer"), layers
    else:
        names, source = declared("end_to_end"), full["metrics"]
    # a failed op can leave a metric unmeasured; the run is then incorrect
    last = {k: {"value": source[k]["value"], "unit": source[k]["unit"]} for k in names if k in source}
    with open(os.path.join(out_dir, f"report-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    print(json.dumps({"report": full}))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": last}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
