"""Benchmark entry point.

    python3 perfbench/run.py --workload ledger_reports --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine under test is imported from
the checkout; inputs are generated from ``--seed`` under
``.bench_work/`` (git-ignored). The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A run record (machine, load, commit, seed, input sizes,
every metric) is written next to the inputs.

Workloads: ``ledger_reports``, ``nightly_close``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
SETUP_REPEATS = 3
DRIVER_MEM = "2g"  # the driver JVM heap; executors share it in local mode


WORKLOADS = {
    "ledger_reports": ("perfbench.ledger_reports", "LedgerReports"),
    "nightly_close": ("perfbench.nightly_close", "NightlyClose"),
}


def _workload_class(name: str):
    import importlib

    module, cls = WORKLOADS[name]
    return getattr(importlib.import_module(module), cls)


def _commit() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _configure_env(work: str, trace: bool) -> int:
    """Session settings for a small local machine, all state under ``work``."""
    cpus = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Python workers import the engine by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher too): no perf-data file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # a fixed-size heap: peak RSS then does not depend on when the
    # collector chose to grow it
    args = [f"--driver-java-options=-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={work}"]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{events}",
                 "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"'{a}'" if " " in a else a for a in args) + " pyspark-shell"
    return cpus


def _untraced_p50s(workload: str, seconds: int, code: str) -> list[float]:
    """``op_p50_s`` of every untraced run of ``workload`` recorded in
    this checkout over the same engine code and duration (seeds vary
    only the generated data, not its size or the request mix)."""
    refs = []
    for name in os.listdir(WORK_ROOT):
        if not (name.startswith(f"record-{workload}-") and name.endswith("-0.json")):
            continue
        try:
            with open(os.path.join(WORK_ROOT, name)) as f:
                rec = json.load(f)
            if (rec["code"], rec["seconds"], rec["failed_ops"], rec["failures"]) == (
                    code, seconds, 0, []):
                refs.append(rec["metrics"]["op_p50_s"])
        except (OSError, ValueError, KeyError):
            continue
    return refs


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    from perfbench import harness

    work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = _configure_env(work, trace)
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "cpus": cpus, "driver_mem": os.environ["SPARK_DRIVER_MEM"],
              "pythonpath": os.environ["PYTHONPATH"], "commit": _commit(),
              "code": harness.code_version(ROOT),
              "loadavg_start": os.getloadavg()}
    t_session = time.perf_counter()
    from etl_staging_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    session_start = time.perf_counter()
    start_s = session_start - t_session
    tracer = harness.Tracer(spark.sparkContext, trace)
    if trace:
        tracer.spans.append({"id": "pb0", "layer": "session", "name": "get_spark",
                             "parent": None, "request": None,
                             "start": t_session, "end": session_start})
    jvm_pid = getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", None)
    wl = _workload_class(workload)(spark, tracer, work, seed)
    failed = attempted = 0
    try:
        # set-up: input generation is repeated (fresh directories) and
        # its median counted; the session starts and warms once
        gen_times, counts, gen_dir = [], None, None
        for k in range(SETUP_REPEATS):
            gen_dir = os.path.join(work, f"inputs{k}")
            t = time.perf_counter()
            counts = wl.generate(gen_dir)
            gen_times.append(time.perf_counter() - t)
        wl.use_inputs(gen_dir, counts)
        record["inputs"] = counts
        wl.compute_oracles()  # untimed: reference results for the checks
        # the traced run also traces set-up, whose work (the warm-up
        # requests and night, the corpus build) is charged to layers
        tracer.on = trace
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        setup_s = start_s + harness.median(gen_times) + warm_s
        if trace:
            caches = harness.count_memo_lookups()
        gc0 = harness.jvm_gc_s(spark)
        lat: list[float] = []
        trace_cost = tracer.cost_s
        persisted = 0
        cached_peak = 0
        items = 0
        t_run = time.perf_counter()
        i = 0
        # whole rounds only, at least one; the traced run traces every
        # operation, so its counters cover the same work as an untraced run
        while i == 0 or i % wl.round_size() or time.perf_counter() - t_run < seconds:
            tracer.request = f"op{i}"
            attempted += 1
            t = time.perf_counter()
            try:
                with tracer.span("bench", "op"):
                    items += wl.op(i)
            except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                failed += 1
            if trace:
                cached_peak = max(cached_peak, harness.cached_bytes(spark))
            lat.append(time.perf_counter() - t)
            i += 1
        wall = time.perf_counter() - t_run
        trace_cost = (tracer.cost_s - trace_cost) / len(lat)
        tracer.request = None
        wl.finish()
        if trace:
            persisted = harness.persisted_rdds(spark)
        gc_s = harness.jvm_gc_s(spark) - gc0
        rss = harness.peak_rss_mb(jvm_pid)
    finally:
        _stop(spark)
    failures = wl.failures
    for msg in failures:
        print(f"check failed: {msg}", file=sys.stderr)
    if trace:
        lm = harness.layer_metrics(tracer, os.path.join(work, "events"))
        jobs_by_span = lm.pop("_jobs_by_span")
        # what the measured operations cost the executors, against the
        # cpu-seconds the machine offered over the same wall time
        record["measured"] = dict(lm.pop("_measured"), wall_s=wall, cpu_capacity_s=wall * cpus)
        metrics = {name: 0.0 for name, _ in harness.per_layer_metrics()}
        metrics.update(lm)
        metrics.update(wl.layer_extras(jobs_by_span, tracer.spans))
        metrics.update({
            "tables.frame_cache_hit_ratio": caches[0].ratio(),
            "engines.ledger_cache_hit_ratio": caches[1].ratio(),
            "engines.eager_jobs": float(sum(jobs_by_span.get(s["id"], 0) for s in tracer.spans
                                            if s["layer"] == "engines")),
            "session.start_s": start_s, "session.warm_s": warm_s,
            "spark.persisted_after_release": float(persisted),
            "spark.cached_bytes_peak": float(cached_peak), "spark.gc_s": gc_s,
            "trace.op_p50_s": harness.median(lat),
        })
        # tracing overhead: traced minus untraced operation medians, the
        # untraced ones from this checkout's untraced runs; without any,
        # only the span bookkeeping (no storage probes, no event log),
        # timed in this run, is known
        refs = _untraced_p50s(workload, seconds, record["code"])
        record["overhead_basis"] = f"{len(refs)} untraced runs" if refs else "span bookkeeping"
        metrics["trace.overhead_s"] = (metrics["trace.op_p50_s"] - harness.median(refs)
                                       if refs else trace_cost)
        units = dict(harness.per_layer_metrics())
        tracer.write(os.path.join(WORK_ROOT, f"spans-{workload}-{seed}.jsonl"))
    else:
        metrics = {"setup_s": setup_s, "op_p50_s": harness.median(lat),
                   "items_per_s": items / wall, "peak_rss_mb": rss}
        units = dict(harness.END_TO_END)
    record.update({"loadavg_end": os.getloadavg(), "ops": len(lat), "wall_s": wall,
                   "tail_percentile": harness.tail_percentile(len(lat)),
                   "latencies_s": lat, "failed_ops": failed, "failures": failures,
                   "metrics": metrics})
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(WORK_ROOT, f"record-{workload}-{seed}-{int(trace)}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    return {"correct": not failures and failed == 0, "attempted": attempted,
            "failed": min(attempted, failed + len(failures)),
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_staging_spark")):
        print(f"error: no engine package next to {os.path.dirname(__file__)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
