"""Measurement plumbing shared by the workloads: the percentile rule,
span tracing with Spark job-group attribution, event-log accounting,
process memory and the metric catalogue.

Spans are recorded by the benchmark's own wrappers around the calls it
makes into each engine layer; nothing inside the engine is patched
except two memo dicts, which are swapped for counting dicts in the
traced run only.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import json
import os
import time

LAYERS = ("session", "tables", "domain", "engines", "reports", "operators",
          "etl", "audit", "llmdata", "streaming")
COUNTERS = (("calls", "count"), ("self_s", "s"), ("jobs", "count"), ("tasks", "count"),
            ("exec_cpu_s", "s"), ("shuffle_bytes", "B"), ("spill_bytes", "B"),
            ("input_bytes", "B"))
EXTRA_LAYER_METRICS = (
    ("tables.frame_cache_hit_ratio", "ratio"),
    ("engines.ledger_cache_hit_ratio", "ratio"),
    ("engines.eager_jobs", "count"),
    ("reports.build_s", "s"),
    ("reports.plan_s", "s"),
    ("reports.exec_s", "s"),
    ("reports.assemble_s", "s"),
    ("reports.render_s", "s"),
    ("etl.reject_ratio", "ratio"),
    ("etl.bytes_written_per_input_byte", "ratio"),
    ("etl.files_written", "count"),
    ("audit.log_bytes_per_event", "B"),
    ("llmdata.index_write_s", "s"),
    ("llmdata.index_append_s", "s"),
    ("llmdata.keep_ratio", "ratio"),
    ("streaming.start_s", "s"),
    ("streaming.batch_s", "s"),
    ("streaming.jobs_per_drop", "count"),
    ("streaming.on_stats_s", "s"),
    ("session.start_s", "s"),
    ("session.warm_s", "s"),
    ("spark.persisted_after_release", "count"),
    ("spark.cached_bytes_peak", "B"),
    ("spark.gc_s", "s"),
    ("spark.unattributed_jobs", "count"),
    ("trace.spans", "count"),
    ("trace.op_p50_s", "s"),
    ("trace.overhead_s", "s"),
)
END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("items_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
)


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric the traced run prints, with its unit."""
    out = [(f"{layer}.{name}", unit) for layer in LAYERS for name, unit in COUNTERS]
    return out + list(EXTRA_LAYER_METRICS)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile of ``values`` (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """The highest reported percentile with at least ten samples beyond
    it, or None when fewer than twenty samples exist."""
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


@functools.lru_cache(maxsize=None)
def code_version(root: str) -> str:
    """Digest of the code whose outputs and speed are measured: the
    engine package, ``__spark_entry__.py`` and the oracle hash helper.
    State kept across runs (response digests, run records) is keyed by
    it, so two versions of the engine never check against each other."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py"), os.path.join(root, "tools", "check.py")]
    for dirpath, dirs, names in os.walk(os.path.join(root, "etl_staging_spark")):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        paths += [os.path.join(dirpath, n) for n in sorted(names) if n.endswith(".py")]
    for path in paths:
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


# -- process memory -------------------------------------------------------

def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


# -- tracing --------------------------------------------------------------

class CountingDict(dict):
    """A memo dict that counts lookups and hits (``get`` only, which is
    how the engine's memo caches are read)."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.lookups = 0
        self.hits = 0

    def get(self, key, default=None):
        self.lookups += 1
        if key in self:
            self.hits += 1
        return super().get(key, default)

    def ratio(self) -> float:
        return self.hits / self.lookups if self.lookups else 0.0


def count_memo_lookups() -> tuple[CountingDict, CountingDict]:
    """Swap the engine's two memo caches (scanned frames, the ledger
    fact) for counting copies; returns them."""
    from etl_staging_spark import tables
    from etl_staging_spark.engines import ledger

    tables._FRAME_CACHE = CountingDict(tables._FRAME_CACHE)
    ledger._LEDGER_CACHE = CountingDict(ledger._LEDGER_CACHE)
    return tables._FRAME_CACHE, ledger._LEDGER_CACHE


class Tracer:
    """In-memory span recorder. While ``on`` is set, each span tags the
    Spark jobs it submits with its own job group, so the event log can
    charge jobs, tasks and task metrics to the innermost open span."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.on = enabled
        self.request: str | None = None
        self.spans: list[dict] = []
        self.stream_groups: dict[str, str] = {}
        self.cost_s = 0.0  # time spent in span bookkeeping
        self._stack: list[dict] = []
        self._n = 0

    def _set_group(self, span_id: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", span_id)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.on:
            yield None
            return
        t0 = time.perf_counter()
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"pb{self._n}", "layer": layer, "name": name,
               "parent": parent["id"] if parent else None, "request": self.request,
               "start": t0, "end": None}
        self._stack.append(rec)
        self._set_group(rec["id"])
        self.cost_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = t1
            self._stack.pop()
            self._set_group(parent["id"] if parent else None)
            self.spans.append(rec)
            self.cost_s += time.perf_counter() - t1

    def bind_stream(self, run_id: str, span: dict | None) -> None:
        """Charge a streaming query's jobs (Spark tags micro-batch jobs
        with the query's run id as job group) to ``span``."""
        if span is not None:
            self.stream_groups[run_id] = span["id"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> duration minus the part covered by its child spans."""
    child_time: dict[str, float] = {}
    for s in spans:
        if s["parent"]:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child_time.get(s["id"], 0.0) for s in spans}


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse the (uncompressed) Spark event log: returns
    ({job id: job group}, {job id: summed task metrics})."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    job_metrics: dict[int, dict] = {}
    paths = []
    for dirpath, _, names in os.walk(log_dir):
        # rolling logs (one directory per application) hold events_<n>_<app> files
        paths += [os.path.join(dirpath, n) for n in names
                  if n.startswith(("events_", "local-")) and not n.endswith(".crc")]
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])
                       if os.path.basename(p).startswith("events_") else 0):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_metrics[jid] = {"tasks": 0, "exec_cpu_s": 0.0, "shuffle_bytes": 0,
                                        "spill_bytes": 0, "input_bytes": 0, "gc_s": 0.0}
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if jid is None or not tm:
                        continue
                    m = job_metrics[jid]
                    m["tasks"] += 1
                    m["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    return job_group, job_metrics


def layer_metrics(tracer: Tracer, log_dir: str | None) -> dict[str, float]:
    """The per-layer counters: span calls and self time, plus the jobs,
    tasks and task metrics of every job whose group is one of the
    layer's spans."""
    out = {f"{layer}.{name}": 0.0 for layer in LAYERS for name, _ in COUNTERS}
    by_id = {s["id"]: s for s in tracer.spans}
    selfs = self_times(tracer.spans)
    for s in tracer.spans:
        if s["layer"] in LAYERS:
            out[f"{s['layer']}.calls"] += 1
            out[f"{s['layer']}.self_s"] += selfs[s["id"]]
    unattributed = 0
    jobs_by_span: dict[str, int] = {}
    # the measured loop alone (jobs under a request's spans), for the
    # run record
    measured = {"jobs": 0, "tasks": 0, "exec_cpu_s": 0.0}
    if log_dir:
        groups, metrics = read_event_log(log_dir)
        for jid, group in groups.items():
            span = by_id.get(tracer.stream_groups.get(group, group))
            if span is not None and span["request"] is not None:
                measured["jobs"] += 1
                measured["tasks"] += metrics[jid]["tasks"]
                measured["exec_cpu_s"] += metrics[jid]["exec_cpu_s"]
            # jobs of a non-layer span (the request root) charge to the
            # nearest enclosing layer span, if any
            while span is not None and span["layer"] not in LAYERS:
                span = by_id.get(span["parent"])
            if span is None:
                unattributed += 1
                continue
            jobs_by_span[span["id"]] = jobs_by_span.get(span["id"], 0) + 1
            layer = span["layer"]
            out[f"{layer}.jobs"] += 1
            for k in ("tasks", "exec_cpu_s", "shuffle_bytes", "spill_bytes", "input_bytes"):
                out[f"{layer}.{k}"] += metrics[jid][k]
    out["spark.unattributed_jobs"] = float(unattributed)
    out["trace.spans"] = float(len(tracer.spans))
    # consumed by the runner and the workloads, not printed
    out["_jobs_by_span"] = jobs_by_span
    out["_measured"] = measured
    return out


# -- JVM probes -----------------------------------------------------------

def jvm_gc_s(spark) -> float:
    """Total collector time of the driver JVM (local mode: the executor
    shares it)."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mgmt.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1e3


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)
