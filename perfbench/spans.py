"""Traced-mode instrumentation: spans around layer entry points, and a
fold of the Spark event log per benchmark operation.

Nothing here is imported in an untraced run. `install()` wraps the
package's layer entry points from outside (the package itself is not
edited); every span carries the operation id it ran under and its parent
span on the same thread. `fold_event_log()` attributes Spark jobs, tasks
and SQL metrics to operations by time: one client runs one operation at
a time, so an event belongs to the operation whose window contains it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time

# wrapped entry point -> layer metric name; "{0}" takes the first
# positional argument after self (the model name for run_model)
ENTRY_POINTS = {
    ("nomba_data_pipeline_spark.catalog", None, "load_table"): "catalog.load_table",
    ("nomba_data_pipeline_spark.plans.runner", "PipelineRunner", "run"): "runner.run",
    ("nomba_data_pipeline_spark.plans.runner", "PipelineRunner", "run_model"): "runner.model.{0}",
    ("nomba_data_pipeline_spark.operators.merge", "ParquetTable", "overwrite"): "merge.overwrite",
    ("nomba_data_pipeline_spark.operators.merge", "ParquetTable", "merge_upsert"): "merge.upsert",
    ("nomba_data_pipeline_spark.operators.merge", "ParquetTable", "merge_upsert_dedup"):
        "merge.upsert",
    ("nomba_data_pipeline_spark.operators.merge", "ParquetTable", "high_water_mark_stats"):
        "merge.hwm",
    ("nomba_data_pipeline_spark.operators.merge", "ParquetTable", "high_water_mark"): "merge.hwm",
    ("nomba_data_pipeline_spark.operators.merge", "ParquetTable", "row_count_stats"):
        "merge.row_count",
    ("nomba_data_pipeline_spark.plans.quality", "QualitySpec", "assert_ok"): "quality.gate",
}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> dict | None:
        st = self._stack()
        # a layer calling into itself (an upsert delegating to another
        # upsert entry point) is one span, not two
        if st and st[-1]["name"] == name:
            return None
        s = {"name": name, "op": self.op, "thread": threading.get_ident(),
             "parent": st[-1]["id"] if st else None, "t0": time.time(), "t1": None}
        with self._lock:
            s["id"] = len(self.spans)
            self.spans.append(s)
        st.append(s)
        return s

    def end(self, s: dict | None) -> None:
        if s is None:
            return
        s["t1"] = time.time()
        st = self._stack()
        if st and st[-1] is s:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield
        finally:
            self.end(s)

    def wrap(self, fn, name: str, is_method: bool):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            pos = args[1:] if is_method else args
            s = self.begin(name.format(*pos) if "{0}" in name else name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(s)

        return inner


def install(tracer: Tracer) -> None:
    """Wrap every ENTRY_POINTS callable. Module-level functions are also
    rebound in every package module that imported them by name."""
    import importlib

    for (mod_name, cls_name, attr), name in ENTRY_POINTS.items():
        mod = importlib.import_module(mod_name)
        owner = getattr(mod, cls_name) if cls_name else mod
        orig = getattr(owner, attr)
        wrapped = tracer.wrap(orig, name, is_method=cls_name is not None)
        setattr(owner, attr, wrapped)
        if cls_name is None:
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("nomba_data_pipeline_spark") \
                        and getattr(m, attr, None) is orig:
                    setattr(m, attr, wrapped)


# -- interval helpers ----------------------------------------------------------
def union_len(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def span_metrics(tracer: Tracer, ops: list[dict]) -> list[dict]:
    """Per-operation span metrics: inclusive seconds per layer name, self
    seconds (span minus its children's union on the same thread), call
    counts, and the share of the operation's wall its spans cover."""
    kids: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = []
    for op in ops:
        mine = [s for s in tracer.spans if s["op"] == op["id"] and s["t1"] is not None]
        incl: dict[str, float] = {}
        self_s: dict[str, float] = {}
        calls: dict[str, int] = {}
        for s in mine:
            d = s["t1"] - s["t0"]
            ch = union_len((c["t0"], c["t1"]) for c in kids.get(s["id"], []) if c["t1"])
            incl[s["name"]] = incl.get(s["name"], 0.0) + d
            self_s[s["name"]] = self_s.get(s["name"], 0.0) + max(0.0, d - ch)
            calls[s["name"]] = calls.get(s["name"], 0) + 1
        covered = union_len(clip([(s["t0"], s["t1"]) for s in mine], op["t0"], op["t1"]))
        out.append({"incl": incl, "self": self_s, "calls": calls,
                    "coverage": covered / max(1e-9, op["t1"] - op["t0"]),
                    "spans": mine})
    return out


# -- event log -----------------------------------------------------------------
_ARROW = {
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
    "time to start Python workers": "arrow.worker_start_s",
    "time to initialize Python workers": "arrow.worker_init_s",
    "time to run Python workers": "arrow.worker_run_s",
}
_MS_METRICS = {"arrow.worker_start_s", "arrow.worker_init_s", "arrow.worker_run_s",
               "scan.time_s"}


def fold_event_log(path: str, ops: list[dict]) -> list[dict]:
    """One record per operation: jobs, tasks, executor time, shuffle,
    spill, scan, sink and Arrow-boundary metrics, plus the job intervals
    (for the driver-gap computation)."""
    recs = [{"jobs": [], "m": {}} for _ in ops]
    starts = [op["t0"] * 1000 for op in ops]
    ends = [op["t1"] * 1000 for op in ops]

    def op_at(ms: float) -> int | None:
        for i, (a, b) in enumerate(zip(starts, ends)):
            if a <= ms <= b:
                return i
        return None

    stage_op: dict[int, int] = {}
    stage_model: dict[int, str] = {}  # the runner's "model:<name>" job tag
    job_op: dict[int, int] = {}
    job_start: dict[int, float] = {}
    exec_op: dict[int, int] = {}
    acc_name: dict[int, str] = {}  # SQL metric accumulator id -> metric
    pending_driver: list[tuple[int, list]] = []

    def add(i: int, key: str, v: float) -> None:
        m = recs[i]["m"]
        m[key] = m.get(key, 0.0) + v

    def walk(plan: dict) -> None:
        node = plan.get("nodeName", "")
        for mt in plan.get("metrics", []):
            n = mt["name"]
            if n in _ARROW and ("Arrow" in node or "Python" in node or "Pandas" in node):
                acc_name[mt["accumulatorId"]] = _ARROW[n]
            elif n == "scan time":
                acc_name[mt["accumulatorId"]] = "scan.time_s"
            elif n == "number of written files":
                acc_name[mt["accumulatorId"]] = "sink.files_written"
        for c in plan.get("children", []):
            walk(c)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                i = op_at(e["Submission Time"])
                job_start[e["Job ID"]] = e["Submission Time"]
                if i is not None:
                    job_op[e["Job ID"]] = i
                    desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                    for sid in e["Stage IDs"]:
                        stage_op.setdefault(sid, i)
                        if desc.startswith("model:"):
                            stage_model.setdefault(sid, desc[len("model:"):])
            elif ev == "SparkListenerJobEnd":
                i = job_op.get(e["Job ID"])
                if i is not None:
                    recs[i]["jobs"].append((job_start[e["Job ID"]] / 1000,
                                            e["Completion Time"] / 1000))
            elif ev == "SparkListenerTaskEnd":
                i = stage_op.get(e["Stage ID"])
                if i is None:
                    continue
                tm = e.get("Task Metrics") or {}
                add(i, "spark.tasks", 1)
                add(i, "exec.run_s", tm.get("Executor Run Time", 0) / 1000)
                if e["Stage ID"] in stage_model:
                    add(i, f"runner.model_exec_s.{stage_model[e['Stage ID']]}",
                        tm.get("Executor Run Time", 0) / 1000)
                add(i, "exec.cpu_s", tm.get("Executor CPU Time", 0) / 1e9)
                add(i, "exec.gc_s", tm.get("JVM GC Time", 0) / 1000)
                sr = tm.get("Shuffle Read Metrics", {})
                add(i, "exchange.shuffle_read_bytes",
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                add(i, "exchange.fetch_wait_s", sr.get("Fetch Wait Time", 0) / 1000)
                add(i, "exchange.shuffle_write_bytes",
                    tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                add(i, "exchange.spill_bytes", tm.get("Disk Bytes Spilled", 0))
                inp = tm.get("Input Metrics", {})
                add(i, "scan.bytes_read", inp.get("Bytes Read", 0))
                add(i, "scan.records_read", inp.get("Records Read", 0))
                out = tm.get("Output Metrics", {})
                add(i, "sink.bytes_written", out.get("Bytes Written", 0))
                add(i, "sink.records_written", out.get("Records Written", 0))
                for a in e.get("Task Info", {}).get("Accumulables", []):
                    key = acc_name.get(a.get("ID"))
                    if key and isinstance(a.get("Update"), (int, float, str)):
                        add(i, key, float(a["Update"]))
            elif ev.endswith("SQLExecutionStart"):
                i = op_at(e["time"])
                if i is not None:
                    exec_op[e["executionId"]] = i
                walk(e["sparkPlanInfo"])
            elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                walk(e["sparkPlanInfo"])
            elif ev.endswith("SQLAdaptiveSQLMetricUpdates"):
                for mt in e.get("sqlPlanMetrics", []):
                    if mt["name"] == "number of written files":
                        acc_name[mt["accumulatorId"]] = "sink.files_written"
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                pending_driver.append((e["executionId"], e["accumUpdates"]))
    for exec_id, updates in pending_driver:
        i = exec_op.get(exec_id)
        if i is None:
            continue
        for acc_id, v in updates:
            key = acc_name.get(acc_id)
            if key:
                add(i, key, float(v))
    for r in recs:
        r["m"]["spark.jobs"] = float(len(r["jobs"]))
        for k in _MS_METRICS:
            if k in r["m"]:
                r["m"][k] /= 1000
    return recs
