"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Starts one Spark session (local[nproc],
one client), sets the workload up from the seed, runs operations in
rounds until `--seconds` have passed, checks every operation's output,
and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics; `--trace 1` installs span
wrappers, turns on the Spark event log and reports the per-layer
metrics instead. `--smoke` runs one operation on sf0.001-sized inputs.
Everything is written under `.perfbench_tmp/` in the working directory
and removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, ROOT)

import workloads as W  # noqa: E402

END_TO_END = {"setup_s": "s", "round_s": "s"}
MODELS = ("stg_users", "users_snapshot", "dim_users", "stg_plans", "dim_plans",
          "stg_transactions", "fact_transactions")
PER_LAYER = {
    "session.start_s": "s",
    "setup.program_s": "s",
    "peak_rss_mb": "MB",
    "op.samples": "count",
    "op.p50_s": "s",
    "trace.round_s": "s",
    "trace.coverage": "ratio",
    "catalog.load_table_s": "s",
    "catalog.load_table_calls": "count",
    "scan.bytes_read": "bytes",
    "scan.records_read": "count",
    "scan.time_s": "s",
    "runner.run_s": "s",
    **{f"runner.model_s.{m}": "s" for m in MODELS},
    **{f"runner.model_exec_s.{m}": "s" for m in MODELS},
    "runner.overlap": "ratio",
    "runner.driver_gap_s": "s",
    "merge.overwrite_s": "s",
    "merge.upsert_s": "s",
    "merge.hwm_s": "s",
    "merge.row_count_s": "s",
    "sink.bytes_written": "bytes",
    "sink.files_written": "count",
    "sink.records_written": "count",
    "sink.write_amp": "ratio",
    "sink.stored_bytes_per_source_byte": "ratio",
    "quality.gate_s": "s",
    "quality.gates": "count",
    "quality.gate_share": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.busy_frac": "ratio",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_read_bytes": "bytes",
    "exchange.fetch_wait_s": "s",
    "exchange.spill_bytes": "bytes",
    **{f"queries.{q}_s": "s" for q in W.MART_MIX},
    "similarity.query_s": "s",
    "similarity.append_s": "s",
    "similarity.recall_at_5": "ratio",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "arrow.worker_start_s": "s",
    "arrow.worker_init_s": "s",
    "arrow.worker_run_s": "s",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _peak_rss_mb(pids) -> float:
    """Sum of the processes' peak resident set sizes (VmHWM)."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def start_spark(tmp: str, trace: bool):
    from nomba_data_pipeline_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(tmp, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(master=f"local[{_cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM (and with it the Python workers), and
    wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run_ops(w, seconds: float, smoke: bool, tracer) -> list[dict]:
    ops: list[dict] = []
    t_loop = time.perf_counter()
    while True:
        for _ in range(w.round_size):
            w.prepare()
            op = {"id": len(ops), "ok": True, "error": None}
            if tracer is not None:
                tracer.op = op["id"]
            op["t0"], p0 = time.time(), time.perf_counter()
            try:
                w.op()
            except Exception as e:  # a raising operation counts as failed
                op["ok"], op["error"] = False, repr(e)[:300]
            op["dur"], op["t1"] = time.perf_counter() - p0, time.time()
            if tracer is not None:
                tracer.op = None
            if op["ok"]:
                try:
                    bad = w.check()
                except Exception as e:
                    bad = [f"check raised {e!r}"[:300]]
                if bad:
                    op["ok"], op["error"] = False, "; ".join(bad)[:500]
            op["extra"] = dict(w.extra)
            ops.append(op)
            if not op["ok"]:
                print(f"op {op['id']} failed: {op['error']}", file=sys.stderr)
            if smoke:
                return ops
        if time.perf_counter() - t_loop >= seconds:
            return ops


def _median(vals) -> float:
    vals = list(vals)
    return float(statistics.median(vals)) if vals else 0.0


def layer_metrics(ops, span_recs, folds, w, session_s, phases) -> dict:
    """Per-layer metrics: each additive quantity summed over a round's
    operations (a serve round mixes mart queries and an ANN batch), ratios
    recomputed from those sums, then the median over the run's rounds."""
    from spans import clip, union_len

    per_op = []
    for op, sp, fo in zip(ops, span_recs, folds):
        incl, calls = sp["incl"], sp["calls"]
        gap = sum((s["t1"] - s["t0"]) - union_len(clip(fo["jobs"], s["t0"], s["t1"]))
                  for s in sp["spans"] if s["name"] == "runner.run")
        m = {
            "catalog.load_table_s": incl.get("catalog.load_table", 0.0),
            "catalog.load_table_calls": calls.get("catalog.load_table", 0),
            "runner.run_s": incl.get("runner.run", 0.0),
            **{f"runner.model_s.{n}": incl.get(f"runner.model.{n}", 0.0) for n in MODELS},
            "runner.driver_gap_s": gap,
            "merge.overwrite_s": incl.get("merge.overwrite", 0.0),
            "merge.upsert_s": incl.get("merge.upsert", 0.0),
            "merge.hwm_s": incl.get("merge.hwm", 0.0),
            "merge.row_count_s": incl.get("merge.row_count", 0.0),
            "quality.gate_s": incl.get("quality.gate", 0.0),
            "quality.gates": calls.get("quality.gate", 0),
            **{f"{k}_s": v for k, v in incl.items() if k.startswith("queries.")},
            **fo["m"],
            **op["extra"],
            "_gate_self": sp["self"].get("quality.gate", 0.0),
            "_covered": sp["coverage"] * op["dur"],
            "_dur": op["dur"],
        }
        per_op.append(m)
    rounds = []
    for i in range(0, len(per_op), w.round_size):
        r: dict[str, float] = {}
        for m in per_op[i:i + w.round_size]:
            for k, v in m.items():
                r[k] = r.get(k, 0.0) + v
        run_s = r.get("runner.run_s", 0.0)
        r["runner.overlap"] = sum(r[f"runner.model_s.{n}"] for n in MODELS) / run_s if run_s else 0
        r["quality.gate_share"] = r["_gate_self"] / run_s if run_s else 0.0
        r["exec.busy_frac"] = r.get("exec.run_s", 0.0) / (_cores() * r["_dur"])
        r["trace.coverage"] = r["_covered"] / r["_dur"]
        if r.get("changed_bytes"):
            r["sink.write_amp"] = r.get("sink.bytes_written", 0.0) / r["changed_bytes"]
        ann_ops = sum(1 for m in per_op[i:i + w.round_size] if "similarity.recall_at_5" in m)
        if ann_ops:
            r["similarity.recall_at_5"] /= ann_ops
        rounds.append(r)
    out = {k: _median(r.get(k, 0.0) for r in rounds) for k in PER_LAYER}
    out.update(w.run_layers())
    out["session.start_s"] = session_s
    out["setup.program_s"] = sum(v for k, v in phases.items() if not k.startswith("inputs"))
    out["op.samples"] = len(ops)
    out["op.p50_s"] = _median(op["dur"] for op in ops)
    out["trace.round_s"] = round_s(ops, w.round_size)
    return out


def round_s(ops, size: int) -> float:
    """Median over the run's rounds of the round's summed operation time."""
    return _median(sum(op["dur"] for op in ops[i:i + size]) for i in range(0, len(ops), size))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    import nomba_data_pipeline_spark  # noqa: F401  (fail fast without the package)

    tmp = os.path.join(os.getcwd(), ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "tmp"))
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    trace = bool(args.trace)
    try:
        tracer = None
        if trace:
            import spans as T

            tracer = T.Tracer()
        t0 = time.perf_counter()
        spark = start_spark(tmp, trace)
        session_s = time.perf_counter() - t0
        if tracer is not None:
            T.install(tracer)
        scale = (W.SMOKE if args.smoke else W.SCALE)[args.workload]
        w = W.WORKLOADS[args.workload](spark, tmp, args.seed, scale, tracer)
        try:
            phases = w.setup()
            ops = run_ops(w, args.seconds, args.smoke, tracer)
            from pyspark import SparkContext

            jvm = SparkContext._gateway.proc.pid
            with open(f"/proc/{jvm}/cmdline", "rb") as f:
                assert b"java" in f.read().split(b"\0")[0], "gateway pid is not the JVM"
            peak = _peak_rss_mb([os.getpid(), jvm])
        finally:
            stop_spark(spark)
        failed = sum(not op["ok"] for op in ops)
        if trace:
            logs = os.listdir(os.path.join(tmp, "eventlog"))
            folds = T.fold_event_log(os.path.join(tmp, "eventlog", logs[0]), ops)
            span_recs = T.span_metrics(tracer, ops)
            vals = layer_metrics(ops, span_recs, folds, w, session_s, phases)
            vals["peak_rss_mb"] = peak
            metrics = {k: {"value": vals[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            vals = {"setup_s": session_s + sum(phases.values()),
                    "round_s": round_s(ops, w.round_size)}
            metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({"setup_phases": phases, "session_s": session_s,
                          "ops": [(round(o["dur"], 4), o["ok"]) for o in ops]}),
              file=sys.stderr)
        result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
                  "metrics": metrics}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
