"""The benchmark's own tests.

    python -m pytest perfbench -q

Generator determinism, the span arithmetic, and a smoke run of every
workload (one operation at sf0.001-sized inputs) that checks every named
metric is emitted with its unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _files(d):
    return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))}


def test_same_seed_same_inputs_and_other_seeds_differ(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    for seed, d in ((1, a), (1, b), (2, c)):
        src = gen.TpchSource(seed, 0.001)
        src.write(d)
        cdc = gen.CdcGenerator(src, seed)
        for i in range(3):
            cdc.apply(cdc.next_delta(), d)
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert all(fa[f].equals(fb[f]) for f in fa)
    assert not any(fa[f"{t}.parquet"].equals(fc[f"{t}.parquet"])
                   for t in ("customer", "orders", "lineitem"))

    e1, e2, e3 = (gen.EmbeddingSource(s, 512, 64) for s in (1, 1, 2))
    assert np.array_equal(e1.corpus, e2.corpus) and not np.array_equal(e1.corpus, e3.corpus)
    (i1, v1), (i2, v2) = e1.next_batch(), e2.next_batch()
    assert np.array_equal(i1, i2) and np.array_equal(v1, v2)


def test_cdc_cycles_advance_past_the_high_water_mark(tmp_path):
    src = gen.TpchSource(3, 0.001)
    base_max = max(np.max(src.orders["o_orderdate"]), np.max(src.line["l_shipdate"]))
    cdc = gen.CdcGenerator(src, 3)
    last = base_max
    for _ in range(4):
        d = cdc.next_delta()
        cdc.apply(d, str(tmp_path))
        day = (d.stamp - gen.EPOCH).days
        assert day > last
        assert np.all(src.orders["o_orderdate"][d.plan_ids] == day)
        assert len(d.plan_ids) and len(d.user_ids) and len(d.new_line_keys)
        last = day
    keys = src.line["l_orderkey"] * 100 + src.line["l_linenumber"]
    ship = src.line["l_shipdate"]
    # duplicated transaction keys never tie on the tracking column
    assert len(set(zip(keys.tolist(), ship.tolist()))) == len(keys)


def test_span_self_time_and_coverage():
    t = spans.Tracer()
    t.op = 0
    outer = t.begin("runner.run")
    outer["t0"] = 0.0
    inner = t.begin("merge.upsert")
    inner["t0"] = 1.0
    t.end(inner)
    inner["t1"] = 3.0
    t.end(outer)
    outer["t1"] = 4.0
    (rec,) = spans.span_metrics(t, [{"id": 0, "t0": 0.0, "t1": 5.0}])
    assert rec["incl"] == {"runner.run": 4.0, "merge.upsert": 2.0}
    assert rec["self"]["runner.run"] == 2.0
    assert rec["coverage"] == pytest.approx(0.8)
    assert spans.union_len([(0, 2), (1, 3), (5, 6)]) == 4


def _run(args, cwd):
    p = subprocess.run([sys.executable, *BENCH["command"][1:], *args], cwd=cwd,
                       capture_output=True, text=True, timeout=600)
    return p


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_emits_every_metric(workload, trace):
    p = _run(["--workload", workload, "--seed", "1", "--seconds", "1",
              "--trace", str(trace), "--smoke"], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] == 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in out["metrics"].items()}
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp", f"{workload}-"))


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, *BENCH["command"][1:], "--workload",
                        BENCH["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
                       timeout=180, env=env)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_metric_lists_match_benchmark_json():
    assert [m["name"] for m in BENCH["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in BENCH["per_layer"]] == list(run.PER_LAYER)
