"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q          # from the repository root

The fast tests need no Spark. The end-to-end tests run the benchmark
once per workload and trace mode, each for its minimum of three timed
passes (a few minutes in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import ADMIT, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


# --- no Spark ----------------------------------------------------------

def test_inputs_depend_only_on_seed():
    a, b, c = gen.tables(7), gen.tables(7), gen.tables(8)
    assert a.keys() == set(gen.ROWS)
    for name, rows in gen.ROWS.items():
        assert a[name].equals(b[name])
        assert a[name].num_rows == c[name].num_rows == rows
        assert a[name].schema == c[name].schema
    assert not a["documents"].equals(c["documents"])


def test_documents_hold_duplicates():
    docs = gen.tables(3)["documents"].to_pydict()
    norm = [" ".join(t.split()) for t in docs["text"]]
    assert len(set(norm)) < len(norm)               # exact copies
    assert any(t.endswith(" dup") for t in norm)    # near copies


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_each_pass_runs_every_operation_once(name):
    wl = WORKLOADS[name]
    want = sorted(wl.queries) + [f"{ADMIT}:{e}"
                                 for e in range(wl.admit_epochs)]
    orders = set()
    for seed in range(3):
        for p in range(-2, 4):
            ops = wl.pass_ops(seed, p)
            assert sorted(ops) == sorted(want)
            epochs = [o for o in ops if o.startswith(ADMIT)]
            assert epochs == sorted(epochs)         # epochs in order
            orders.add(tuple(ops))
    assert len(orders) == len(wl.units())           # seed rotates


def test_tail_is_eleventh_largest():
    v, pct = run.tail_latency([float(i) for i in range(40)])
    assert v == 29.0 and pct == 75.0
    with pytest.raises(ValueError):
        run.tail_latency([1.0] * 10)


def test_benchmark_json_matches_the_code():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]
            ] == [(k, u, b) for k, (u, b) in spans.LAYERS.items()]
    e2e = {m["name"]: m for m in BENCH["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_self_time_and_layers_from_synthetic_spans():
    tr = spans.Tracer(True)
    with tr.span("pass", None, **{"pass": 0}) as p:
        with tr.span("op", p, group="w:q:0", op="q") as o:
            with tr.span("build", o):
                pass
            with tr.span("exec", o):
                pass
    op = tr.spans[o]
    t_build = tr.wall(tr.spans[2]["start"])
    jobs = [{"id": 0, "t": t_build, "group": "w:q:0", "desc": "build",
             "stages": [0]},
            {"id": 1, "t": tr.wall(op["start"]), "group": None,
             "desc": None, "stages": [1]},          # from an engine thread
            {"id": 2, "t": 0.0, "group": None, "desc": None,
             "stages": [2]},                        # outside every span
            {"id": 3, "t": t_build, "group": None, "desc": None,
             "stages": [3]}]                        # a thread, in build
    stages = {0: {"tasks": 4, "acc": {"executor.cpu_s": 0.5}},
              1: {"tasks": 1, "acc": {"executor.cpu_s": 0.25,
                                      "functions.python_s": 2.0}},
              2: {"tasks": 9, "acc": {"executor.cpu_s": 9.0}},
              3: {"tasks": 2, "acc": {"executor.cpu_s": 0.125}}}
    m = spans.layer_metrics(tr, jobs, stages, {"session.start_s": 1.0}, {})
    # jobs 1 and 3 have no group: submission times put both in the op,
    # job 1 before its build span starts and job 3 inside it
    assert m["spark.jobs"] == 3 and m["operators.build_jobs"] == 2
    assert m["spark.tasks"] == 7 and m["executor.cpu_s"] == 0.875
    assert m["functions.python_s"] == 2.0 and m["session.start_s"] == 1.0
    kids = sum(s["end"] - s["start"] for s in tr.spans[2:])
    assert spans.self_time(tr.spans, o) == pytest.approx(
        op["end"] - op["start"] - kids)


# --- end to end --------------------------------------------------------

def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_run_prints_every_metric_with_its_unit(workload):
    for trace, listed in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
        p = _run(ROOT, workload, trace)
        assert p.returncode == 0, p.stderr[-3000:]
        res = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0, p.stderr[-3000:]
        assert res["attempted"] >= run.MIN_PASSES * len(
            WORKLOADS[workload].pass_ops(1, 0))
        assert {k: v["unit"] for k, v in res["metrics"].items()} == {
            m["name"]: m["unit"] for m in listed}
        if trace:
            _check_spans(os.path.join(ROOT, run.STATE_DIR, "work",
                                      "spans.json"))


def _check_spans(path: str) -> None:
    with open(path) as f:
        sp = json.load(f)
    names = {s["name"] for s in sp}
    assert {"run", "pass", "op"} <= names
    for s in sp:
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            par = sp[s["parent"]]
            assert par["start"] <= s["start"] and s["end"] <= par["end"]
            assert (par["name"], s["name"]) in {
                ("run", "pass"), ("pass", "op"), ("op", "build"),
                ("op", "plan"), ("op", "exec"), ("op", "epoch")}
    for op in (s for s in sp if s["name"] == "op"):
        wall = op["end"] - op["start"]
        # build + plan + exec (or the epoch) cover the operation
        assert spans.self_time(sp, op["id"]) <= 0.05 * wall


def test_run_refuses_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
