"""The benchmark's own tests: contract of BENCHMARK.json, seeded inputs,
the engine-independent checks, and smoke runs of every workload.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark (about a minute each on a 4-core host).
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
sys.path.insert(0, ROOT)

from perfbench import inputs, run, web_kg  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_what_run_prints():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in b["workloads"]] == ["web_kg", "query_mix"]


def test_tables_are_a_function_of_the_seed(tmp_path):
    def digest(seed, sub):
        d = tmp_path / sub
        inputs.write_tables(str(d), seed, 50, 5, 40, 30)
        import pyarrow.parquet as pq
        return {t: pq.read_table(d / f"{t}.parquet").to_pylist()
                for t in ("customer", "documents", "embeddings", "nation")}

    assert digest(7, "a") == digest(7, "b")
    assert digest(7, "a") != digest(8, "c")


def test_read_nquads_unescapes_literals(tmp_path):
    (tmp_path / "part-0").write_text(
        '<s> <p> "a \\"b\\"\\nc d" <g> .\n<s> <p> <o> <g2> .\n',
        encoding="utf-8",
    )
    assert web_kg.read_nquads(str(tmp_path)) == {
        ("<s>", "<p>", '"a "b"\nc d"', "<g>"),
        ("<s>", "<p>", "<o>", "<g2>"),
    }


def test_covered_time_is_the_union_of_task_intervals():
    from perfbench.trace import covered_s

    assert covered_s([(0, 1000), (500, 1500), (3000, 3500), (3100, 3200)]) == 2.0


def test_trace_overhead_compares_warm_passes_and_can_fail_reconciliation():
    overhead, untraced = run.trace_overhead({"A": 30.0, "B": 20.0, "C": 16.0})
    assert (overhead, untraced) == (-4.0, 20.0)
    assert run.trace_overhead({"A": 30.0}) == (0.0, 30.0)
    layers_ok = {"unattributed_s": 1.0, "pass_wall_s": 30.0}
    assert run.reconciles({**layers_ok, "trace_overhead_s": -4.0}, 20.0)
    assert not run.reconciles({**layers_ok, "trace_overhead_s": -6.0}, 20.0)
    assert not run.reconciles({**layers_ok, "trace_overhead_s": 6.0}, 20.0)
    assert not run.reconciles({"unattributed_s": -1.0, "pass_wall_s": 30.0,
                               "trace_overhead_s": 0.0}, 20.0)


def _state():
    st = web_kg.State(None, 1, "", None, 1)
    st.text_by_url = {"u1": "Ana Silva Biography\nAna Silva works for Globex."}
    st.truth = {("<P0>", web_kg.P_WORKS_FOR, "<O1>", "<ctx:u1>")}
    return st


def test_web_checks_pass_on_exact_output():
    st = _state()
    quads = set(st.truth)
    ok, detail = web_kg.verify(st, dict(st.text_by_url), quads, set(quads))
    assert ok and detail["precision"] == 1.0 and detail["recall"] == 1.0


@pytest.mark.parametrize("breakage", ["text", "roundtrip", "relation"])
def test_web_checks_catch_each_mismatch(breakage):
    st = _state()
    text, quads = dict(st.text_by_url), set(st.truth)
    written = set(quads)
    if breakage == "text":
        text["u1"] += " "
    elif breakage == "roundtrip":
        written.add(("<P0>", "<label>", '"Ana"', "<ctx:u1>"))
    else:
        quads = written = {("<P0>", web_kg.P_WORKS_FOR, "<O2>", "<ctx:u1>")}
    assert not web_kg.verify(st, text, quads, written)[0]


def _run(*args, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), lines


@pytest.mark.parametrize("workload", ["web_kg", "query_mix"])
def test_smoke(workload):
    rc, res, _ = _run("--workload", workload, "--seed", "1", "--seconds", "1",
                      "--trace", "0", "--smoke")
    assert rc == 0 and res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_smoke_traced_layers_reconcile():
    rc, res, lines = _run("--workload", "query_mix", "--seed", "1",
                          "--seconds", "1", "--trace", "1", "--smoke")
    assert rc == 0 and res["correct"]
    assert set(res["metrics"]) == set(run.per_layer_units())
    info = json.loads(lines[-2])
    assert info["trace"]["reconciles"]
    layers = info["trace"]["layers"]
    for layer in ("plans.sparql", "plans.query", "ops.graph", "ops.dedup",
                  "ops.similarity", "ops.textstats"):
        assert layers[layer]["wall_s"] > 0 and layers[layer]["jobs"] > 0


def test_injected_mismatch_exits_nonzero():
    rc, res, _ = _run("--workload", "query_mix", "--seed", "1", "--seconds",
                      "1", "--trace", "0", "--smoke", "--inject-mismatch")
    assert rc == 1 and res["correct"] is False and res["failed"] > 0


def test_without_the_engine_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, res, lines = _run("--workload", "web_kg", "--seed", "1", "--seconds",
                          "1", "--trace", "0", cwd=str(tmp_path))
    assert rc != 0 and not lines
