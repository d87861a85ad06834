"""The benchmark's own tests: the correctness gate rejects tampered output,
tracing installs nothing once restored, and every workload runs in both
modes at tiny size.

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke test starts one Spark session per workload and mode (minutes).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gate, run, trace  # noqa: E402
from perfbench.workloads import SIZES, Workload  # noqa: E402
from crawler_spark.data.generators import gen_registry_py, gen_robots_py, gen_seeds_py  # noqa: E402


def fixture_workload(seed: int = 5) -> Workload:
    size = SIZES["crawl_fixture"]["tiny"]
    return Workload(
        size,
        registry_rows=gen_registry_py(size["n_names"]),
        robots_rows=gen_robots_py(),
        seed_rows=gen_seeds_py(size["n_seeds"], n_names=size["n_names"]),
        rng_seed=seed,
    )


def state_of(sim) -> dict:
    """An engine state identical to the simulator's."""
    return {
        "log": [tuple(r[f] for f in gate.LOG_FIELDS) for r in sim.schedule_log],
        "seen": dict(sim.seen),
        "docs": {k: dict(v) for k, v in sim.documents.items()},
    }


def test_parity_gate_rejects_tampered_state():
    sim = gate.simulate(fixture_workload(), [0, 3])
    assert sim.schedule_log and sim.seen
    assert gate.parity_violations(state_of(sim), sim) == []

    st = state_of(sim)
    st["log"][0] = st["log"][0][:6] + ("Skipped" if st["log"][0][6] != "Skipped" else "Processed",) + st["log"][0][7:]
    assert any("schedule_log" in v for v in gate.parity_violations(st, sim))

    st = state_of(sim)
    st["seen"].pop(next(iter(st["seen"])))
    assert any("seen" in v for v in gate.parity_violations(st, sim))

    st = state_of(sim)
    st["docs"]["cd:/npm/npmjs/-/extra/1.0.0"] = {"spans": [], "etag": None, "fetched_at": 3,
                                                "processed_at": 3, "version": 1, "release_date": None}
    assert any("documents" in v for v in gate.parity_violations(st, sim))


def clean_facts() -> tuple[dict, dict]:
    metrics = {"scheduled": 4, "processed": 2, "traversed": 0, "excluded": 0, "skipped": 1,
               "requeued": 1, "deadlettered": 0, "enqueued": 7, "robots_excluded": 1}
    facts = {
        "pop_indexes": [2, 0, 3, 1], "host_max": 2, "host_sum": 4, "metrics": metrics,
        "frontier_rows": 102, "frontier_unique_seq": 102, "seen_rows": 50, "seen_unique_keys": 50,
        "next_seq": 107,
    }
    return facts, {"frontier_rows": 100, "next_seq": 100}


@pytest.mark.parametrize("tamper", [
    lambda f: f.update(pop_indexes=[0, 1, 2, 2]),
    lambda f: f.update(pop_indexes=[1, 2, 3, 4]),
    lambda f: f.update(host_max=3),
    lambda f: f.update(host_sum=5),
    lambda f: f.update(seen_unique_keys=49),
    lambda f: f.update(frontier_unique_seq=101),
    lambda f: f.update(frontier_rows=103, frontier_unique_seq=103),
    lambda f: f.update(next_seq=106),
    lambda f: f["metrics"].update(skipped=2),
    lambda f: f.update(pop_indexes=list(range(5)), host_sum=5),
])
def test_invariant_gate_rejects_tampered_facts(tamper):
    facts, before = clean_facts()
    assert gate.invariant_violations(facts, before, host_budget=2, batch_budget=4) == []
    tamper(facts)
    assert gate.invariant_violations(facts, before, host_budget=2, batch_budget=4)


class _FakeContext:
    def __init__(self):
        self.props = {}

    def setLocalProperty(self, k, v):
        self.props[k] = v

    def getLocalProperty(self, k):
        return self.props.get(k)


class _FakeSpark:
    sparkContext = _FakeContext()


def test_tracer_restores_every_target():
    originals = {(o, a): o.__dict__[a] for o, a in trace.TARGETS}
    tracer = trace.Tracer(_FakeSpark())
    tracer.install()
    try:
        assert not trace.Tracer.restored()
        # outside a traced epoch a wrapper is a pass-through
        assert trace.skew_mod.dense_global_seq.__name__ == "wrapper"
    finally:
        tracer.restore()
    assert trace.Tracer.restored()
    assert all(o.__dict__[a] is fn for (o, a), fn in originals.items())


def test_benchmark_json_matches_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [(n, u) for n, u, _ in trace.PER_LAYER]
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_refuses_to_run_without_sources(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_fixture", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def run_tiny(workload: str, trace_on: int) -> tuple[dict, list[tuple[str, str]]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace_on), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    start = next(i for i, l in enumerate(lines) if l.startswith("end-to-end"))
    printed = []
    for line in lines[start + 1:]:
        if not line.startswith("  "):
            break
        name, _value, unit = line.split()
        printed.append((name, unit))
    return json.loads(lines[-1]), printed


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_both_modes(workload):
    plain, plain_printed = run_tiny(workload, 0)
    traced, traced_printed = run_tiny(workload, 1)
    for res in (plain, traced):
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert plain_printed == traced_printed == run.END_TO_END
    assert {k: v["unit"] for k, v in plain["metrics"].items()} == dict(run.END_TO_END)
    assert {k: v["unit"] for k, v in traced["metrics"].items()} == {n: u for n, u, _ in trace.PER_LAYER}
    work = os.path.join(ROOT, ".perfbench_work")
    assert not os.path.isdir(work) or not any(d.startswith(workload) for d in os.listdir(work))
