"""Self-tests for the repository benchmark.

    python3 -m pytest perfbench/selftest -q

The end-to-end tests run the benchmark on a small input (1,500 complaints,
the size of the sf0.001 fixture) for one second each; every run starts its
own JVM, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, oracle, trace, workloads  # noqa: E402

SMALL_ROWS = 1500
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(*extra: str, cwd: str = ROOT) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "1", "--rows", str(SMALL_ROWS), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc.returncode, result, proc.stderr


def small_expectations(tmp_path, seed: int) -> workloads.ReportMix:
    data = str(tmp_path / f"data{seed}")
    datagen.write_tables(datagen.make_tables(seed, SMALL_ROWS), data)
    load = workloads.ReportMix(seed, data, trace.Tracer(enabled=False))
    con = oracle.connect(data, str(tmp_path))
    vars(load).update(workloads.ReportMix.expect(seed, con))
    con.close()
    return load


def test_seed_reproducible(tmp_path):
    a, b, c = (datagen.make_tables(s, SMALL_ROWS) for s in (7, 7, 8))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(c["orders"])

    first, again = small_expectations(tmp_path, 7), small_expectations(tmp_path, 7)
    assert first.requests == again.requests
    assert first.expected == again.expected
    assert first.cycle(1, 0) == again.cycle(1, 0)
    assert sorted(first.cycle(1, 0)) == sorted(first.cycle(0, 0)) == sorted(first.requests)


def test_gate_rejects_wrong_expected(tmp_path):
    load = small_expectations(tmp_path, 3)
    req = ("catalog", "complaints_class_distribution")
    good = load.expected[req]
    assert oracle.mismatch(good, json.loads(json.dumps(good))) is None
    wrong = json.loads(json.dumps(good))
    wrong["rows"][0][1] += 1  # one class count off by one
    assert oracle.mismatch(wrong, good) is not None
    assert oracle.mismatch({**good, "rows": good["rows"][1:]}, good) is not None


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("traced", [0, 1])
def test_workload_emits_every_metric(workload, traced):
    code, result, err = run_bench("--workload", workload, "--seed", "5", "--trace", str(traced))
    assert code == 0, err[-4000:]
    spec = SPEC["per_layer" if traced else "end_to_end"]
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(result["metrics"][m["name"]]["value"], (int, float))


def test_wrong_expected_fails_the_run(monkeypatch, capsys):
    """The whole command, in this process, with one expected result corrupted
    after the inputs are prepared: the run must report failure and exit 1."""
    from perfbench import run

    prepare = run.prepare_inputs

    def corrupted(args, work):
        state = prepare(args, work)
        req = state["requests"][0]
        state["expected"][req]["rows"] = state["expected"][req]["rows"][1:]
        return state

    monkeypatch.setattr(run, "prepare_inputs", corrupted)
    saved_env = dict(os.environ)
    try:
        code = run.main(["--workload", "report_mix", "--seed", "5", "--seconds", "1",
                         "--rows", str(SMALL_ROWS)])
    finally:
        os.environ.clear()
        os.environ.update(saved_env)
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code != 0
    assert result["correct"] is False and result["failed"] >= 1


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    code, result, _ = run_bench("--workload", "report_mix", "--seed", "1", cwd=str(tmp_path))
    assert code != 0 and result is None
