"""Pin the bench.py stdout/artifact contract the outside driver reads.

Tested WITHOUT a Spark session (every heavy dependency is stubbed):

* ``main()`` ends stdout with exactly one JSON object carrying the
  driver-contract keys (``metric``, ``value``, ``unit``, ``queries``,
  ``sf``, ``cold_pinned``);
* every other ``print`` in bench.py targets stderr (static scan), so no
  stray stdout line can land after the payload;
* the ``BENCH_LOCAL_r{N}.json`` artifact is written ONLY under
  ``--commit``, and then holds exactly the printed payload.
"""

from __future__ import annotations

import ast
import json
import os
import sys
import types

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

PAYLOAD_KEYS = {"metric", "value", "unit", "queries", "sf", "cold_pinned"}


class _FakeDF:
    def count(self):
        return 1


class _FakeSC:
    def setLogLevel(self, lvl):
        pass


class _FakeSpark:
    sparkContext = _FakeSC()

    def stop(self):
        pass


def _stub_bench(monkeypatch, tmp_path, names):
    """Point bench at a fake 2-query catalog, a no-op session and a tmp
    artifact path; returns the artifact path."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark import (  # noqa: E501
        plans as plans_mod,
        session as session_mod,
    )

    catalog = {
        n: types.SimpleNamespace(fn=lambda spark, sf: _FakeDF(), twin_of=None)
        for n in names
    }
    monkeypatch.setattr(plans_mod, "CATALOG", catalog)
    monkeypatch.setattr(session_mod, "get_session", lambda **kw: _FakeSpark())
    monkeypatch.setattr(bench, "_prime_session", lambda *a: None)
    monkeypatch.setattr(bench, "BENCH_QUERIES", list(names))
    art = tmp_path / "BENCH_LOCAL_r99.json"
    monkeypatch.setattr(bench, "_artifact_path", lambda: str(art))
    return art


def _last_stdout_payload(capsys):
    out = capsys.readouterr().out
    lines = [ln for ln in out.splitlines() if ln.strip()]
    assert lines, "no stdout at all"
    payload = json.loads(lines[-1])  # last line parses
    assert len(lines) == 1, f"extra stdout lines before payload: {lines[:-1]}"
    return payload


def test_main_stdout_is_one_full_payload(monkeypatch, tmp_path, capsys):
    art = _stub_bench(monkeypatch, tmp_path, ["qa", "qb"])
    bench.main(commit=False)
    payload = _last_stdout_payload(capsys)
    assert PAYLOAD_KEYS <= set(payload), payload.keys()
    assert set(payload["queries"]) == {"qa", "qb"}
    assert not art.exists(), "artifact written without --commit"


def test_main_commit_writes_printed_payload(monkeypatch, tmp_path, capsys):
    art = _stub_bench(monkeypatch, tmp_path, ["qa", "qb"])
    bench.main(commit=True)
    payload = _last_stdout_payload(capsys)
    assert set(payload) == PAYLOAD_KEYS, payload.keys()
    assert art.exists(), "artifact missing despite --commit"
    assert json.loads(art.read_text()) == payload


def test_every_other_print_targets_stderr():
    """Static scan: any print() that is not the payload print must pass
    file=sys.stderr, so nothing can trail the payload on stdout."""
    src = open(os.path.join(REPO, "bench.py")).read()
    tree = ast.parse(src)
    payload_prints = 0
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "print"
        ):
            continue
        to_stderr = any(
            kw.arg == "file"
            and isinstance(kw.value, ast.Attribute)
            and kw.value.attr == "stderr"
            for kw in node.keywords
        )
        if to_stderr:
            continue
        # the only stdout prints allowed are `print(json.dumps(payload))`
        arg = node.args[0] if node.args else None
        assert (
            isinstance(arg, ast.Call)
            and isinstance(arg.func, ast.Attribute)
            and arg.func.attr == "dumps"
        ), f"stdout print at line {node.lineno} is not the payload print"
        payload_prints += 1
    assert payload_prints == 1, payload_prints  # the one in main
