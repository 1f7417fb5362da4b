"""The bench-regression gate (tools/check_bench_regressions.py): its
committed references, which ledger it reads by default, and how it
min-merges several ledgers. No Spark session."""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
R12 = "history/BENCH_solo_r12.json"


@pytest.fixture(scope="module")
def gate():
    spec = importlib.util.spec_from_file_location(
        "check_bench_regressions",
        os.path.join(REPO, "tools", "check_bench_regressions.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def run_gate(gate, monkeypatch, capsys):
    monkeypatch.chdir(REPO)

    def run(*args: str) -> tuple[int, str]:
        monkeypatch.setattr(sys, "argv", ["gate", *args])
        code = gate.main()
        return code, capsys.readouterr().out

    return run


def _r12() -> dict:
    with open(os.path.join(REPO, R12)) as fh:
        return json.load(fh)


def test_references_file_holds_every_committed_entry(gate):
    with open(gate.REFERENCES) as fh:
        refs = json.load(fh)
    assert len(refs["references"]) == 263
    assert sorted(refs["canaries"]) == [
        "q_bench_canary_floor",
        "q_bench_canary_scan",
    ]


def test_default_ledger_is_highest_round(run_gate):
    rounds = {
        int(os.path.basename(p)[len("BENCH_solo_r"):-len(".json")]): p
        for p in glob.glob(os.path.join(REPO, "history", "BENCH_solo_r*.json"))
    }
    newest = os.path.relpath(rounds[max(rounds)], REPO)
    _, out = run_gate()
    assert f"against {newest};" in out


def test_committed_ledger_passes_and_doubled_entry_regresses(
    run_gate, tmp_path
):
    code, out = run_gate(f"--bench={R12}")
    assert code == 0
    assert "checked 263/263 committed entries" in out
    assert "0 regression(s)" in out

    doc = _r12()
    doc["queries"]["q_agg_group"] *= 2
    slow = tmp_path / "slow.json"
    slow.write_text(json.dumps(doc))
    code, out = run_gate(f"--bench={slow}")
    assert code == 1
    regressed = [ln for ln in out.splitlines() if ln.startswith("REGRESSED")]
    assert len(regressed) == 1
    assert regressed[0].startswith("REGRESSED q_agg_group:")


def test_repeated_bench_takes_per_query_minimum(run_gate, tmp_path):
    # one full bench.py-shaped ledger and one flat chunk partial, each
    # with a different entry doubled: alone each regresses, merged the
    # per-query minimum is the committed ledger again
    full = _r12()
    full["queries"]["q_agg_group"] *= 2
    flat = {}
    for key in ("queries", "extended_queries", "canaries"):
        flat.update(_r12()[key])
    flat["q_text_bm25"] *= 2
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(full))
    b.write_text(json.dumps(flat))

    code, out = run_gate(f"--bench={b}")
    assert code == 1 and "REGRESSED q_text_bm25:" in out
    code, out = run_gate(f"--bench={a}", f"--bench={b}")
    assert code == 0
    assert "REGRESSED" not in out
    assert "checked 263/263 committed entries" in out
    assert "canaries vs committed:" in out
