"""tools/bench_triage.py — driver-record outlier adjudication
(round-9 verdict #5). The logic under test: a UNIFORM ratio between
two records (the co-tenant signature both the r8 and r9 driver
records showed) must produce ZERO flags no matter how large, while a
single query that moved against its neighbors is flagged."""

import importlib.util
import os

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _triage():
    spec = importlib.util.spec_from_file_location(
        "bench_triage_under_test", os.path.join(TOOLS, "bench_triage.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_uniform_inflation_not_flagged():
    m = _triage()
    committed = {f"q{i}": 1.0 + i / 10 for i in range(20)}
    driver = {k: v * 2.5 for k, v in committed.items()}  # uniform 2.5x
    out = m.triage(driver, committed)
    assert out["flags"] == []
    assert abs(out["median_ratio"] - 2.5) < 1e-9
    assert "NON-uniform" in out["uniform_shift_note"]


def test_single_outlier_flagged_against_uniform_neighbors():
    m = _triage()
    committed = {f"q{i}": 1.0 for i in range(20)}
    driver = {k: 1.1 for k in committed}  # the 1.1x co-tenant shift
    driver["q7"] = 3.3  # one query 3x beyond the shift
    out = m.triage(driver, committed)
    assert [f["query"] for f in out["flags"]] == ["q7"]
    f = out["flags"][0]
    assert f["ratio"] == 3.3
    assert abs(f["vs_uniform_shift"] - 3.0) < 0.01
    assert "uniform co-tenant signature" == out["uniform_shift_note"]


def test_speedup_outlier_also_flagged():
    """A query 3x FASTER on one record is just as suspicious (wrong
    fixture, accidental cache) — the gate is direction-agnostic."""
    m = _triage()
    committed = {f"q{i}": 2.0 for i in range(10)}
    driver = dict(committed)
    driver["q3"] = 0.4
    out = m.triage(driver, committed)
    assert [f["query"] for f in out["flags"]] == ["q3"]


def test_r9_record_reproduction():
    """The real r9 adjudication: the driver-deposited BENCH_FULL.json
    (ref 362f6b8, the round-9 driver commit) vs the builder's r9
    committed take (ref c65548e) flagged exactly
    corpus_ngram_diversity_approx. Both sides pinned from history —
    the working-tree record moves every round."""
    m = _triage()
    driver = m.load_record("BENCH_FULL.json", git_ref="362f6b8")
    committed = m.load_record("BENCH_FULL.json", git_ref="c65548e")
    out = m.triage(driver, committed)
    assert [f["query"] for f in out["flags"]] == [
        "corpus_ngram_diversity_approx"
    ]
