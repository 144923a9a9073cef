"""Registry integrity: the driver contract's queries() / oracle_sql()
must stay in lockstep (two hand-kept window rotations once silently
dropped entries — this pins the invariants), both are derived from the
family modules under vanus_spark/queries/, and the oracle-check order
must follow from the committed CORRECTNESS_rNN.json records."""

from __future__ import annotations

import hashlib
import json
import types
from pathlib import Path

import pytest

from vanus_spark.queries import builders, family_modules, twins

# Every registered query is oracle-gated (r5 policy) EXCEPT entries
# whose values are engine-specific sketches: approx_count_distinct is
# HLL++ in Spark and a different sketch in DuckDB, so no SQL twin can
# hash-match. The exact sibling stays the oracle gate; tests bound the
# estimate against the exact count.
ROWS_ONLY: set[str] = {"corpus_ngram_diversity_approx"}

REPO = Path(__file__).resolve().parent.parent


def test_every_query_has_an_oracle_and_vice_versa(entry_mod):
    m = entry_mod
    qs, osql = set(m.queries()), set(m.oracle_sql())
    assert qs - osql == ROWS_ONLY, (
        f"queries without oracle beyond the documented rows-only set: "
        f"{sorted(qs - osql - ROWS_ONLY)}"
    )
    assert not (osql - qs), (
        f"oracles whose query was dropped (bad window rotation?): "
        f"{sorted(osql - qs)}"
    )


def test_dynamic_filter_query_plan_binds_one_parse(spark, sf_dir, entry_mod):
    """The registered filter_cel_data_dynamic query must compile to
    exactly ONE from_json (the sample-inferred single-parse shape) and
    zero get_json_object — the plan contract the round-4 verdict asked
    for (What's missing #3)."""
    m = entry_mod
    df = m.queries()["filter_cel_data_dynamic"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one parse: no plan LINE contains two from_json calls (the same
    # single expression is echoed once more in the scan's DataFilters)
    per_line = [ln.count("from_json") for ln in plan.split("\n")]
    assert max(per_line) == 1 and sum(per_line) >= 1
    assert "get_json_object" not in plan
    assert df.count() > 0


# The window correctness record r11 checked, kept by hand before the order was
# computed: records r01-r10 must reproduce it exactly.
R11_WINDOW = [
    "embedding_matryoshka_recall", "dedup_threshold_curve", "dedup_cluster_agreement",
    "quality_rater_kappa", "docs_score_agreement", "orders_ordinal_assoc",
    "events_jarque_bera", "quality_fleiss_kappa", "table_fd_violations",
    "embedding_cka", "events_kpss", "events_periodogram",
    "events_granger", "users_cox_score", "docs_log_odds_terms",
    "events_msprt", "events_anderson_darling", "docs_entropy_rate",
    "sample_horvitz_thompson", "docs_burrows_delta", "graph_rich_club",
    "privacy_dp_budget", "events_mi_profile", "events_hill_tail",
    "lineitem_cpk", "docs_kneser_ney", "orders_panel_fe",
    "events_simpson_audit", "events_trend_hac", "embedding_intrinsic_dim",
    "quality_krippendorff", "events_stl_strength", "events_tail_dependence",
    "events_spectral_entropy", "events_bayes_shrinkage", "events_haar_wavelet",
    "users_competing_risks", "quality_gopher_ablation", "events_var_cvar",
    "embedding_mmd", "orders_lmdi_decomposition", "users_retention_decay_fit",
    "events_rayleigh_circadian", "events_permutation_entropy", "events_negbin_fit",
    "embedding_isotropy", "action_convert_timezone", "template_json",
    "debezium_mongo_sink", "dlq_replay",
]

# sha256 of the sorted registry names and of the oracle_sql() dict
# (sorted-key JSON) when the rotation became computed: reordering the
# registry must not add, drop or rewrite a query or its oracle.
REGISTRY_NAMES_SHA = "5cd5ed49a633922d97ac5fa901d893abd59f4acbb625d752acacf7c66a2bbbec"
ORACLE_SQL_SHA = "7b70f9172373a1464fec621c3a24e92986c5029fe84cc6f95541d46118b8317f"


def _order_through(m, last_round: int, names: list[str] | None = None) -> list[str]:
    records = [r for r in m._correctness_records() if r[0] <= last_round]
    return m._oracle_check_order(list(builders()) if names is None else names, records)


def _r12_window(m) -> list[str]:
    """Rows last oracle-checked in r03, then those last checked in r04,
    each in its record's order, computed straight from the files."""
    last = {}
    for rnd, names in sorted(m._correctness_records()):
        for n in names:
            last[n] = rnd
    registered = set(builders())

    def cohort(rnd):
        with open(REPO / f"CORRECTNESS_r{rnd:02d}.json") as f:
            return [n for n in json.load(f) if last[n] == rnd and n in registered]

    r03, r04 = cohort(3), cohort(4)
    assert len(r03) == 36
    return r03 + r04[: 50 - len(r03)]


def test_check_order_rule(entry_mod):
    m = entry_mod
    names = ["a", "b", "c", "d", "e"]
    assert m._oracle_check_order(names, []) == names
    records = [
        (10, ["b", "gone"]),
        (9, ["d", "c", "b"]),
        (2, ["e"]),
    ]
    # a: never checked; e: r2; d, c: r9 in file order; b: r10 (its
    # r9 row is superseded); "gone" is no longer registered
    assert m._oracle_check_order(names, records) == ["a", "e", "d", "c", "b"]


def test_records_through_r10_give_the_r11_window(entry_mod):
    # No record through r10 lists the first 46 names of the r11 window,
    # so the rule leaves them in their given order: the order of the
    # hand-kept registry r11 ran from, which R11_WINDOW pins. They are
    # passed first in that order; the rule must keep them first and
    # fill the last four rows from the records.
    never = R11_WINDOW[:46]
    names = never + [n for n in builders() if n not in never]
    assert _order_through(entry_mod, 10, names)[:50] == R11_WINDOW


def test_records_through_r11_give_the_r12_window(entry_mod):
    m = entry_mod
    window = _order_through(m, 11)[:50]
    assert len(set(window)) == 50
    assert window == _r12_window(m)


def test_driver_window_is_exactly_50(entry_mod):
    m = entry_mod
    window = list(m.queries())[:50]
    assert len(set(window)) == 50, "duplicate keys in the window"
    newest = max(rnd for rnd, _ in m._correctness_records())
    assert list(m.queries()) == _order_through(m, newest)
    # each committed record moves the window on; until r12's lands it
    # is the r12 window above
    if newest == 11:
        assert window == _r12_window(m)


def test_reordering_keeps_names_and_oracles(entry_mod):
    m = entry_mod
    names = sorted(m.queries())
    assert len(names) == 434
    assert hashlib.sha256(json.dumps(names).encode()).hexdigest() == REGISTRY_NAMES_SHA
    osql = json.dumps(m.oracle_sql(), sort_keys=True).encode()
    assert hashlib.sha256(osql).hexdigest() == ORACLE_SQL_SHA


def _stub_family(name: str, queries: dict[str, str]) -> types.ModuleType:
    mod = types.ModuleType(name)
    for q in queries:
        setattr(mod, f"q_{q}", lambda spark, sf_dir: None)
    mod.oracle_sql = lambda: dict(queries)
    return mod


def test_a_name_two_families_define_raises():
    """The registry is derived from the family modules, so a name two
    families both define must stop the build, not let one builder or
    twin silently replace the other."""
    a = _stub_family("fam_a", {"shared": "SELECT 1", "only_a": "SELECT 2"})
    b = _stub_family("fam_b", {"shared": "SELECT 3"})
    with pytest.raises(ValueError, match="'shared'.*fam_a.*fam_b"):
        builders([a, b])
    with pytest.raises(ValueError, match="'shared'.*fam_a.*fam_b"):
        twins([a, b])
    c = _stub_family("fam_c", {"only_c": "SELECT 4"})
    assert list(builders([a, c])) == ["shared", "only_a", "only_c"]
    assert twins([a, c]) == {"shared": "SELECT 1", "only_a": "SELECT 2", "only_c": "SELECT 4"}


def test_every_builder_and_its_oracle_share_a_family(entry_mod):
    """Each query's Spark builder and its DuckDB twin are defined in the
    same family module, and the family modules make up the registry."""
    seen_q, seen_o = set(), set()
    for mod in family_modules():
        qs = {k[2:]: v for k, v in vars(mod).items() if k.startswith("q_") and callable(v)}
        assert all(f.__module__ == mod.__name__ for f in qs.values()), mod.__name__
        oracles = set(mod.oracle_sql())
        assert oracles <= set(qs), (mod.__name__, sorted(oracles - set(qs)))
        seen_q |= set(qs)
        seen_o |= oracles
    assert seen_q == set(entry_mod.queries())
    assert seen_o == set(entry_mod.oracle_sql())
