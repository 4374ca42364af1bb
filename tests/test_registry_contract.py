"""Catalog-level contract the driver depends on.

The driver sweeps ``queries()`` in dict order and records rows for only
the first 50 entries each round, so ordering and oracle coverage are
load-bearing, not cosmetic. The order is derived from the committed
``CORRECTNESS_r*.json`` files by ``registry.verification_order``; the
synthetic-round tests pin its rules, the repo-state tests pin what it
makes of the rounds committed here.
"""

import pytest

from finance_data_ingestion_pipeline_with_kafka_spark.registry import (
    _MODIFIED_SINCE,
    _committed_rounds,
    load_all,
    query,
    read_rounds,
    verification_order,
)

WINDOW = 50
GREEN = {"hash_match": True}
RED = {"hash_match": False}
NAMES = ["a", "b", "c", "d", "e", "f"]
NONE_MODIFIED = (0, frozenset())


def test_brand_new_queries_sort_into_the_window():
    """A query with no row in any round (e), one never green (c) and one
    whose latest row is red (b) lead, ahead of even a modified name."""
    rounds = {
        1: {"a": GREEN, "b": GREEN, "c": RED, "d": GREEN, "f": GREEN},
        2: {"b": RED, "d": GREEN},
    }
    order = verification_order(NAMES, rounds, (2, frozenset({"f"})))
    assert order == ["b", "c", "e", "f", "a", "d"]


def test_modified_name_ranks_next_until_a_later_green_row():
    rounds = {1: {n: GREEN for n in NAMES}, 2: {"a": GREEN, "f": GREEN}}
    modified = (2, frozenset({"f", "c"}))
    order = verification_order(NAMES, rounds, modified)
    assert order[:2] == ["c", "f"]
    # a green row after the stamp drops f back to its freshness place
    rounds[3] = {"f": GREEN}
    order = verification_order(NAMES, rounds, modified)
    assert order[0] == "c"
    assert order[-1] == "f"


def test_rest_by_ascending_last_green_round_then_registration():
    rounds = {
        1: {n: GREEN for n in NAMES},
        2: {"a": GREEN, "c": GREEN},
        3: {"b": GREEN},
    }
    order = verification_order(NAMES, rounds, NONE_MODIFIED)
    assert order == ["d", "e", "f", "a", "c", "b"]


def test_no_rounds_means_registration_order():
    assert verification_order(NAMES, {}, (5, frozenset({"e"}))) == NAMES


def test_rounds_sort_as_integers(tmp_path):
    (tmp_path / "CORRECTNESS_r9.json").write_text('{"a": {"hash_match": true}}')
    (tmp_path / "CORRECTNESS_r10.json").write_text('{"b": {"hash_match": true}}')
    rounds = read_rounds(tmp_path)
    assert sorted(rounds) == [9, 10]
    # b, last green in r10, is fresher than a, last green in r9
    assert verification_order(["b", "a"], rounds, NONE_MODIFIED) == ["a", "b"]


def test_unreadable_round_file_raises(tmp_path):
    (tmp_path / "CORRECTNESS_r3.json").write_text("{truncated")
    with pytest.raises(ValueError, match="CORRECTNESS_r3.json"):
        read_rounds(tmp_path)


def test_modified_names_are_registered():
    assert _MODIFIED_SINCE[1] <= set(load_all())


def _last_green() -> dict[str, int]:
    last = {}
    for rnd, rows in sorted(_committed_rounds().items()):
        last.update({n: rnd for n, row in rows.items() if row.get("hash_match")})
    return last


def test_stalest_evidence_leads_the_window():
    """The first 50 entries hold every modified name and every query last
    green in the oldest round still on record."""
    window = list(load_all())[:WINDOW]
    last = _last_green()
    oldest = min(last.values())
    stalest = {n for n, r in last.items() if r == oldest}
    assert _MODIFIED_SINCE[1] <= set(window)
    assert stalest <= set(window), sorted(stalest - set(window))


def test_window_spends_no_slot_on_fresh_unmodified_evidence():
    modified = _MODIFIED_SINCE[1]
    last = _last_green()
    newest = max(last.values())
    wasted = [
        n for n in list(load_all())[:WINDOW]
        if last.get(n) == newest and n not in modified
    ]
    assert wasted == []


def test_order_is_stable_and_complete():
    first, second = list(load_all()), list(load_all())
    assert first == second
    assert len(first) == len(set(first)) == 287


def test_every_query_has_an_oracle():
    cat = load_all()
    missing = [n for n, s in cat.items() if s.oracle is None]
    assert missing == [], f"rows-only queries reappeared: {missing}"


def test_bench_specs_are_oracle_checked():
    cat = load_all()
    assert all(s.oracle is not None for s in cat.values() if s.bench)


def test_duplicate_registration_rejected():
    load_all()
    with pytest.raises(ValueError, match="duplicate query name"):
        query("pricing_summary")(lambda spark, sf_dir: None)


def test_no_case_insensitive_name_collisions():
    """Names must stay distinct even case-folded — the driver's artifacts
    (JSON keys, filenames) may land on case-insensitive filesystems."""
    cat = load_all()
    lowered = [n.lower() for n in cat]
    assert len(lowered) == len(set(lowered))


def test_catalog_md_is_generated_from_the_registry():
    """CATALOG.md is exactly what ``tools/gen_catalog.py`` renders, so a
    query added, renamed or re-documented without regenerating it fails
    here; rows name ``file::function``, so edits elsewhere in a module do
    not move them."""
    from pathlib import Path

    from tools import gen_catalog

    assert Path(gen_catalog.PATH).read_text() == gen_catalog.render()


def test_gen_catalog_rejects_arguments(monkeypatch):
    """``gen_catalog.py --help`` exits non-zero instead of rewriting
    CATALOG.md."""
    from tools import gen_catalog

    monkeypatch.setattr(gen_catalog, "render", lambda: pytest.fail("rendered"))
    with pytest.raises(SystemExit) as exc:
        gen_catalog.main(["--help"])
    assert exc.value.code not in (0, None)
