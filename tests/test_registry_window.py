"""Window hygiene: each graded round checks the FIRST 50 registry keys
(every CORRECTNESS_r*.json is exactly the first 50 keys in registry
order).  `build_registry()` puts `_R13_WINDOW` (the active window)
first and `_R14_WINDOW` (the staged next window) second; these tests
keep both lists honest against the committed CORRECTNESS files.
ROUNDS.md has the history of earlier windows.
"""

from __future__ import annotations

import glob
import json
import os

from i2mapreduce_spark.queries import _R13_WINDOW, _R14_WINDOW, build_registry

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _graded_rows_with_round() -> dict:
    """key -> (latest round graded, latest row)."""
    rows: dict = {}
    for f in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(f).split("_r")[1].split(".")[0])
        for k, row in json.load(open(f)).items():
            rows[k] = (rnd, row)
    return rows


def _is_green(row: dict) -> bool:
    return (
        row.get("err") is None
        and row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
    )


def test_window_is_first_50_registry_keys():
    queries, _ = build_registry()
    assert list(queries)[:50] == _R13_WINDOW


def test_r13_rotation_staged_right_after_r12():
    # the next rotation is a one-name swap: the staged window already
    # holds registry positions 50..100
    queries, _ = build_registry()
    assert list(queries)[50:100] == _R14_WINDOW
    assert len(set(_R13_WINDOW)) == len(_R13_WINDOW) == 50
    assert len(set(_R14_WINDOW)) == len(_R14_WINDOW) == 50
    assert not set(_R13_WINDOW) & set(_R14_WINDOW)


def test_window_keys_all_have_hash_oracles():
    # rows-only keys can never hash-pass; one in the window burns a
    # grading slot on a guaranteed `err: no_oracle`
    _, oracles = build_registry()
    assert [k for k in _R13_WINDOW + _R14_WINDOW if k not in oracles] == []


def test_windows_cover_the_never_graded_backlog_exactly():
    # a new hash-oracled key outside the active window must sit at the
    # head of the staged window so it waits at most one round for a
    # CORRECTNESS row
    queries, oracles = build_registry()
    rows = _graded_rows_with_round()
    never_graded = [
        k for k in queries
        if k in oracles and k not in rows and k not in _R13_WINDOW
    ]
    assert sorted(never_graded) == sorted(_R14_WINDOW[:len(never_graded)]), (
        "new never-graded hash keys must head the staged window"
    )


def test_staged_regrades_are_the_oldest_graded_cohort():
    # Rolling freshness: the graded keys of the staged window must be the
    # ones whose latest CORRECTNESS row is oldest.  No graded key outside both
    # windows may be older than the staged cohort's newest round (ties
    # at the boundary round cut alphabetically).  Computed over the
    # STAGED cohort, not the active window, so the test survives the
    # active window's next CORRECTNESS file landing.
    queries, oracles = build_registry()
    graded_rounds = {k: rnd for k, (rnd, _) in _graded_rows_with_round().items()}
    staged_graded = [k for k in _R14_WINDOW if k in graded_rounds]
    assert len(_R14_WINDOW) - len(staged_graded) <= 1  # only a new key
    window_max = max(graded_rounds[k] for k in staged_graded)
    windows = set(_R13_WINDOW) | set(_R14_WINDOW)
    stale_outside = [
        k
        for k in queries
        if k in oracles
        and k in graded_rounds
        and k not in windows
        and graded_rounds[k] < window_max
    ]
    assert stale_outside == [], (
        "keys older than the staged re-grade cohort were left out: "
        f"{stale_outside}"
    )


def test_rows_only_keys_document_their_no_oracle_rationale():
    # every key without a hash oracle must say WHY a portable oracle is
    # impossible (float artifact, approx sketch, partition-dependent,
    # greedy/adaptive chain) right in its docstring
    import inspect

    queries, oracles = build_registry()
    markers = (
        "rows-only", "not sql", "no portable", "sql can't",
        "not sql-expressible", "approx", "partition-dependent", "sketch",
    )
    undocumented = []
    for k in queries:
        if k in oracles:
            continue
        doc = (inspect.getdoc(queries[k]) or "").lower()
        if not any(m in doc for m in markers):
            undocumented.append(k)
    assert undocumented == []


def test_window_keys_are_ungraded_or_green():
    # Every hash-oracled key (the window keys among them) has a green
    # latest CORRECTNESS row, or is new, has never been graded, and waits
    # in one of the windows.
    _, oracles = build_registry()
    rows = _graded_rows_with_round()
    windows = set(_R13_WINDOW) | set(_R14_WINDOW)
    red = [k for k in oracles if k in rows and not _is_green(rows[k][1])]
    assert red == [], f"non-green latest CORRECTNESS rows: {red}"
    unscheduled = [k for k in oracles if k not in rows and k not in windows]
    assert unscheduled == [], f"never-graded keys outside the windows: {unscheduled}"


def test_backlog_accounting_matches_cost_table():
    # Every key of tools/r8_window_costs.json (tools/canary_sf1.sh takes
    # its first 20) is hash-oracled, and green where it has been graded.
    _, oracles = build_registry()
    rows = _graded_rows_with_round()
    costs = json.load(open(os.path.join(_REPO, "tools", "r8_window_costs.json")))
    assert [k for k in costs if k not in oracles] == []
    red = [k for k in costs if k in rows and not _is_green(rows[k][1])]
    assert red == [], f"cost-table keys with non-green CORRECTNESS rows: {red}"
