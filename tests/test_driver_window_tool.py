"""Unit tests for the query-window ordering in ``__spark_entry__`` —
the derived ordering IS the verification schedule, so its rules
(touched first, never-green next, stalest-green-first, stability) are
load-bearing."""

from __future__ import annotations

import json

import pytest

import __spark_entry__ as entrymod

REGISTRY = ["a", "b", "c", "d", "e"]


@pytest.fixture()
def fake_repo(tmp_path):
    files = {
        "CORRECTNESS_r01.json": {
            "a": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
            "b": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
            "c": {"rows_match": True, "schema_match": True, "hash_match": False, "err": None},
        },
        "CORRECTNESS_r02.json": {
            "b": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
            "d": {"rows_match": None, "schema_match": None, "hash_match": None, "err": "boom"},
        },
    }
    for name, rows in files.items():
        (tmp_path / name).write_text(json.dumps(rows))
    return str(tmp_path)


def test_history_green_rule(fake_repo):
    green = entrymod.history(fake_repo)
    # a: green in r1 only; b: green r1+r2 → r2; c: hash mismatch →
    # never; d: err → never; e: no row → absent
    assert green == {"a": 1, "b": 2}


def test_window_order_touched_then_never_green_then_stalest(fake_repo):
    rows = entrymod.build_window(REGISTRY, entrymod.history(fake_repo), front=["b"])
    assert [n for n, _ in rows] == ["b", "c", "d", "e", "a"]
    why = dict(rows)
    assert why["b"] == "touched this round"
    assert why["c"] == "never green"  # red row ≠ green
    assert why["e"] == "never green"  # never checked
    assert why["a"] == "last green r1"


def test_front_name_must_exist(fake_repo):
    with pytest.raises(ValueError):
        entrymod.build_window(REGISTRY, entrymod.history(fake_repo), front=["nope"])
