"""``__spark_entry__`` invariants (no Spark session needed): the derived
priority ordering covers the whole registry, puts every
never-driver-green query inside the driver's ~50-row check budget, and
every query has an oracle twin."""

from __future__ import annotations

import __spark_entry__ as entrymod

CHECK_BUDGET = 50  # queries the driver checks per round (observed r01-r04)


def test_priority_names_all_resolve():
    qs = entrymod.queries()
    missing = [n for n in entrymod._DRIVER_PRIORITY if n not in qs]
    assert missing == [], f"priority list names unknown queries: {missing}"


def test_priority_covers_registry_and_orders_it():
    """The derived window is a total order over the registry — the
    first CHECK_BUDGET entries are what the driver will actually check."""
    qs = list(entrymod.queries())
    assert entrymod._DRIVER_PRIORITY == qs, "window must be a total order"
    assert len(qs) == len(set(qs))


def test_never_green_queries_inside_budget():
    """The derived window must keep every query lacking a fully-green
    correctness row inside the checked window — the r4 failure mode was 20
    queries stranded past position 50."""
    green = entrymod.history()
    stranded = [
        n
        for i, n in enumerate(entrymod._DRIVER_PRIORITY)
        if i >= CHECK_BUDGET and green.get(n, 0) == 0
    ]
    assert stranded == [], f"never-green queries past the budget: {stranded}"


def test_every_query_has_an_oracle():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    orphans = [n for n in oracles if n not in qs]
    assert orphans == []
    # round 5 closed the last gap: approx_aggregates became
    # self-checking with an exact-column oracle — nothing may regress
    # to rows-only silently.
    no_oracle = sorted(n for n in qs if n not in oracles)
    assert no_oracle == []


def test_bench_headline_names_resolve():
    """Every bench headline name must exist in the registry (or be the
    bench-only incremental wrapper) — a renamed query should fail here,
    not as a silent per-query error line in the landed artifact."""
    import bench

    qs = set(entrymod.queries())
    unknown = [
        n for n in bench.HEADLINE if n not in qs and n != "incremental_dedup_refresh"
    ]
    assert unknown == [], f"headline names not in registry: {unknown}"


def test_fitted_line_always_parses_within_budget():
    """The stdout line must fit the driver tail no matter how many
    optional fields the payload carries — and per-query timings are
    never dropped, only diagnostics are."""
    import json

    import bench

    queries = {f"query_name_number_{i:03d}": 0.123 for i in range(60)}
    out = {
        "metric": "headline_queries_wall_clock",
        "value": 12.3,
        "unit": "sec",
        "queries": queries,
        "cold_total": 99.9,
        "sf": 0.1,
        "cpus": 4,
        "methodology": {"recycle_every": 15, "warm_runs": 2, "report": "x" * 100},
        "errors": {"some_query": "E" * 300},
    }
    line = bench.fitted_line(out)
    assert len(line) <= bench.TAIL_BUDGET
    parsed = json.loads(line)
    assert parsed["queries"].keys() == queries.keys()
    assert parsed["value"] == 12.3 and parsed["cpus"] == 4
    # a failed query's name survives; only its message is dropped
    assert parsed["errors"] == ["some_query"]
    # a small payload keeps everything
    small = dict(out, queries={"q01": 1.0})
    parsed_small = json.loads(bench.fitted_line(small))
    assert parsed_small == small


def test_bench_compare_reports_common_set(tmp_path, capsys, monkeypatch):
    """The plain two-artifact comparison reads bench.py's own line and
    the driver's ``parsed`` wrapper, totals the common query set, lists
    regressions past the threshold, and warns when the two artifacts
    were measured under different methodology."""
    import json

    from tools import bench_compare

    old = {
        "queries": {"qa": 1.0, "qb": 2.0, "qgone": 5.0},
        "methodology": {"warm_runs": 2},
    }
    new = {
        "queries": {"qa": 1.5, "qb": 2.0, "qnew": 9.0},
        "methodology": {"warm_runs": 3},
    }
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(old))
    b.write_text(json.dumps({"parsed": new, "tail": "ignored"}))
    monkeypatch.setattr("sys.argv", ["bench_compare", str(a), str(b), "10"])
    bench_compare.main()
    report = capsys.readouterr().out
    assert report.startswith("WARNING: methodology differs")
    assert "common queries: 2" in report
    assert "3.00s" in report and "3.50s" in report and "delta +16.7%" in report
    regressions = report.split("regressions >10%")[1].strip().splitlines()
    assert [r.split()[0] for r in regressions[1:]] == ["qa"]
    assert "+50%" in regressions[1]


def test_stale_cohort_fits_check_budget():
    """Window budget guard (r6 verdict #6): rotation only converges if
    every query stale by >=2 rounds fits in the driver's 50-slot
    window. If the registry grows past what a 3-round rotation covers,
    this fails before stale rows silently rot past the budget."""
    import glob
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest = max(
        int(re.search(r"_r(\d+)\.json$", p).group(1))
        for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
    )
    green = entrymod.history()
    cohort = [
        n for n in entrymod._DRIVER_PRIORITY if green.get(n, 0) <= latest - 2
    ]
    assert len(cohort) <= CHECK_BUDGET, (
        f"{len(cohort)} queries are >=2 rounds stale but only "
        f"{CHECK_BUDGET} window slots exist — registry outgrew the "
        "rotation; shrink the registry or argue for a bigger window"
    )
    stranded = [
        n for n in cohort if entrymod._DRIVER_PRIORITY.index(n) >= CHECK_BUDGET
    ]
    assert stranded == [], f"stale queries past the window: {stranded}"
