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


def test_tail_recovery_reads_truncated_r06_artifact():
    """BENCH_r06.json landed with parsed:null — the JSON line outgrew
    the driver's 2000-char tail. recover_timings_from_tail must pull
    every surviving timing out of the front-truncated fragment,
    including adjudicated entries at min(session, isolated), and both
    _best_known() and bench_compare must see them (r6 verdict #1)."""
    import json
    import os

    import bench

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "BENCH_r06.json")
    d = json.load(open(path))
    assert d["parsed"] is None  # the defect this guards against
    got = bench.recover_timings_from_tail(d["tail"], bench.HEADLINE)
    assert len(got) >= 40, f"recovered only {len(got)} timings"
    assert got["incremental_dedup_refresh"] == 2.48
    # adjudicated block: min(session=0.992, isolated=0.819)
    assert got["image_near_dup_docs"] == 0.819
    # wrapper keys must never leak in as queries
    assert "value" not in got and "sf" not in got and "session" not in got
    best = bench._best_known()
    assert best["incremental_dedup_refresh"] <= 2.48
    # every query with ANY landed history must be visible — only
    # brand-new headline entries (no artifact yet) may be absent
    landed = set(got) | {"q01_pricing_summary", "ann_cosine_topk",
                         "sessionize_events", "dedup_exact_docs"}
    missing = [q for q in landed if q not in best]
    assert missing == [], f"landed queries invisible to adjudication: {missing}"


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
        "methodology": {"recycle_every": 15, "warm_runs": 2, "report": "x" * 100},
        "adjudicated": {
            f"query_name_number_{i:03d}": {"session": 9.9, "isolated": 1.1}
            for i in range(16)
        },
        "errors": {"some_query": "E" * 300},
    }
    out["floor_runs"] = [12.1, 12.5]
    out["git_head"] = "a" * 40
    out["cpu_probe_sec"] = 0.41
    line = bench.fitted_line(out)
    assert len(line) <= bench.TAIL_BUDGET
    parsed = json.loads(line)
    assert parsed["queries"].keys() == queries.keys()
    assert parsed["value"] == 12.3
    # floor_runs must SURVIVE fitting (r7 verdict #7: it's how
    # bench_compare separates noise from drift); git_head is droppable,
    # cpu_probe_sec (r8 box-speed fingerprint) is dropped last.
    assert parsed["floor_runs"] == [12.1, 12.5]
    # a small payload keeps everything
    small = dict(out, queries={"q01": 1.0}, adjudicated={}, errors={})
    parsed_small = json.loads(bench.fitted_line(small))
    assert "methodology" in parsed_small and "cold_total" in parsed_small
    assert parsed_small["cpu_probe_sec"] == 0.41


def test_floor_runs_inherit_only_at_same_commit():
    """floor_runs accumulate across repeated full runs at one commit
    and reset on any commit / sf / headline-set / core-count change — a
    stale floor from different code or another machine would mask a
    real regression."""
    import bench

    prev = {
        "git_head": "c1", "sf": 0.1, "cpus": 4,
        "queries": {"q01": 1.0, "q02": 2.0},
        "value": 43.4, "floor_runs": [43.9],
    }
    same = {
        "git_head": "c1", "sf": 0.1, "cpus": 4,
        "queries": {"q01": 1.1, "q02": 2.2},
    }
    assert bench.inherit_floor_runs(prev, same) == [43.9, 43.4]
    # the 7-run cap drops the OLDEST, never the slowest — slow runs are
    # legitimate noise-band evidence (the box swings ~3x under load)
    many = dict(prev, floor_runs=[54.0, 44.0, 45.0, 43.5, 44.2, 43.8, 44.1])
    assert bench.inherit_floor_runs(many, same) == [
        44.0, 45.0, 43.5, 44.2, 43.8, 44.1, 43.4]
    assert bench.inherit_floor_runs(dict(prev, git_head="c2"), same) == []
    assert bench.inherit_floor_runs(dict(prev, sf=0.01), same) == []
    # a 32-core floor must never be reported as a 4-core result
    assert bench.inherit_floor_runs(dict(prev, cpus=32), same) == []
    # an artifact from before cpus was recorded never inherits either
    assert bench.inherit_floor_runs(
        {k: v for k, v in prev.items() if k != "cpus"}, same
    ) == []
    assert bench.inherit_floor_runs(
        dict(prev, queries={"q01": 1.0}), same
    ) == []
    # a missing git_head (no git on the box) never inherits
    assert bench.inherit_floor_runs(
        dict(prev, git_head=None), dict(same, git_head=None)
    ) == []
    # When the previous artifact carries BOTH run_total (raw) and value
    # (floor-of-runs headline, r8 verdict #2), the RAW run must enter
    # the floor chain — appending the headline would duplicate the
    # floor and erase the slow run from the noise band.
    floored = dict(prev, value=43.4, run_total=51.7)
    assert bench.inherit_floor_runs(floored, same) == [43.9, 51.7]


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


def test_same_box_ab_gate_and_block_shape(monkeypatch, tmp_path):
    """The A/B harness (r11 verdict item #2): no trip below the 1.2x
    gate; above it, the worst drifters run through BOTH trees and the
    measured ratio lands in the block — with the verdict keyed to the
    tree-vs-tree ratio, not the artifact delta (the whole point: the
    r11 53.5s-vs-45.85s argument was box drift the trees disproved)."""
    import json

    import bench

    prior = {
        "parsed": {
            "queries": {"qa": 1.0, "qb": 1.0, "qc": 1.0, "qd": 0.05},
            "value": 3.05,
        }
    }
    (tmp_path / "BENCH_r11.json").write_text(json.dumps(prior))

    # below the gate: no A/B, no worktree, no block
    assert bench.same_box_ab(str(tmp_path), {"qa": 1.1, "qb": 1.1, "qc": 1.1}, "sf") is None

    # above the gate: both trees run the drifted set
    calls = []

    def fake_run_tree(tree, queries, sf_dir):
        calls.append((tree, tuple(queries)))
        # prior tree reproduces the drifted timings -> box drift
        return {q: 2.0 for q in queries}

    monkeypatch.setattr(bench, "_run_tree_bench", fake_run_tree)
    monkeypatch.setattr(bench, "_prior_close_commit", lambda r, a: "a" * 40)

    import subprocess as sp

    real_run = sp.run

    def fake_git(cmd, **kw):
        if cmd[:1] == ["git"] or (len(cmd) > 2 and cmd[0] == "git"):
            class R:
                returncode, stdout, stderr = 0, "", ""
            return R()
        return real_run(cmd, **kw)

    monkeypatch.setattr(sp, "run", fake_git)
    cur = {"qa": 2.1, "qb": 2.0, "qc": 2.0, "qd": 0.06}
    block = bench.same_box_ab(str(tmp_path), cur, "sf")
    assert block is not None and "error" not in block
    assert block["prior_artifact"] == "BENCH_r11.json"
    # qd's 0.01s swing is below AB_MIN_DELTA_SEC — excluded
    assert set(block["queries"]) == {"qa", "qb", "qc"}
    # worst drifter first in both mini-runs
    assert calls[0][1][0] == "qa" and len(calls) == 2
    assert block["ratio"] == 1.017 or abs(block["ratio"] - 1.0) <= 0.05
    assert block["verdict"].startswith("box drift")
    # per-query detail is [prior_tree, current_tree]
    assert block["queries"]["qa"] == [2.0, 2.0]


def test_same_box_ab_engine_regression_verdict(monkeypatch, tmp_path):
    import json

    import bench

    prior = {"queries": {"qa": 1.0, "qb": 1.0}}
    (tmp_path / "BENCH_r09.json").write_text(json.dumps(prior))
    monkeypatch.setattr(bench, "_prior_close_commit", lambda r, a: "b" * 40)

    def fake_run_tree(tree, queries, sf_dir):
        # prior tree (the /tmp worktree) is fast; current tree is slow
        fast = tree.startswith("/tmp/spark_graft_ab_")
        return {q: (1.0 if fast else 2.0) for q in queries}

    monkeypatch.setattr(bench, "_run_tree_bench", fake_run_tree)
    import subprocess as sp

    monkeypatch.setattr(
        sp, "run",
        lambda cmd, **kw: type("R", (), {"returncode": 0, "stdout": "", "stderr": ""})(),
    )
    block = bench.same_box_ab(str(tmp_path), {"qa": 2.0, "qb": 2.0}, "sf")
    assert block["ratio"] == 2.0
    assert block["verdict"].startswith("engine change")


def test_fitted_line_keeps_same_box_ab_summary():
    """Over budget, the A/B block sheds its per-query detail first and
    its summary (ratio + verdict) survives past every diagnostic — the
    full detail always lives in BENCH.out.json."""
    import json

    import bench

    out = {
        "metric": "headline_queries_wall_clock",
        "value": 12.3,
        "unit": "sec",
        "queries": {f"query_name_number_{i:03d}": 0.123 for i in range(40)},
        "cold_total": 99.9,
        "sf": 0.1,
        "methodology": {"report": "x" * 200},
        "git_head": "a" * 120,
        "cpu_probe_sec": 0.41,
        "run_total": 12.5,
        "same_box_ab": {
            "gate": 1.2,
            "prior_artifact": "BENCH_r11.json",
            "prior_commit": "c" * 12,
            "drift_ratio_vs_artifact": 1.31,
            "queries": {f"query_name_number_{i:03d}": [2.0, 2.1] for i in range(8)},
            "prior_tree_sec": 16.0,
            "current_tree_sec": 16.2,
            "ratio": 1.013,
            "verdict": "box drift (trees equal on today's box)",
        },
    }
    line = bench.fitted_line(out)
    assert len(line) <= bench.TAIL_BUDGET
    parsed = json.loads(line)
    assert parsed["same_box_ab"]["ratio"] == 1.013
    assert "queries" not in parsed["same_box_ab"]
    # small payloads keep the full detail
    small = dict(out, queries={"q01": 1.0})
    parsed_small = json.loads(bench.fitted_line(small))
    assert "queries" in parsed_small["same_box_ab"]

def test_parse_bench_line_skips_banners():
    import bench

    stdout = 'ivy banner\n{"not": "bench"}\n{"queries": {"qa": 1.0}, "value": 1.0}\n'
    assert bench._parse_bench_line(stdout) == {"queries": {"qa": 1.0}, "value": 1.0}
    assert bench._parse_bench_line("no json here") is None


def test_same_box_ab_block_inherits_across_same_head_reruns():
    """A same-head rerun that does not trip the A/B gate must carry
    the prior run's adjudication block forward (marked), exactly like
    floor_runs — otherwise the evidence that a slow floor entry was
    box drift vanishes on the next calm run (observed at the r12
    close: run 2's live adjudication was dropped by run 3)."""
    import bench

    prev = {
        "git_head": "h1",
        "sf": 0.1,
        "queries": {"qa": 1.0},
        "run_total": 55.0,
        "same_box_ab": {"ratio": 0.9, "verdict": "box drift"},
    }
    out = {"git_head": "h1", "sf": 0.1, "queries": {"qa": 1.0}}
    floor = bench.inherit_floor_runs(prev, out)
    assert floor == [55.0]
    # mirror the main() inheritance rule
    if "same_box_ab" not in out and floor and isinstance(prev.get("same_box_ab"), dict):
        out["same_box_ab"] = dict(prev["same_box_ab"], carried_from_prior_run=True)
    assert out["same_box_ab"]["ratio"] == 0.9
    assert out["same_box_ab"]["carried_from_prior_run"] is True
    # different head: nothing inherits
    out2 = {"git_head": "h2", "sf": 0.1, "queries": {"qa": 1.0}}
    assert bench.inherit_floor_runs(prev, out2) == []
