"""Tests of the benchmark's own parts. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

import gen
import pytest
from compare import compare
from spans import Span, Tracer, covered, parse_event_log, self_times
from stats import percentile, summary

TINY = gen.Sizes(empresas=300, estabelecimentos=200, socios=150, simples=100)


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*.zip"))}


def test_generator_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 5, TINY)
    gen.generate(str(tmp_path / "b"), 5, TINY)
    gen.generate(str(tmp_path / "c"), 6, TINY)
    same, other = _tree_bytes(tmp_path / "a"), _tree_bytes(tmp_path / "b")
    assert same == other
    assert len(same) == 2 * (sum(gen.FACT_PARTS.values()) + len(gen.DIMENSIONS))
    assert _tree_bytes(tmp_path / "c") != same
    # week 2 removes as many rows as it adds
    assert a[1]["empresas"].rows == a[0]["empresas"].rows == 300
    assert a[0]["estabelecimentos"].csv_bytes > 0 and len(a[0]["socios"].zips) == 2


class _StubContext:
    """The three SparkContext calls a span makes."""

    def __init__(self):
        self.props: dict[int, dict[str, str]] = {}

    def _mine(self):
        return self.props.setdefault(threading.get_ident(), {})

    def getLocalProperty(self, key):
        return self._mine().get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self._mine().pop(key, None)
        else:
            self._mine()[key] = value

    def setJobDescription(self, value):
        self.setLocalProperty("spark.job.description", value)


def test_covered_counts_overlap_once_and_clips_to_parent():
    assert covered(0, 10, [(1, 4), (3, 6)]) == 5
    assert covered(0, 10, [(-2, 1), (9, 12), (2, 3)]) == 3
    assert covered(0, 10, [(2, 8), (3, 4)]) == 6
    assert covered(0, 10, []) == 0


def test_self_time_with_overlapping_children_from_two_threads():
    spans = [
        Span(1, "root", None, 1, 0.0, 10.0),
        Span(2, "a", 1, 2, 1.0, 4.0),
        Span(3, "b", 1, 3, 3.0, 6.0),
        Span(4, "a.child", 2, 2, 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st == {1: 5.0, 2: 2.5, 3: 3.0, 4: 0.5}
    # self times exceed the root's wall time by exactly the overlap of a and b
    assert sum(st.values()) - spans[0].duration == pytest.approx(1.0)


def test_tracer_parents_pool_threads_and_restores_properties():
    sc = _StubContext()
    tracer = Tracer(sc)
    barrier = threading.Barrier(2)

    def worker(name):
        with tracer.span(name):
            barrier.wait(timeout=5)
            time.sleep(0.05)

    with tracer.span("root", pool=True) as root:
        assert sc.getLocalProperty("perfbench.span") == str(root.id)
        threads = [threading.Thread(target=worker, args=(n,)) for n in ("w1", "w2")]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=5)
            assert not t.is_alive()
    with tracer.span("after"):
        pass
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["w1"].parent == by_name["w2"].parent == root.id
    assert by_name["w1"].thread != by_name["w2"].thread
    assert by_name["after"].parent is None
    assert sc.getLocalProperty("perfbench.span") is None
    st = self_times(tracer.spans)
    overlap = min(by_name["w1"].end, by_name["w2"].end) - max(by_name["w1"].start, by_name["w2"].start)
    assert overlap > 0.04
    assert st[root.id] == pytest.approx(
        root.duration - (max(by_name["w1"].end, by_name["w2"].end)
                         - min(by_name["w1"].start, by_name["w2"].start)))


def test_same_result_allows_one_rounding_flip_only():
    from workloads import same_result

    want = [(1, 250000012.34), (3, 17.5)]
    assert same_result([(3, 17.5), (1, 250000012.35)], want, 0.01)
    assert not same_result([(3, 17.5), (1, 250000012.3)], want, 0.01)
    assert not same_result([(3, 17.5)], want, 0.01)
    assert not same_result([(3, 17.5), (1, None)], want, 0.01)
    assert same_result([("a", 0.4121)], [("a", 0.4121)])
    assert not same_result([("a", 0.4121)], [("a", 0.4122)])


def test_percentile_and_summary():
    xs = [float(x) for x in range(10, 0, -1)]
    assert percentile(xs, 50) == 5.5
    assert percentile(xs, 90) == pytest.approx(9.1)
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 10.0
    assert percentile([3.0], 90) == 3.0
    assert summary([2.0, 4.0]) == {"p50": 3.0, "p90": pytest.approx(3.8), "n": 2}
    assert summary([]) == {"n": 0}
    with pytest.raises(ValueError):
        percentile([], 50)


def test_event_log_totals_on_a_known_shuffle(tmp_path):
    from pyspark.sql import SparkSession

    events = tmp_path / "events"
    events.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.warehouse.dir", str(tmp_path / "wh"))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", events.as_uri())
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        tracer = Tracer(spark.sparkContext)
        spark.range(0, 10).collect()  # untraced job, filed under ""
        with tracer.span("write") as s:
            spark.range(0, 1000, 1, 4).repartition(3).write.parquet(str(tmp_path / "out"))
    finally:
        spark.stop()
    (log,) = os.listdir(events)
    totals, jobs = parse_event_log(str(events / log))
    t = totals[str(s.id)]
    assert jobs[str(s.id)] == 1 and jobs[""] >= 1
    assert t["stages"] == 2 and t["tasks"] == 4 + 3 and t["failed_tasks"] == 0
    assert t["output_rows"] == 1000 and t["output_mb"] > 0
    assert t["shuffle_write_mb"] > 0 and t["shuffle_read_mb"] == pytest.approx(t["shuffle_write_mb"])
    assert t["task_run_s"] >= t["task_cpu_s"] > 0


def _record(cpus: int, op_s: float, trace: int = 0) -> dict:
    return {"workload": "w", "cpus": cpus, "trace": trace, "end_to_end": {"op_s_p50": op_s}}


def test_compare_keys_on_cpus():
    parent = {"w": [_record(4, x) for x in (1.0, 2.0, 3.0)]}
    change = {"w": [_record(4, x) for x in (1.5, 2.5)]}
    (line,) = compare(parent, change)
    assert "parent 2 change 2" in line and "ratio 1.000" in line and "runs 3/2" in line
    with pytest.raises(ValueError, match="core counts"):
        compare(parent, {"w": [_record(32, 1.0)]})
