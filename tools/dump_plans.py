"""Generate PLANS.md: a physical-plan audit of every registered query —
join strategies, exchange counts, scan pruning, and codegen/Arrow
markers — so the plan-quality claims in SCALE.md are checkable line by
line without re-running anything.

Usage: python tools/dump_plans.py [sf_dir]   (default sf0.001 — plan
shape, not data, is what's audited; broadcast thresholds at tiny SF can
upgrade shuffle joins to broadcast, noted in the header)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MARKERS = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "TakeOrderedAndProject",
    "WindowGroupLimit",
    "Window",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "BatchEvalPython",  # row-Python — should NEVER appear
    "InMemoryTableScan",
]


def main() -> None:
    import __spark_entry__ as entrymod
    from aws_etl_dados_publicos_cnpj_spark.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = build_session(
        "plans", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")

    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}` "
        "(plan shape audit; at tiny SF the broadcast threshold may "
        "upgrade fact-fact shuffle joins to broadcast — counts below "
        "are an upper bound on broadcasts, lower bound on shuffles).",
        "",
        "`BatchEvalPython` (row-at-a-time Python) appearing anywhere "
        "is a defect; Arrow paths show as `ArrowEvalPython` / "
        "`MapInPandas` / `FlatMapGroupsInPandas`.",
        "",
        "`ckpt×N` marks N lazy `localCheckpoint` subtrees (`Scan "
        "ExistingRDD`): the checkpoint TRUNCATES the visible plan, so "
        "this row's join/exchange counts cover only the part ABOVE the "
        "checkpoint — the checkpointed subtree's exchanges still "
        "execute once at materialization (don't read `exchanges: —` "
        "as zero-cost; see the ReusedExchange-vs-checkpoint note in "
        "SCALE.md).",
        "",
        "| query | joins | exchanges | python | other markers | scan cols |",
        "|---|---|---|---|---|---|",
    ]
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            lines.append(f"| {name} | ERROR: {type(exc).__name__} | | | | |")
            continue
        joins = []
        for j in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        ):
            c = plan.count(j)
            if c:
                joins.append(f"{j}×{c}")
        exch = []
        for e in (
            "Exchange hashpartitioning",
            "Exchange rangepartitioning",
            # adaptive spread's scan rebalance (dedup.spread) — absent
            # on any input that already splits >= core count
            "Exchange RoundRobinPartitioning",
        ):
            c = plan.count(e)
            if c:
                exch.append(f"{e.split()[1]}×{c}")
        py = []
        for p in (
            "ArrowEvalPython",
            "MapInPandas",
            "FlatMapGroupsInPandas",
            "BatchEvalPython",
        ):
            c = plan.count(p)
            if c:
                py.append(f"{p}×{c}")
        other = []
        for m in ("TakeOrderedAndProject", "WindowGroupLimit", "InMemoryTableScan"):
            c = plan.count(m)
            if c:
                other.append(f"{m}×{c}")
        c = plan.count("Scan ExistingRDD")
        if c:
            other.append(f"ckpt×{c}")
        cols = set()
        for match in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
            cols |= {c.split(":")[0] for c in match.group(1).split(",") if c}
        lines.append(
            f"| {name} | {' '.join(joins) or '—'} | {' '.join(exch) or '—'} "
            f"| {' '.join(py) or '—'} | {' '.join(other) or '—'} "
            f"| {len(cols)} |"
        )
    out = "\n".join(lines) + "\n"
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(out)
    bad = [
        l
        for l in lines
        if "BatchEvalPython×" in l or "CartesianProduct×" in l or "ERROR" in l
    ]
    print(f"wrote PLANS.md ({len(lines) - 8} queries); defects: {len(bad)}")
    for b in bad:
        print("DEFECT:", b)


if __name__ == "__main__":
    main()
