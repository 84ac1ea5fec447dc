"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cnpj_weekly_refresh --seed 1 --seconds 20 --trace 0

Run from the repository root. The run builds its inputs from the seed,
sets up (Spark session, fixture generation, warehouse landing, one
untimed warm pass), then runs closed-loop passes of the workload's
operations for ``--seconds``, one client, on ``local[<cores>]``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` untraced and traced passes (spans plus Spark's event
log) alternate; the last line then carries the per-layer metrics,
including the tracing overhead. The line before it is the full run
record: cpus, pyspark version, engine tree hash, seed, per-operation
samples and the error rate. Records are also appended to
``.perfbench_out/results.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

from spans import Tracer, maybe_span, parse_event_log, self_times
from stats import percentile, summary

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "aws_etl_dados_publicos_cnpj_spark"
OUT = ROOT / ".perfbench_out"

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "noop_refresh_s": "s",
    "stored_bytes_per_csv_byte": "ratio",
    "peak_rss_mb": "MB",
}
# spans reported as ``<name>_s`` (total) and, where they have children, ``_self_s``
SPANS = [
    "pipeline.run_pipeline", "planner.plan_updates", "acquisition.acquire_manifest",
    "cnpj_csv.read_cnpj_csv", "sink.write_snapshot", "sink.register_table",
    "sink.latest_partition", "operators.construct", "operators.plan", "operators.execute",
]
COUNTS = [
    "planner.manifest_rows", "planner.tables_refreshed", "planner.tables_skipped",
    "acquisition.files", "acquisition.zip_mb", "acquisition.csv_mb",
    "sink.files_written", "sink.parquet_mb", "operators.result_rows",
]
EXEC_FIELDS = [
    "jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "gc_s",
    "input_mb", "output_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
]
# phase -> spans whose Spark jobs make it up
PHASES = {
    "acquire": ["acquisition.acquire_manifest"],
    "write": ["sink.write_snapshot"],
    "register": ["sink.register_table"],
    "query": ["operators.construct", "operators.plan", "operators.execute"],
}


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("cpu_util"):
        return "ratio"
    return "count"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def tree_hash() -> str:
    """sha256 over the package's Python sources, by relative path."""
    h = hashlib.sha256()
    for p in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_probe_s() -> float:
    """Seconds for a fixed pure-Python loop: the box's single-thread speed now."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i
    return time.perf_counter() - t


def run_pass(wl, rng, tracer, results: list[dict]) -> float:
    """Run one pass of the workload's ops; append one result per op."""
    start = time.perf_counter()
    for op in wl.pass_ops(rng):
        t0 = time.perf_counter()
        try:
            with maybe_span(tracer, f"op.{op.name}"):
                out = op.run(tracer)
            dt = time.perf_counter() - t0
            ok = bool(op.check(out))
            if op.after:
                op.after()
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            traceback.print_exc()
            dt, ok = time.perf_counter() - t0, False
        if not ok:
            print(f"perfbench: operation {op.name} failed", file=sys.stderr)
        results.append(
            {"op": op.name, "primary": op.primary, "s": dt, "ok": ok, "traced": bool(tracer)}
        )
    return time.perf_counter() - start


def layer_metrics(tracer, passes: int, event_log: str | None, wall_s: float) -> dict[str, float]:
    """Per-layer metrics per traced pass, from spans, counts and the event log."""
    selfs = self_times(tracer.spans)
    out: dict[str, float] = {}
    for name in SPANS:
        spans = [s for s in tracer.spans if s.name == name]
        out[f"{name}_s"] = sum(s.duration for s in spans) / passes
        if name in ("pipeline.run_pipeline", "operators.construct"):
            out[f"{name}_self_s"] = sum(selfs[s.id] for s in spans) / passes
    out["sink.latest_partition_calls"] = sum(
        s.name == "sink.latest_partition" for s in tracer.spans) / passes
    for name in COUNTS:
        out[name] = tracer.counts.get(name, 0) / passes

    totals, jobs = parse_event_log(event_log) if event_log else ({}, {})
    names = {str(s.id): s.name for s in tracer.spans}

    def exec_sum(span_names=None) -> dict[str, float]:
        acc = dict.fromkeys(EXEC_FIELDS + ["output_rows"], 0.0)
        for sid, t in totals.items():
            if sid in names and (span_names is None or names[sid] in span_names):
                for k in acc:
                    acc[k] += t.get(k, 0)
                acc["jobs"] += jobs.get(sid, 0)
        return {k: v / passes for k, v in acc.items()}

    every = exec_sum()
    for k in EXEC_FIELDS:
        out[f"exec.{k}"] = every[k]
    out["exec.noncpu_s"] = every["task_run_s"] - every["task_cpu_s"]
    out["exec.cpu_util"] = every["task_cpu_s"] / (wall_s / passes * cores())
    out["sink.rows_written"] = exec_sum({"sink.write_snapshot"})["output_rows"]
    for phase, span_names in PHASES.items():
        p = exec_sum(set(span_names))
        for k in ("jobs", "task_run_s", "task_cpu_s"):
            out[f"exec.{phase}.{k}"] = p[k]
        out[f"exec.{phase}.noncpu_s"] = p["task_run_s"] - p["task_cpu_s"]
    roots = [s for s in tracer.spans if s.name.startswith("op.")]
    out["trace.root_s"] = sum(s.duration for s in roots) / passes
    out["trace.self_sum_s"] = sum(selfs[s.id] for s in tracer.spans) / passes
    out["trace.spans"] = len(tracer.spans) / passes
    return out


def spark_conf(work: Path, trace: bool) -> dict[str, str]:
    """Keep every file Spark writes inside the run's work dir."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.local.dir": str(work / "local"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return conf


def measure(wl, spark, args) -> dict:
    """Set up, warm, then run closed-loop passes for ``args.seconds``.
    With tracing, traced and untraced passes alternate, so the
    difference of their medians is the tracing overhead."""
    from workloads import install_spans

    results: list[dict] = []
    t0 = time.perf_counter()
    wl.setup()
    land_s = time.perf_counter() - t0
    c0 = time.perf_counter()
    wl.expect()
    check_s = time.perf_counter() - c0
    rng = random.Random(f"perfbench-order:{args.seed}")
    run_pass(wl, rng, None, results)  # warm pass, untimed
    setup_s = time.perf_counter() - t0 - check_s
    warm = len(results)

    tracer = Tracer(spark.sparkContext) if args.trace else None
    untraced, traced, probes = [], [], []
    end = time.perf_counter() + args.seconds
    while True:
        probes.append(cpu_probe_s())
        trace_now = tracer is not None and len(traced) < len(untraced)
        if trace_now:
            install_spans(tracer, wl)
        took = run_pass(wl, rng, tracer if trace_now else None, results)
        (traced if trace_now else untraced).append(took)
        if trace_now:
            tracer.unwrap()
        # stop before a pass that would end past the window
        if (traced or not tracer) and time.perf_counter() + took > end:
            break
    problems = wl.final_check()
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    if problems:  # every refresh pass does the same work: all are suspect
        for r in results:
            r["ok"] = r["ok"] and not r["primary"]
    return {
        "results": results, "warm": warm, "setup_s": setup_s, "land_s": land_s,
        "check_s": check_s, "tracer": tracer, "untraced": untraced, "traced": traced,
        "probes": probes, "stored": wl.stored_ratio(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    cpus = cores()
    work = OUT / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        # Python workers import the package (acquisition runs in them)
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    )
    sys.path.insert(0, str(ROOT))
    import pyspark
    from pyspark import SparkContext

    from aws_etl_dados_publicos_cnpj_spark.session import build_session
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    for d in ("tmp", "local", "events"):
        (work / d).mkdir(parents=True, exist_ok=True)
    try:
        t0 = time.perf_counter()
        spark = build_session("perfbench", extra_conf=spark_conf(work, bool(args.trace)))
        build_s = time.perf_counter() - t0
        gateway = SparkContext._gateway
        try:
            wl = WORKLOADS[args.workload](spark, str(work), args.seed)
            m = measure(wl, spark, args)
            rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(gateway.proc.pid)
        finally:
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        events = sorted((work / "events").iterdir())
        layers = (
            layer_metrics(m["tracer"], len(m["traced"]), str(events[0]) if events else None,
                          sum(m["traced"]))
            if args.trace else {}
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    results = m["results"]
    timed = [r for r in results[m["warm"]:] if not r["traced"]]
    primary = [r["s"] for r in timed if r["primary"] and r["ok"]]
    noop = [r["s"] for r in timed if not r["primary"] and r["ok"]]
    failed = sum(not r["ok"] for r in results)
    if not primary or not noop:
        print("perfbench: no operation succeeded", file=sys.stderr)
        return 1
    e2e = {
        "setup_s": build_s + m["setup_s"],
        "op_s_p50": percentile(primary, 50),
        "noop_refresh_s": statistics.median(noop),
        "stored_bytes_per_csv_byte": m["stored"],
        "peak_rss_mb": rss,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "pyspark": pyspark.__version__,
        "tree_hash": tree_hash(),
        "sizes": vars(wl.sizes),
        "error_rate": failed / len(results),
        # box speed during the loop: compare it before trusting a cross-run delta
        "cpu_probe_s": statistics.median(m["probes"]),
        "setup": {"build_session_s": build_s, "land_s": m["land_s"], "check_s": m["check_s"]},
        "primary_ops": summary(primary),
        "ops": {
            name: summary([r["s"] for r in timed if r["op"] == name and r["ok"]])
            | {"failed": sum(not r["ok"] for r in timed if r["op"] == name)}
            for name in dict.fromkeys(r["op"] for r in timed)
        },
        "end_to_end": e2e,
    }
    if hasattr(wl, "csv_mb"):
        record["csv_mb_per_refresh"] = wl.csv_mb
        record["refresh_mb_s"] = wl.csv_mb / e2e["op_s_p50"]
    metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
    if args.trace:
        layers["session.build_session_s"] = build_s
        layers["trace.untraced_pass_s"] = statistics.median(m["untraced"])
        layers["trace.traced_pass_s"] = statistics.median(m["traced"])
        layers["trace.overhead_s"] = layers["trace.traced_pass_s"] - layers["trace.untraced_pass_s"]
        record["per_layer"] = layers
        metrics = {k: (v, unit_of(k)) for k, v in layers.items()}

    line = json.dumps({"record": record})
    with open(OUT / "results.jsonl", "a") as f:
        f.write(line + "\n")
    print(line)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
