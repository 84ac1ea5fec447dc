"""Compare two bench artifacts on their COMMON query set — the same
analysis the round-3/4 drift investigations did by hand: common
total, per-query deltas, and queries regressing past a threshold.

Usage: python tools/bench_compare.py A.json B.json [pct]

Each file is bench.py's own output (the stdout line or
BENCH.out.json), the driver's wrapper around it (``parsed``), or raw
bench stdout whose last JSON line is the payload. Compare artifacts
measured at the same ``cpus``; box drift is read from several runs of
each side, not from one pair.
"""

from __future__ import annotations

import json
import re
import sys


def _payload(path: str) -> dict:
    raw = open(path).read()
    try:
        d = json.loads(raw)
        if "queries" in d:  # bench.py's own output line / BENCH.out.json
            return d
        if d.get("parsed"):  # the driver's wrapper
            return d["parsed"]
    except json.JSONDecodeError:
        pass
    # raw bench stdout with a stderr fragment — last line that parses
    for line in reversed(raw.strip().splitlines()):
        m = re.search(r"\{.*\}", line)
        if m:
            try:
                d = json.loads(m.group(0))
                if "queries" in d:
                    return d
            except json.JSONDecodeError:
                continue
    raise SystemExit(f"no bench JSON found in {path}")


def main() -> None:
    a, b = sys.argv[1], sys.argv[2]
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0
    pa, pb = _payload(a), _payload(b)
    qa, qb = pa["queries"], pb["queries"]
    # methodology guard (r5 advice): deltas between artifacts measured
    # under different harness methodology attribute harness changes to
    # engine changes — say so loudly before any numbers.
    ma, mb = pa.get("methodology"), pb.get("methodology")
    if ma != mb:
        print(
            "WARNING: methodology differs — deltas mix harness and engine "
            f"changes\n  {a}: {ma}\n  {b}: {mb}"
        )
    common = sorted(set(qa) & set(qb))
    ta, tb = sum(qa[q] for q in common), sum(qb[q] for q in common)
    print(f"common queries: {len(common)}")
    delta_pct = 100 * (tb - ta) / ta
    print(f"{a}: {ta:.2f}s   {b}: {tb:.2f}s   delta {delta_pct:+.1f}%")
    regressions = []
    for q in common:
        d = 100 * (qb[q] - qa[q]) / qa[q] if qa[q] else 0.0
        if d > threshold and qb[q] - qa[q] > 0.1:  # pct AND absolute floor
            regressions.append((q, qa[q], qb[q], d))
    if regressions:
        print(f"\nregressions >{threshold:.0f}% (and >0.1s absolute):")
        for q, x, y, d in sorted(regressions, key=lambda r: -r[3]):
            print(f"  {q:40s} {x:6.2f}s -> {y:6.2f}s  {d:+.0f}%")
    else:
        print(f"no regressions >{threshold:.0f}%")
    improvements = sorted(
        ((q, qa[q], qb[q]) for q in common if qa[q] - qb[q] > 0.3),
        key=lambda r: r[1] - r[2],
    )
    if improvements:
        print("\nimprovements >0.3s:")
        for q, x, y in improvements:
            print(f"  {q:40s} {x:6.2f}s -> {y:6.2f}s")


if __name__ == "__main__":
    main()
