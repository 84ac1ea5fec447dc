"""CNPJ ingest throughput bench — the direct comparable to the
reference's anchor (~1 GB CSV → Parquet in ≤480 s per 9 GB Lambda,
≥2.2 MB/s/worker; BASELINE.md).

Generates N MB of synthetic empresas-dialect CSV (latin-1, ';',
decimal comma), then times read_cnpj_csv → write_snapshot →
register_table end-to-end. Both modes also print
``parquet_bytes_per_csv_byte``: the ``.parquet`` bytes landed under the
table root per byte of CSV parsed.

Usage: python tools/bench_ingest.py [mb]
       python tools/bench_ingest.py --refresh [mb_per_part] [n_parts]

``--refresh`` measures the reference's FULL-TABLE unit (r5 verdict
item #4): the ``empresas`` table ships as ~10 parallel ~1 GB zipped
parts and the reference's derived bound for the whole refresh is
~8 min (``state_machine.asl:93-125`` maxConcurrency 10 ×
``cnpj_infra_template.yml:167`` 480 s Lambda timeout). This mode
synthesizes n_parts distinct zipped CSV parts, builds a ``file://``
listing, and times ONE ``run_pipeline`` refresh end-to-end
(plan → parallel download+unzip → multi-file scan → partitioned
snapshot → catalog). It then re-runs the same listing against the
landed catalog — the unchanged week, which must refresh nothing — and
prints its wall time as ``noop_refresh_s``."""

from __future__ import annotations

import json
import os
import random
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NAMES = ["AÇAÍ DO NORTE", "SÃO PAULO COMÉRCIO", "PADARIA ESTRELA", "TRANSPORTES JOSÉ"]
UFS = ["SP", "AM", "RJ", "MG", "PR"]


def make_csv(path: str, target_mb: int) -> int:
    rng = random.Random(42)
    target = target_mb * 1024 * 1024
    written = 0
    with open(path, "w", encoding="latin-1") as f:
        i = 0
        while written < target:
            row = (
                f"{10000000 + i};{rng.choice(NAMES)} {i} LTDA;{rng.randint(1000, 9999)};"
                f"{rng.randint(1, 99)};{rng.randint(0, 10_000_000)},{rng.randint(0, 99):02d};"
                f"{rng.randint(1, 5)};{rng.choice(UFS)}\n"
            )
            written += len(row)
            f.write(row)
            i += 1
    return i


def make_csv_fast(path: str, target_mb: int, seed: int) -> int:
    """Vectorized part generation (pandas to_csv) — pure-Python f-string
    rows cap at ~25 MB/s, which would dominate a 10 GB fixture build."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    target = target_mb * 1024 * 1024
    written = 0
    n_rows = 0
    chunk = 2_000_000
    # pooled pre-built names: per-element np.char.add measured ~10x
    # slower than indexing an object pool, and the name text is fixture
    # color, not the thing under test
    pool = np.array(
        [f"{n} {i:04d} LTDA" for n in NAMES for i in range(250)], dtype=object
    )
    with open(path, "w", encoding="latin-1", newline="") as f:
        while written < target:
            pdf = pd.DataFrame(
                {
                    "id": np.arange(n_rows, n_rows + chunk)
                    + 10_000_000
                    + seed * 100_000_000,
                    "name": pool[rng.integers(0, len(pool), chunk)],
                    "nat": rng.integers(1000, 9999, chunk),
                    "qual": rng.integers(1, 99, chunk),
                    # decimal-comma via to_csv's C path, not string concat
                    "cap": rng.integers(0, 1_000_000_000, chunk) / 100.0,
                    "porte": rng.integers(1, 5, chunk),
                    "uf": np.array(UFS)[rng.integers(0, len(UFS), chunk)],
                }
            )
            text = pdf.to_csv(
                sep=";",
                header=False,
                index=False,
                lineterminator="\n",
                decimal=",",
                float_format="%.2f",
            )
            f.write(text)
            written += len(text)
            n_rows += chunk
    return n_rows


def parquet_bytes(root: str) -> int:
    """Bytes of the ``.parquet`` files under ``root`` (the landed table)."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def _rmtree_at_exit(path: str) -> None:
    """Remove the fixture dir on ANY exit — normal, exception, or
    SIGTERM (a `timeout`-killed refresh run leaked 1.7 GB in /tmp)."""
    import atexit
    import shutil
    import signal

    atexit.register(shutil.rmtree, path, ignore_errors=True)
    prev = signal.getsignal(signal.SIGTERM)

    def _term(signum, frame):
        shutil.rmtree(path, ignore_errors=True)
        if callable(prev):
            prev(signum, frame)
        else:
            sys.exit(143)

    signal.signal(signal.SIGTERM, _term)


def refresh_main() -> None:
    """--refresh: one full-table multi-part refresh through run_pipeline."""
    import zipfile

    from aws_etl_dados_publicos_cnpj_spark.plans.pipeline import run_pipeline
    from aws_etl_dados_publicos_cnpj_spark.plans.planner import CatalogState
    from aws_etl_dados_publicos_cnpj_spark.session import build_session
    from aws_etl_dados_publicos_cnpj_spark.sources.listing import ListingRow, listing_df
    from aws_etl_dados_publicos_cnpj_spark.sources.sink import list_partitions

    args = [a for a in sys.argv[1:] if a != "--refresh"]
    mb_per_part = int(args[0]) if args else 1000
    n_parts = int(args[1]) if len(args) > 1 else 10

    tmp = tempfile.mkdtemp(prefix="bench_refresh_")
    _rmtree_at_exit(tmp)  # ~12 GB of fixtures must not outlive a killed run
    csv_bytes = 0
    rows = []
    for p in range(n_parts):
        csv_path = os.path.join(tmp, f"Empresas{p}.csv")
        make_csv_fast(csv_path, mb_per_part, seed=p)
        csv_bytes += os.path.getsize(csv_path)
        zip_path = os.path.join(tmp, f"Empresas{p}.zip")
        # deflate level 1: the timed side (extraction) decodes the same
        # stream family as the reference's zips; level only affects the
        # untimed fixture build
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
            zf.write(csv_path, f"Empresas{p}.CSV")
        os.remove(csv_path)
        rows.append(
            ListingRow(
                f"Empresas{p}.zip", f"file://{zip_path}", "2023-05-06 10:22", False
            )
        )
        print(f"part {p}: {mb_per_part} MB generated+zipped", file=sys.stderr)

    spark = build_session(
        "bench-refresh", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    listing = listing_df(spark, rows)
    wh = os.path.join(tmp, "warehouse")
    start = time.perf_counter()
    refreshed = run_pipeline(
        spark, listing, CatalogState({}), wh, os.path.join(tmp, "scratch")
    )
    elapsed = time.perf_counter() - start
    assert refreshed == {"empresas": "20230506"}, refreshed
    n = spark.sql("SELECT count(*) AS n FROM default.empresas").collect()[0].n
    landed = CatalogState({"empresas": list_partitions(spark, "empresas")})
    start = time.perf_counter()
    again = run_pipeline(spark, listing, landed, wh, os.path.join(tmp, "scratch"))
    noop_s = time.perf_counter() - start
    assert again == {}, again
    total_csv_mb = csv_bytes / 1e6
    print(
        json.dumps(
            {
                "metric": "cnpj_full_table_refresh",
                "value": round(elapsed, 1),
                "unit": "sec",
                "parts": n_parts,
                "csv_mb": round(total_csv_mb, 1),
                "mb_per_s": round(total_csv_mb / elapsed, 1),
                "rows": n,
                "parquet_bytes_per_csv_byte": round(
                    parquet_bytes(os.path.join(wh, "empresas")) / csv_bytes, 4
                ),
                "reference_bound_sec": 480,
                "noop_refresh_s": round(noop_s, 3),
            }
        )
    )
    spark.sql("DROP TABLE default.empresas")
    spark.stop()
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    from aws_etl_dados_publicos_cnpj_spark.session import build_session
    from aws_etl_dados_publicos_cnpj_spark.sources.cnpj_csv import read_cnpj_csv
    from aws_etl_dados_publicos_cnpj_spark.sources.sink import register_table, write_snapshot

    mb = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    tmp = tempfile.mkdtemp()
    _rmtree_at_exit(tmp)
    csv_path = os.path.join(tmp, "Empresas0.csv")
    n_rows = make_csv(csv_path, mb)
    actual_mb = os.path.getsize(csv_path) / 1e6

    spark = build_session("bench-ingest", extra_conf={"spark.ui.showConsoleProgress": "false"})
    root = os.path.join(tmp, "wh", "empresas")
    start = time.perf_counter()
    df = read_cnpj_csv(spark, [csv_path], "empresas")
    write_snapshot(df, root, "20230506")
    register_table(spark, "bench_empresas", root)
    elapsed = time.perf_counter() - start
    out_rows = spark.sql("SELECT count(*) AS n FROM bench_empresas").collect()[0].n
    assert out_rows == n_rows, (out_rows, n_rows)
    print(
        json.dumps(
            {
                "metric": "cnpj_ingest_throughput",
                "value": round(actual_mb / elapsed, 2),
                "unit": "MB/s",
                "csv_mb": round(actual_mb, 1),
                "rows": n_rows,
                "parquet_bytes_per_csv_byte": round(
                    parquet_bytes(root) / os.path.getsize(csv_path), 4
                ),
                "wall_s": round(elapsed, 2),
                "baseline_mb_s": 2.2,
            }
        )
    )
    spark.sql("DROP TABLE bench_empresas")
    spark.stop()


if __name__ == "__main__":
    if "--refresh" in sys.argv[1:]:
        refresh_main()
    else:
        main()
