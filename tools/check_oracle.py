"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the same scale factor, compare row count, column names, and
order-insensitive values.

Usage: python tools/check_oracle.py [--vanilla] [sf_dir] [query ...]

``--vanilla`` runs against a default-conf SparkSession (no UTC pin, no
Arrow/AQE tuning, adversarial non-UTC driver timezone) — the driver's
harness builds its own session, so every query must survive one.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(pdf):
    """Driver-identical canonicalization (CORRECTNESS_r03 traceback):
    sort columns by name, then ``sort_values`` over ALL columns — this is
    the step that raises ``TypeError: unhashable type: 'list'`` on any
    array-typed output column, so the mirror must do it too."""
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def _cell(v) -> str:
    """Full-precision cell repr — NO rounding. A float that differs below
    1e-6 must fail here exactly as it fails the driver's value hash."""
    if hasattr(v, "item"):  # numpy scalar → python scalar
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)


def compare(name, spark_pdf, duck_pdf) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"schema: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    try:
        s = _canon(spark_pdf)
    except Exception as exc:  # noqa: BLE001 — the driver would record `err`
        problems.append(f"spark canon error (driver `err` row): {type(exc).__name__}: {exc}")
        return problems
    try:
        d = _canon(duck_pdf)
    except Exception as exc:  # noqa: BLE001
        problems.append(f"oracle canon error (driver `err` row): {type(exc).__name__}: {exc}")
        return problems
    s_set = ["|".join(_cell(v) for v in row) for row in s.itertuples(index=False)]
    d_set = ["|".join(_cell(v) for v in row) for row in d.itertuples(index=False)]
    if s_set != d_set:
        diff_s = [r for r in s_set if r not in set(d_set)][:3]
        diff_d = [r for r in d_set if r not in set(s_set)][:3]
        problems.append(f"values: spark-only={diff_s} duck-only={diff_d}")
    return problems


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from aws_etl_dados_publicos_cnpj_spark.session import build_session

    argv = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("oracle-check-vanilla")
            .master("local[8]")
            # adversarial: a DST timezone, so any query that silently
            # depends on build_session's UTC pin fails here first
            .config("spark.driver.extraJavaOptions", "-Duser.timezone=America/Sao_Paulo")
            .config("spark.sql.session.timeZone", "America/Sao_Paulo")
            .getOrCreate()
        )
    else:
        spark = build_session("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: spark error {type(exc).__name__}: {exc}")
            continue
        if name not in os_:
            print(f"ok?  {name}: rows-only ({len(spark_pdf)} rows, no oracle)")
            continue
        try:
            # .df() (not fetchall) so DuckDB type promotions survive into
            # pandas dtypes — an uncast HUGEINT sum() arrives as float64
            # and fails the full-repr compare, exactly like the driver.
            duck_pdf = con.execute(os_[name]).df()
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: duckdb error {type(exc).__name__}: {exc}")
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            failed.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"PASS {name} ({len(spark_pdf)} rows)")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
