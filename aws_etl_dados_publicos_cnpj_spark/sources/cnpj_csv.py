"""CNPJ CSV source — the engine's equivalent of the reference's
pyarrow CSV convert step (``lambdas/fetch_data/fetch_data.py:69-74``).

Dialect (FIXTURES.md §A.0): headerless, positional column names,
``ISO-8859-1`` encoding, ``;`` delimiter, decimal **comma** on money
columns, dates as raw ``YYYYMMDD`` text.

Spark-first design notes:

- One ``spark.read.csv([paths])`` over all of a table's files replaces
  the reference's per-file Lambda fan-out
  (``state_machines/state_machine.asl:93-125``) — Spark parallelizes
  across files and splits natively, which also removes the reference's
  whole-file-in-memory 9 GB ceiling (``cnpj_infra_template.yml:167-170``).
- Explicit frozen schema (no inference pass over 100 TB of CSV).
- The decimal-comma columns are typed STRING in the read schema and cast
  via ``regexp_replace(',', '.')::double`` — stays inside whole-stage
  codegen, no Python in the hot path.
- ``mode=PERMISSIVE`` + an optional corrupt-record column keeps a bad
  row from killing a 1000-executor job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import decimal_comma_to_double
from ..schemas import DECIMAL_COMMA_COLUMNS, RAW_SCHEMAS

CNPJ_CSV_OPTIONS = {
    "header": "false",
    "sep": ";",
    "encoding": "ISO-8859-1",
    "multiLine": "false",  # encoding option requires single-line records
    "mode": "PERMISSIVE",
    "quote": '"',
}


def read_cnpj_csv(
    spark: SparkSession,
    paths: list[str] | str,
    table: str,
    quarantine_col: str | None = None,
) -> DataFrame:
    """Read one CNPJ table's CSV file(s) into a typed DataFrame.

    Column names are assigned positionally from the frozen schema
    (``fetch_data.py:18-46`` applied at ``:71``). The explicit schema
    fixes the frame's columns, so a drifted source layout does not
    change them: a short row reads its missing fields as null and a
    long row's extra fields are dropped. ``quarantine_col`` is the
    guard for such rows (SURVEY.md §7.4).

    With ``quarantine_col`` set, rows PERMISSIVE couldn't fully parse
    carry their raw text in that column (null for clean rows) — the
    caller splits them into a quarantine sink instead of silently
    landing nulls at 100 TB. (Spark refuses plans that read ONLY the
    corrupt column from the scan — ``.cache()`` the frame before
    splitting good/quarantined.)
    """
    if table not in RAW_SCHEMAS:
        raise KeyError(f"unknown CNPJ table {table!r}; expected one of {sorted(RAW_SCHEMAS)}")
    raw_schema = RAW_SCHEMAS[table]
    if isinstance(paths, str):
        paths = [paths]

    options = dict(CNPJ_CSV_OPTIONS)
    if quarantine_col:
        from pyspark.sql import types as T

        raw_schema = T.StructType(
            list(raw_schema.fields)
            + [T.StructField(quarantine_col, T.StringType(), True)]
        )
        options["columnNameOfCorruptRecord"] = quarantine_col

    df = spark.read.options(**options).schema(raw_schema).csv(paths)
    for col in DECIMAL_COMMA_COLUMNS.get(table, []):
        df = df.withColumn(col, decimal_comma_to_double(F.col(col)))
    return df
