"""Scalar expression library — every string/date/numeric transform the
reference performs, as composable Column expressions (JVM-side, inside
whole-stage codegen; no Python UDFs).

Reference parity map (SURVEY.md §2.1):

- ``normalize_table_key``  ← S4, ``lambdas/check_update/check_update.py:55-60``
- ``yyyymmdd_int``         ← S7, ``check_update.py:65``
- ``decimal_comma_to_double`` ← S21 dialect, ``lambdas/fetch_data/fetch_data.py:73``
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_table_key(name: Column | str) -> Column:
    """Filename → table key: text before the first ``.``, lowercased,
    non-letters stripped (``check_update.py:55-60``).

    ``Empresas0.zip`` → ``empresas``; ``F.K.Motivos.zip`` would keep only
    the pre-dot segment, matching the reference's ``split('.')[0]``.
    """
    col = F.col(name) if isinstance(name, str) else name
    return F.regexp_replace(F.lower(F.split_part(col, F.lit("."), F.lit(1))), "[^a-z]", "")


def yyyymmdd_int(ts_text: Column | str) -> Column:
    """``'2023-05-06 10:22'`` → ``20230506`` (int) — first 10 chars,
    ``-`` stripped, cast int (``check_update.py:65``).

    ``try_cast``: under ANSI mode (Spark 4 default) a plain cast of one
    malformed listing cell would kill the whole job; malformed dates
    become null instead (the planner treats a null freshness comparison
    as not-stale — no evidence, no re-ingest)."""
    col = F.col(ts_text) if isinstance(ts_text, str) else ts_text
    return F.regexp_replace(F.substring(col, 1, 10), "-", "").try_cast("int")


def decimal_comma_to_double(col: Column | str) -> Column:
    """Brazilian ``1234,56`` → 1234.56 double (pyarrow
    ``ConvertOptions(decimal_point=',')``, ``fetch_data.py:73``; Spark CSV
    has no equivalent option, so the cast lives here — SURVEY.md §7.4).

    ``try_cast``: malformed money cells become null rather than failing
    the job under ANSI mode — matching the source's PERMISSIVE posture
    (pair with the quarantine column to capture the raw rows)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, ",", ".").try_cast("double")

