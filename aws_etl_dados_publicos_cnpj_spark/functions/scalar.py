"""Scalar expression library — every string/date/numeric transform the
reference performs, as composable Column expressions (JVM-side, inside
whole-stage codegen; no Python UDFs).

Reference parity map (SURVEY.md §2.1):

- ``decimal_comma_to_double`` ← S21 dialect, ``lambdas/fetch_data/fetch_data.py:73``
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def decimal_comma_to_double(col: Column | str) -> Column:
    """Brazilian ``1234,56`` → 1234.56 double (pyarrow
    ``ConvertOptions(decimal_point=',')``, ``fetch_data.py:73``; Spark CSV
    has no equivalent option, so the cast lives here — SURVEY.md §7.4).

    ``try_cast``: malformed money cells become null rather than failing
    the job under ANSI mode — matching the source's PERMISSIVE posture
    (pair with the quarantine column to capture the raw rows)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, ",", ".").try_cast("double")

