"""Every SQL-expressible query must match its DuckDB oracle at sf0.001
(the driver repeats this at sf0.01 — this is the fast in-repo gate);
rows-only queries must at least run and return a stable schema."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from conftest import SF_SMALL
from tools.check_oracle import compare

ALL_QUERIES = entrymod.queries()
ALL_ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ALL_QUERIES))
def test_query_matches_oracle(name, spark, duck):
    sdf = ALL_QUERIES[name](spark, SF_SMALL)
    spark_pdf = sdf.toPandas()
    if name not in ALL_ORACLES:
        assert list(spark_pdf.columns), f"{name}: no columns"
        return
    # .df() so DuckDB type promotions (HUGEINT sums → float64) survive
    # into dtypes and fail the full-repr compare, like the driver
    duck_pdf = duck.execute(ALL_ORACLES[name]).df()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, f"{name}: {problems}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_registry_shape():
    assert set(ALL_ORACLES) <= set(ALL_QUERIES)
    assert len(ALL_QUERIES) >= 55
    assert len(ALL_ORACLES) >= 51
