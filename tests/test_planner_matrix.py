"""Recorded-event-style planner test (the reference's `__main__`
harness pattern, `check_update.py:113-218`, as pytest fixtures): a
realistic 10-table listing with multi-part files, folders, chrome, and
a mixed catalog state — asserts the full manifest document."""

from __future__ import annotations

import pytest

from aws_etl_dados_publicos_cnpj_spark.plans.planner import CatalogState, plan_status, plan_updates
from aws_etl_dados_publicos_cnpj_spark.schemas import ALLOWED_TABLE_NAMES
from aws_etl_dados_publicos_cnpj_spark.sources.listing import ListingRow, listing_df

BASE = "https://dadosabertos.example/cnpj/"

LISTING = [
    ListingRow("regime_tributario/", "regime_tributario/", "2023-04-14 10:00", True),
    ListingRow("Cnaes.zip", "Cnaes.zip", "2023-05-06 10:01", False),
    ListingRow("Empresas0.zip", "Empresas0.zip", "2023-05-06 10:22", False),
    ListingRow("Empresas1.zip", "Empresas1.zip", "2023-05-06 10:23", False),
    ListingRow("Empresas2.zip", "Empresas2.zip", "2023-05-07 08:00", False),  # later date
    ListingRow("Estabelecimentos0.zip", "Estabelecimentos0.zip", "2023-05-06 11:00", False),
    ListingRow("Motivos.zip", "Motivos.zip", "2023-05-06 10:02", False),
    ListingRow("Municipios.zip", "Municipios.zip", "2023-05-06 10:03", False),
    ListingRow("Naturezas.zip", "Naturezas.zip", "2023-05-06 10:04", False),
    ListingRow("Paises.zip", "Paises.zip", "2023-05-06 10:05", False),
    ListingRow("Qualificacoes.zip", "Qualificacoes.zip", "2023-05-06 10:06", False),
    ListingRow("Simples.zip", "Simples.zip", "2023-05-06 10:07", False),
    ListingRow("Socios0.zip", "Socios0.zip", "2023-05-06 10:08", False),
    ListingRow("LAYOUT.pdf", "LAYOUT.pdf", "2023-01-01 00:00", False),  # not a table
]

CATALOG = CatalogState(
    {
        # fresh: max partition == site date
        "municipios": ["20230506"],
        # stale: older partitions only (out of order on purpose)
        "empresas": ["20230101", "20221001"],
        # fresh even though site has same-day file (no strict >)
        "cnaes": ["20230506"],
        # socios/estabelecimentos/etc. absent → new tables
    }
)


def test_manifest_routes_new_stale_fresh(spark):
    listing = listing_df(spark, LISTING)
    manifest = {
        (r.table_name, r.url): r.date
        for r in plan_updates(spark, listing, CATALOG, base_url=BASE).collect()
    }
    # stale empresas: all 3 parts, dated with the table-level MAX (20230507)
    assert manifest[("empresas", BASE + "Empresas0.zip")] == "20230507"
    assert manifest[("empresas", BASE + "Empresas1.zip")] == "20230507"
    assert manifest[("empresas", BASE + "Empresas2.zip")] == "20230507"
    # new tables appear
    assert ("socios", BASE + "Socios0.zip") in manifest
    assert ("estabelecimentos", BASE + "Estabelecimentos0.zip") in manifest
    # fresh tables and non-tables don't
    tables_planned = {t for t, _ in manifest}
    assert "municipios" not in tables_planned
    assert "cnaes" not in tables_planned
    assert all(not u.endswith("LAYOUT.pdf") for _, u in manifest)
    # full expected table set
    assert tables_planned == {
        "empresas", "estabelecimentos", "motivos", "naturezas",
        "paises", "qualificacoes", "simples", "socios",
    }


def test_status_document_shape(spark):
    listing = listing_df(spark, LISTING)
    status = {r.table_name: r for r in plan_status(spark, listing, CATALOG).collect()}
    assert status["empresas"].n_files == 3
    assert status["empresas"].ref_date == 20230507
    assert status["empresas"].latest_partition == 20230101  # true max of its partitions
    assert status["empresas"].should_update
    assert status["municipios"].exists and not status["municipios"].should_update
    assert not status["socios"].exists and status["socios"].should_update


def test_requested_subset_limits_plan(spark):
    listing = listing_df(spark, LISTING)
    manifest = plan_updates(
        spark, listing, CATALOG, requested_tables=["socios", "not_a_real_table"]
    ).collect()
    assert {r.table_name for r in manifest} == {"socios"}


def test_planner_scales_to_10k_file_listing(spark):
    """A 10^4-file listing built distributedly (``spark.range``, not a
    Python list) plans end to end: one manifest row per file, and the
    status stays one row per table, not per file."""
    from pyspark.sql import functions as F

    n = 10_000
    listing = spark.range(n).select(
        F.concat(F.lit("Empresas"), F.col("id"), F.lit(".zip")).alias("file_name"),
        F.concat(F.lit("Empresas"), F.col("id"), F.lit(".zip")).alias("href"),
        F.lit("2023-05-06 10:00").alias("last_modified"),
        F.lit(False).alias("is_folder"),
    )
    manifest = plan_updates(spark, listing, CatalogState({}), base_url=BASE)
    assert manifest.count() == n
    status = plan_status(spark, listing, CatalogState({})).collect()
    assert len(status) == 1  # bounded: one row per table, not per file
    assert status[0].n_files == n and status[0].should_update


# --- parity over hostile inputs: the expected rows were captured once
# from the DataFrame planner this driver-side planner replaced (Spark's
# TRY_CAST, split_part/lower/regexp_replace, collect_list/max, left
# join on the catalog) and are pinned here verbatim ---

HOSTILE_LISTING = [
    ("Empresas0.zip", "E0.zip", " 2023-05-06 10:22", False),  # space shifts the 10-char cut
    ("EMPRESAS.1.zip", "E1.zip", "2023-05-07 08:00", False),
    ("empresas-2.zip", None, "2023-05-08", False),  # counted and dated, no URL
    ("Estabelecimentos9.zip", "Est9.zip", "+2023-05-06", False),  # sign kept
    ("Estabelecimentos10.zip", "Est10.zip", "2023-05-06\x00", False),
    ("Sócios.zip", "Soc.zip", "2023-05-06", False),  # non-ASCII stripped → "scios"
    ("Socios.zip", "So.zip", "-2023-05-06", False),  # '-' removal eats the sign
    ("so.cios", "So2", "99999-99-99", False),  # pre-dot part only → "so"
    ("Simples.zip", "Si.zip", "9999999999", False),  # int32 overflow
    ("Simples.D.zip", "Si2.zip", "2023-05-0.", False),  # a fraction is not an int
    ("Cnaes.zip", "C.zip", "2023", False),  # short
    ("Cnaes.zip", "C2.zip", "\xa02023-05-06", False),  # non-ASCII space is not trimmed
    ("Motivos.zip", "M.zip", None, False),
    ("Motivos2.zip", "M2.zip", "2023-05-06 ", False),
    ("", "empty.zip", "2023-05-06", False),
    (None, "null.zip", "2023-05-06", False),
    (None, None, None, None),
    ("Paises.zip", "P.zip", "2023-05-06", None),  # unknown kind: skipped like a folder
    ("Paises", "Pdir/", "2023-05-06", True),
    ("Naturezas.zip", None, "2023-05-06", False),  # no URL at all: group dropped
    ("MUNICÍPIOS.zip", "Mi.zip", "2023-05-06", False),
    ("Municipios.zip", "Mu.zip", "\t2023-05-06\n", False),
    ("Municipios.V2.zip", "Mu2.zip", "2147483647", False),
    ("Municipios3.zip", "Mu3.zip", "2147483648", False),
    ("Quali-ficacoes 1.zip", "Q.zip", "-2147483648", False),
    ("Qualificacoes2.zip", "Q2.zip", "20-23-05-06", False),
    ("LAYOUT.pdf", "L.pdf", "2023-05-06", False),
]
HOSTILE_CATALOG = {
    "empresas": [],
    "estabelecimentos": [None],
    "socios": ["oops", "2023-05-06", " 20230101 ", "+20230102"],
    "simples": ["x", None],
    "cnaes": ["00002023"],
    "motivos": ["20230506", "99999999999"],
    "municipios": ["2147483647"],
    "qualificacoes": ["-1", ""],
}
STATUS_DTYPES = [
    ("table_name", "string"), ("n_files", "bigint"), ("ref_date", "int"),
    ("latest_partition", "int"), ("exists", "boolean"), ("should_update", "boolean"),
]
MANIFEST_DTYPES = [("url", "string"), ("table_name", "string"), ("date", "string")]
STATUS_HOSTILE = [
    ("cnaes", 2, 2023, 2023, True, False),
    ("empresas", 3, 20230508, None, False, True),
    ("estabelecimentos", 2, 20230506, None, False, True),
    ("motivos", 2, 20230506, 20230506, True, False),
    ("municipios", 3, 2147483647, 2147483647, True, False),
    ("qualificacoes", 2, 214748364, -1, True, True),
    ("simples", 2, None, None, False, True),
    ("socios", 1, 2023050, 20230102, True, False),
]
STATUS_EMPTY_CATALOG = [
    ("cnaes", 2, 2023, None, False, True),
    ("empresas", 3, 20230508, None, False, True),
    ("estabelecimentos", 2, 20230506, None, False, True),
    ("motivos", 2, 20230506, None, False, True),
    ("municipios", 3, 2147483647, None, False, True),
    ("qualificacoes", 2, 214748364, None, False, True),
    ("simples", 2, None, None, False, True),
    ("socios", 1, 2023050, None, False, True),
]
MANIFEST_HOSTILE = [
    ("https://x/E0.zip", "empresas", "20230508"),
    ("https://x/E1.zip", "empresas", "20230508"),
    ("https://x/Est10.zip", "estabelecimentos", "20230506"),
    ("https://x/Est9.zip", "estabelecimentos", "20230506"),
    ("https://x/Q.zip", "qualificacoes", "214748364"),
    ("https://x/Q2.zip", "qualificacoes", "214748364"),
]
MANIFEST_SIMPLES_LANDED = [
    ("https://x/C.zip", "cnaes", "2023"),
    ("https://x/C2.zip", "cnaes", "2023"),
    ("https://x/E0.zip", "empresas", "20230508"),
    ("https://x/E1.zip", "empresas", "20230508"),
    ("https://x/Est10.zip", "estabelecimentos", "20230506"),
    ("https://x/Est9.zip", "estabelecimentos", "20230506"),
    ("https://x/M.zip", "motivos", "20230506"),
    ("https://x/M2.zip", "motivos", "20230506"),
    ("https://x/Mu.zip", "municipios", "2147483647"),
    ("https://x/Mu2.zip", "municipios", "2147483647"),
    ("https://x/Mu3.zip", "municipios", "2147483647"),
    ("https://x/Q.zip", "qualificacoes", "214748364"),
    ("https://x/Q2.zip", "qualificacoes", "214748364"),
    ("https://x/So.zip", "socios", "2023050"),
]


def _plan(fn, spark, catalog, requested=None):
    df = fn(spark, listing_df(spark, HOSTILE_LISTING), CatalogState(catalog), requested, "https://x/")
    return df.dtypes, sorted(tuple(r) for r in df.collect())


def test_planner_parity_over_hostile_inputs(spark):
    assert _plan(plan_status, spark, HOSTILE_CATALOG) == (STATUS_DTYPES, STATUS_HOSTILE)
    assert _plan(plan_status, spark, {}) == (STATUS_DTYPES, STATUS_EMPTY_CATALOG)
    # simples is new and undated (see the ValueError test below), so it is not requested;
    # unknown and wrongly cased names are dropped
    requested = [t for t in ALLOWED_TABLE_NAMES if t != "simples"] + ["not_a_table", "Empresas"]
    assert _plan(plan_updates, spark, HOSTILE_CATALOG, requested) == (MANIFEST_DTYPES, MANIFEST_HOSTILE)
    assert _plan(plan_updates, spark, {"simples": ["20230101"]}) == (MANIFEST_DTYPES, MANIFEST_SIMPLES_LANDED)


def test_new_table_without_listing_date_is_refused(spark):
    """A new table with no parseable listing date has no ``ref_date``
    to land under, so the manifest refuses it rather than emit
    ``date=None``."""
    with pytest.raises(ValueError, match="simples"):
        _plan(plan_updates, spark, HOSTILE_CATALOG)
