"""Incremental update planner — the reference's whole control plane
(``lambdas/check_update/check_update.py`` + the freshness Lambda +
the two Choice states) as ONE pure-DataFrame function.

Operator parity (SURVEY.md §2.1):

- S3 skip folders                ← ``check_update.py:52-53``
- S4 filename → table key        ← ``check_update.py:55-60``
- S5 allow-list semi-join        ← ``check_update.py:16-20,30-31,61-62``
- S6 URL concat                  ← ``check_update.py:64``
- S7 last-modified → YYYYMMDD    ← ``check_update.py:65``
- S8 group/collect_list/max      ← ``check_update.py:67-70``
- S9 exists (catalog semi-join)  ← ``check_update.py:34,101``
- S10 drop empty groups          ← ``check_update.py:80``
- S14 freshness (true max)       ← ``lambdas/download_test/lambda_function.py:6-10``
                                   (reference takes ``partitionValues[0]``;
                                   we implement the documented-intent max,
                                   ``README.md:222`` — SURVEY.md §7.4)
- S15 route stale/new/fresh      ← ``state_machines/state_machine.asl:32-42,79-89``
- S11 manifest unnest            ← ``check_update.py:81-89``

Everything is expressed on DataFrames so the same plan logic runs
unchanged whether the listing has 40 rows (CNPJ) or 40 million (a
100 TB data lake's file inventory): the group-by shuffles on
``table_name`` only, the catalog join broadcasts the small side, and no
step collects an unbounded list to the driver except the final manifest
(bounded by file count per refresh).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalar import normalize_table_key, yyyymmdd_int
from ..schemas import ALLOWED_TABLE_NAMES
from ..sources.listing import local_df

CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), True),
        T.StructField("partition_values", T.ArrayType(T.StringType()), True),
    ]
)


@dataclass
class CatalogState:
    """Catalog snapshot the planner plans against: for each existing
    table, its ``ref_date`` partition values (S12/S13,
    ``state_machine.asl:5-13,43-55``)."""

    tables: dict[str, list[str]] = field(default_factory=dict)

    def to_df(self, spark: SparkSession) -> DataFrame:
        rows = [(name, list(parts)) for name, parts in self.tables.items()]
        return local_df(spark, rows, CATALOG_SCHEMA)


def _planned_tables(
    spark: SparkSession,
    listing: DataFrame,
    catalog: CatalogState | DataFrame,
    requested_tables: list[str] | None,
    base_url: str,
) -> DataFrame:
    """Shared planner core: per-table row with
    ``(table_name, files, n_files, ref_date, exists, latest_partition,
    should_update)``."""
    catalog_df = catalog.to_df(spark) if isinstance(catalog, CatalogState) else catalog
    requested = [t for t in (requested_tables or ALLOWED_TABLE_NAMES) if t in ALLOWED_TABLE_NAMES]

    files = (
        listing.filter(~F.col("is_folder"))  # S3
        .withColumn("table_name", normalize_table_key("file_name"))  # S4
        .filter(F.col("table_name").isin(requested))  # S5
        .withColumn("url", F.concat(F.lit(base_url), F.col("href")))  # S6
        .withColumn("file_ref_date", yyyymmdd_int("last_modified"))  # S7
    )

    grouped = files.groupBy("table_name").agg(  # S8
        F.collect_list("url").alias("files"),
        F.count("*").alias("n_files"),
        F.max("file_ref_date").alias("ref_date"),
    )
    # S10: guard mirrors the reference (empty groups can't occur post-groupBy)
    grouped = grouped.filter(F.size("files") > 0)

    # S9 + S14: existence and true-max freshness from the catalog side.
    catalog_max = catalog_df.select(
        "table_name",
        F.aggregate(
            F.col("partition_values"),
            F.lit(None).cast("int"),
            lambda acc, pv: F.greatest(acc, pv.try_cast("int")),
        ).alias("latest_partition"),
    )

    return (
        grouped.join(F.broadcast(catalog_max), "table_name", "left")
        .withColumn("exists", F.col("latest_partition").isNotNull())
        .withColumn(  # S15: new table OR stale table → ingest; a null
            # comparison (malformed site date on an existing table) is
            # explicitly NOT stale — no evidence, no re-ingest
            "should_update",
            (~F.col("exists"))
            | F.coalesce(F.col("ref_date") > F.col("latest_partition"), F.lit(False)),
        )
    )


def plan_updates(
    spark: SparkSession,
    listing: DataFrame,
    catalog: CatalogState | DataFrame,
    requested_tables: list[str] | None = None,
    base_url: str = "",
) -> DataFrame:
    """Listing × catalog × request → per-file ingest manifest.

    Returns columns ``(url, table_name, date)`` — the reference's
    fetch_data event shape (``README.md:230-237``); only stale or new
    tables appear (fresh tables are the Succeed-no-op branch,
    ``state_machine.asl:90-92``).
    """
    planned = _planned_tables(spark, listing, catalog, requested_tables, base_url)
    return (
        planned.filter(F.col("should_update"))
        .select(  # S11: unnest file list, broadcast group attrs onto each row
            F.explode("files").alias("url"),
            "table_name",
            F.col("ref_date").cast("string").alias("date"),
        )
    )


def plan_status(
    spark: SparkSession,
    listing: DataFrame,
    catalog: CatalogState | DataFrame,
    requested_tables: list[str] | None = None,
    base_url: str = "",
) -> DataFrame:
    """Diagnostic view: one row per requested table with
    ``(table_name, n_files, ref_date, exists, latest_partition,
    should_update)`` — the planner's Choice-state routing made
    inspectable (``state_machine.asl:32-42,79-89``)."""
    return _planned_tables(spark, listing, catalog, requested_tables, base_url).select(
        "table_name", "n_files", "ref_date", "latest_partition", "exists", "should_update"
    )
