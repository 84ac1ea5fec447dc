"""Pipeline driver — the whole Step Functions state machine
(``state_machines/state_machine.asl``) as one driver function.

The reference's execution graph (SURVEY.md §3.1):

    GetTables → check_update → Map(tables) → [exists? fresh?] →
    Map(files) → fetch_data → crawler

collapses to:

    plan_updates(listing, catalog) → acquire_manifest (one manifest
    collect, driver download pool) → read_cnpj_csv(all files) →
    write_snapshot → register_table

The planner runs on the driver and returns the manifest as a local
relation, so planning and acquisition submit no Spark job: the
unchanged week runs none at all, and a stale week runs only its write
jobs. Per-table work is submitted concurrently
from the driver (``ThreadPoolExecutor``); Spark's scheduler multiplexes
the jobs across executor slots, replacing the INLINE Map concurrency
(``state_machine.asl:24-131``). Within a table, file-level parallelism
is Spark's native file-split scan — no inner Map needed
(``state_machine.asl:93-125``).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from ..sources.acquisition import acquire_manifest
from ..sources.cnpj_csv import read_cnpj_csv
from ..sources.sink import register_table, write_snapshot

# the reference's INLINE Map over tables (state_machine.asl:24-131)
MAX_CONCURRENT_TABLES = 4


def run_pipeline(
    spark: SparkSession,
    listing: DataFrame,
    catalog_state,
    warehouse_root: str,
    scratch_dir: str,
    requested_tables: list[str] | None = None,
    base_url: str = "",
    database: str = "default",
) -> dict[str, str]:
    """One scheduled run (S26). Returns ``{table: ref_date}`` for every
    table actually refreshed (fresh tables are skipped — the Succeed
    branch, ``state_machine.asl:90-92``)."""
    from .planner import plan_updates

    manifest = plan_updates(spark, listing, catalog_state, requested_tables, base_url)
    acquired = acquire_manifest(manifest, scratch_dir)

    by_table: dict[tuple[str, str], list[str]] = {}
    for table, date, csv_path in acquired:
        by_table.setdefault((table, date), []).append(csv_path)

    def _ingest(key: tuple[str, str]) -> tuple[str, str]:
        table, date = key
        df = read_cnpj_csv(spark, by_table[key], table)
        table_root = os.path.join(warehouse_root, table)
        write_snapshot(df, table_root, date)
        register_table(spark, table, table_root, database)
        return table, date

    refreshed: dict[str, str] = {}
    with ThreadPoolExecutor(max_workers=MAX_CONCURRENT_TABLES) as pool:
        for table, date in pool.map(_ingest, list(by_table)):
            refreshed[table] = date
    return refreshed
