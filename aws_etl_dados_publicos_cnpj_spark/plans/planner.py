"""Incremental update planner — the reference's whole control plane
(``lambdas/check_update/check_update.py`` + the freshness Lambda +
the two Choice states) as one driver-side function.

Operator parity (SURVEY.md §2.1):

- S3 skip folders                ← ``check_update.py:52-53``
- S4 filename → table key        ← ``check_update.py:55-60``
- S5 allow-list filter           ← ``check_update.py:16-20,30-31,61-62``
- S6 URL concat                  ← ``check_update.py:64``
- S7 last-modified → YYYYMMDD    ← ``check_update.py:65``
- S8 group/collect_list/max      ← ``check_update.py:67-70``
- S9 exists (catalog lookup)     ← ``check_update.py:34,101``
- S10 drop empty groups          ← ``check_update.py:80``
- S14 freshness (true max)       ← ``lambdas/download_test/lambda_function.py:6-10``
                                   (reference takes ``partitionValues[0]``;
                                   we implement the documented-intent max,
                                   ``README.md:222`` — SURVEY.md §7.4)
- S15 route stale/new/fresh      ← ``state_machines/state_machine.asl:32-42,79-89``
- S11 manifest unnest            ← ``check_update.py:81-89``

Like the reference's Lambda, the plan is plain Python: both inputs are
already on the driver (the listing is tens of parsed rows in a local
relation, collected without a Spark job, and the catalog is a dict).
The same plan as a DataFrame program cost about 15 Catalyst analyses
and 3 Spark jobs per run to group about 20 rows. Casts keep Spark's
``TRY_CAST`` semantics (``sink.max_int``), so a malformed listing date
or catalog partition is a null, never an error. The results are local
relations too (``LocalTableScan``): collecting the manifest submits no
job, so the unchanged week runs no Spark job at all.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import ALLOWED_TABLE_NAMES
from ..sources.listing import local_df
from ..sources.sink import max_int

STATUS_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), True),
        T.StructField("n_files", T.LongType(), False),
        T.StructField("ref_date", T.IntegerType(), True),
        T.StructField("latest_partition", T.IntegerType(), True),
        T.StructField("exists", T.BooleanType(), False),
        T.StructField("should_update", T.BooleanType(), False),
    ]
)
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("table_name", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
    ]
)


@dataclass
class CatalogState:
    """Catalog snapshot the planner plans against: for each existing
    table, its ``ref_date`` partition values (S12/S13,
    ``state_machine.asl:5-13,43-55``)."""

    tables: dict[str, list[str]] = field(default_factory=dict)


@dataclass
class _Planned:
    """One requested table's routing: the Choice states' inputs."""

    table_name: str
    files: list[str]
    n_files: int
    ref_date: int | None
    latest_partition: int | None

    @property
    def exists(self) -> bool:  # S9: a table with no integer partition is new
        return self.latest_partition is not None

    @property
    def should_update(self) -> bool:  # S15: new, or stale by a known date
        if not self.exists:
            return True
        # a malformed site date on an existing table is no evidence: skip
        return self.ref_date is not None and self.ref_date > self.latest_partition


def _planned_tables(
    listing: DataFrame,
    catalog: CatalogState,
    requested_tables: list[str] | None,
    base_url: str,
) -> list[_Planned]:
    """One entry per listed, requested table, in listing order."""
    requested = {t for t in (requested_tables or ALLOWED_TABLE_NAMES) if t in ALLOWED_TABLE_NAMES}
    grouped: dict[str, list[tuple[str | None, str | None]]] = {}
    for row in listing.collect():  # a local relation: no Spark job
        if row.is_folder is not False or row.file_name is None:  # S3: folders, unknown kinds
            continue
        table = re.sub("[^a-z]", "", row.file_name.split(".", 1)[0].lower())  # S4
        if table not in requested:  # S5
            continue
        url = None if row.href is None else base_url + row.href  # S6
        modified = row.last_modified
        date = None if modified is None else modified[:10].replace("-", "")  # S7
        grouped.setdefault(table, []).append((url, date))  # S8

    planned = []
    for table, files in grouped.items():
        urls = [url for url, _ in files if url is not None]
        if not urls:  # S10
            continue
        ref_date = max_int(date for _, date in files)  # S8: the newest file's date
        latest = max_int(catalog.tables.get(table) or [])  # S14
        planned.append(_Planned(table, urls, len(files), ref_date, latest))
    return planned


def plan_updates(
    spark: SparkSession,
    listing: DataFrame,
    catalog: CatalogState,
    requested_tables: list[str] | None = None,
    base_url: str = "",
) -> DataFrame:
    """Listing × catalog × request → per-file ingest manifest.

    Returns columns ``(url, table_name, date)`` — the reference's
    fetch_data event shape (``README.md:230-237``); only stale or new
    tables appear (fresh tables are the Succeed-no-op branch,
    ``state_machine.asl:90-92``). A new table with no parseable listing
    date raises ``ValueError``: it has no ``ref_date`` to land under.
    """
    planned = _planned_tables(listing, catalog, requested_tables, base_url)
    routed = [p for p in planned if p.should_update]
    undated = [p.table_name for p in routed if p.ref_date is None]
    if undated:
        raise ValueError(f"no parseable listing date for new table(s) {undated}")
    rows = [(url, p.table_name, str(p.ref_date)) for p in routed for url in p.files]  # S11
    return local_df(spark, rows, MANIFEST_SCHEMA)


def plan_status(
    spark: SparkSession,
    listing: DataFrame,
    catalog: CatalogState,
    requested_tables: list[str] | None = None,
    base_url: str = "",
) -> DataFrame:
    """Diagnostic view: one row per requested table with
    ``(table_name, n_files, ref_date, latest_partition, exists,
    should_update)`` — the planner's Choice-state routing made
    inspectable (``state_machine.asl:32-42,79-89``)."""
    rows = [
        (p.table_name, p.n_files, p.ref_date, p.latest_partition, p.exists, p.should_update)
        for p in _planned_tables(listing, catalog, requested_tables, base_url)
    ]
    return local_df(spark, rows, STATUS_SCHEMA)
