"""Partitioned Parquet sink + catalog registration.

Replaces three reference operators (SURVEY.md §2.1 S22/S23/S25):

- Parquet write (``lambdas/fetch_data/fetch_data.py:75-77``)
- Hive-partitioned object-store layout
  ``cnpj_db/<table>/ref_date=<YYYYMMDD>/...`` (``fetch_data.py:80-83``,
  layout spec ``README.md:94-117``)
- Glue crawler catalog registration
  (``state_machines/state_machine.asl:132-139``) → Spark catalog
  external table, created once; later runs add and drop its
  ``ref_date`` partitions in place, as the crawler updates the tables
  it already holds, so the table keeps its identity across refreshes.

Scale notes: dynamic partition overwrite makes snapshot re-ingest
idempotent per ``ref_date`` (the reference blindly re-PUTs objects and
can leave mixed partial state — SURVEY.md §7.4). ``compact_partition``
rewrites a snapshot into bounded-size parquet files instead of one file
per upstream task. Files land zstd-compressed (the session's codec,
``session.build_session``).
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import PARTITION_COLUMN


def write_snapshot(
    df: DataFrame,
    table_root: str,
    ref_date: str | int,
) -> None:
    """Land one snapshot partition: ``<table_root>/ref_date=<date>/``.

    The write sets ``partitionOverwriteMode=dynamic`` itself, so only
    the written ``ref_date`` value is replaced whatever the session's
    mode — other snapshots are untouched, so a weekly incremental run is
    exactly-once per partition.
    """
    _overwrite_partition(df.withColumn(PARTITION_COLUMN, F.lit(str(ref_date))), table_root)


def _overwrite_partition(out: DataFrame, table_root: str) -> None:
    # per-write option: a session in Spark's default static mode would
    # otherwise delete every other ref_date under table_root
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(PARTITION_COLUMN)
        .parquet(table_root)
    )


def _sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal (backslash escapes)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def register_table(
    spark: SparkSession,
    name: str,
    table_root: str,
    database: str = "default",
) -> None:
    """Register the ``ref_date``-partitioned parquet directory as an
    external table and bring its partitions up to date — the crawler's
    job (``state_machine.asl:132-139``) done natively.

    A table already registered at ``table_root`` keeps its identity, as
    the crawler's tables do: the ``ref_date=`` directories are diffed
    against the catalog's partitions, new ones are added, removed ones
    dropped, and the cached file listing is refreshed. That is catalog
    work only, with no Spark job at any history length.

    An absent table, one registered at another location, or one that
    carries ``analyze_table`` statistics (which a new snapshot makes
    stale) is dropped and re-created instead: the schema (including the
    partition column) is inferred from the parquet footers and directory
    layout, like the crawler — Spark 4 requires either a full explicit
    column list or none with ``PARTITIONED BY``, so both are omitted —
    and the partitions are recovered.
    """
    table = f"{database}.{name}"
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    root = jvm_path(table_root)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    # the session catalog's own metadata: DESCRIBE TABLE EXTENDED says the
    # same at ~30 ms a call, as much as the rest of the in-place path
    state = spark._jsparkSession.sessionState()
    ident = state.sqlParser().parseTableIdentifier(table)
    if state.catalog().tableExists(ident):
        meta = state.catalog().getTableMetadata(ident)
        if jvm_path(meta.location()).equals(fs.makeQualified(root)) and meta.stats().isEmpty():
            _sync_partitions(spark, name, database, fs, root)
            return
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} USING PARQUET LOCATION {_sql_string(table_root)}")
    spark.sql(f"MSCK REPAIR TABLE {table}")


def _sync_partitions(spark: SparkSession, name: str, database: str, fs, root) -> None:
    # the effect of MSCK REPAIR ... SYNC PARTITIONS, which re-lists every
    # partition and submits a Spark job once the table has more than ten
    table = f"{database}.{name}"
    prefix = f"{PARTITION_COLUMN}="
    dirs = (s.getPath().getName() for s in fs.listStatus(root) if s.isDirectory())
    on_disk = {d[len(prefix):] for d in dirs if d.startswith(prefix)}
    listed = set(list_partitions(spark, name, database))

    def spec(value: str) -> str:
        return f"PARTITION ({PARTITION_COLUMN} = {_sql_string(value)})"

    if on_disk - listed:
        spark.sql(f"ALTER TABLE {table} ADD IF NOT EXISTS " + " ".join(map(spec, on_disk - listed)))
    if listed - on_disk:
        spark.sql(f"ALTER TABLE {table} DROP IF EXISTS " + ", ".join(map(spec, listed - on_disk)))
    # an overwritten partition keeps its directory but not its files
    spark.catalog.refreshTable(table)


def compact_partition(
    spark: SparkSession,
    table_root: str,
    ref_date: str,
    target_files: int = 1,
    cluster_by: list[str] | None = None,
) -> int:
    """Rewrite one snapshot partition into ``target_files`` parquet
    files. Small-file compaction is the maintenance op a weekly
    incremental sink needs at scale (thousands of per-task files →
    bounded, scan-efficient objects). Uses an overwrite of just the one
    partition directory. Returns the row count rewritten.

    ``cluster_by`` keeps (or establishes) range clustering through the
    rewrite — plain round-robin repartition would destroy the narrow
    per-file min/max bands a ``write_clustered`` snapshot relies on for
    row-group pruning, so clustered tables must compact with the same
    keys."""
    part_path = f"{table_root}/{PARTITION_COLUMN}={ref_date}"
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    fs = jvm_path(table_root).getFileSystem(spark._jsc.hadoopConfiguration())
    old_path = f"{table_root}/.compact_old_{ref_date}"

    def rename(src: str, dst: str) -> None:
        # Hadoop reports a failed rename by returning false, not by raising
        if not fs.rename(jvm_path(src), jvm_path(dst)):
            raise OSError(f"rename {src} -> {dst} failed")

    if not fs.exists(jvm_path(part_path)) and fs.exists(jvm_path(old_path)):
        # a crash between the two renames below left the partition only
        # in the aside, which readers skip (dot-directory): restore it
        rename(old_path, part_path)
    df = spark.read.parquet(part_path)
    n = df.count()
    if cluster_by:
        compacted = df.repartitionByRange(target_files, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    else:
        compacted = df.repartition(target_files)
    tmp_path = f"{table_root}/.compact_tmp_{ref_date}"
    compacted.write.mode("overwrite").parquet(tmp_path)
    # crash-safe swap via filesystem renames (atomic on HDFS/local;
    # object stores would use a manifest commit instead): move the live
    # partition ASIDE first, install the compacted copy, then delete
    # the aside — every intermediate state retains one full copy, so a
    # crash mid-swap never loses the partition (the next call renames
    # .compact_old_<date> back when the live directory is missing).
    fs.delete(jvm_path(old_path), True)  # leftover aside from a prior crash
    rename(part_path, old_path)
    rename(tmp_path, part_path)
    fs.delete(jvm_path(old_path), True)
    return n


def write_clustered(
    df: DataFrame,
    table_root: str,
    ref_date: str | int,
    cluster_by: list[str],
    files_per_partition: int = 8,
) -> None:
    """Range-cluster a snapshot on ``cluster_by`` before writing:
    repartitionByRange + sortWithinPartitions gives every parquet file
    a narrow min/max band on the cluster keys, so row-group statistics
    prune point/range scans (the Z-order-lite that plain parquet
    supports). Replaces only the ``ref_date`` partition it writes, as
    ``write_snapshot`` does."""
    out = (
        df.repartitionByRange(files_per_partition, *cluster_by)
        .sortWithinPartitions(*cluster_by)
        .withColumn(PARTITION_COLUMN, F.lit(str(ref_date)))
    )
    _overwrite_partition(out, table_root)


def analyze_table(
    spark: SparkSession, name: str, columns: list[str] | None = None, database: str = "default"
) -> dict[str, str]:
    """Collect table + column statistics for Catalyst's cost-based
    optimizer — the engine's form of the crawler-collected
    recordCount/sizeKey/averageRecordSize stats
    (``lambdas/check_update/check_update.py:133-144``). Returns the
    recorded statistics line for inspection."""
    spark.sql(f"ANALYZE TABLE {database}.{name} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {database}.{name} COMPUTE STATISTICS FOR COLUMNS {cols}")
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {database}.{name}").collect()
    return {r.col_name: r.data_type for r in rows if r.col_name == "Statistics"}


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    buckets: int = 32,
    sort_by: str | None = None,
) -> None:
    """Bucketed managed table: pre-shuffles once at write so every later
    join/agg on ``key`` is co-located — no Exchange in the plan
    (SURVEY.md §7.4 / guide's bucketing row; the pattern for fact-fact
    joins repeated across a 100 TB warehouse's workload)."""
    writer = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.format("parquet").saveAsTable(name)


def list_partitions(spark: SparkSession, name: str, database: str = "default") -> list[str]:
    """``SHOW PARTITIONS`` → list of ``ref_date`` values (S13,
    ``state_machine.asl:43-55``)."""
    rows = spark.sql(f"SHOW PARTITIONS {database}.{name}").collect()
    return sorted(r[0].split("=", 1)[1] for r in rows)


def latest_partition(spark: SparkSession, name: str, database: str = "default") -> int | None:
    """True max over partition values — the *intended* semantics of the
    reference's freshness check (``lambdas/download_test/lambda_function.py:6``
    takes ``partitionValues[0]`` relying on service ordering; intent per
    ``README.md:222`` is the max — SURVEY.md §2.1 S14). Values that are
    not integers (a stray ``ref_date=oops`` directory) are skipped."""
    return max_int(list_partitions(spark, name, database))


_INT_TEXT = re.compile(r"[+-]?[0-9]+")
# what Spark trims before a string → int cast: ASCII whitespace and controls
_CAST_TRIM = "".join(map(chr, range(0x21))) + "\x7f"


def _try_int(text: str | None) -> int | None:
    """``TRY_CAST(text AS INT)``: an optionally signed run of ASCII
    digits, ASCII whitespace and controls trimmed; anything else, a
    fraction or a value outside int32 is ``None``."""
    if text is None:
        return None
    text = text.strip(_CAST_TRIM)
    if not _INT_TEXT.fullmatch(text):
        return None
    value = int(text)
    return value if -(2**31) <= value < 2**31 else None


def max_int(texts: Iterable[str | None]) -> int | None:
    """The largest of ``texts`` as ``TRY_CAST(... AS INT)`` reads them,
    skipping those it reads as null; ``None`` when none is an integer."""
    values = (_try_int(text) for text in texts)
    return max((v for v in values if v is not None), default=None)


def snapshot_diff(
    spark: SparkSession,
    name: str,
    old_ref: str | int,
    new_ref: str | int,
    key_cols: list[str],
    database: str = "default",
) -> DataFrame:
    """Time-travel diff between two ``ref_date`` snapshots of a
    catalog table: one row per changed entity with ``change ∈
    {added, removed, updated}``.

    The reference's weekly full re-uploads ARE snapshots
    (``README.md:222``); "what changed since last week" is the first
    consumption question that layout exists to answer. Both sides are
    partition-pruned scans (the ``ref_date =`` filters hit the Hive
    layout, no other snapshot is read); the diff is a single full-outer
    key join; ``updated`` compares a row-content hash of the non-key
    columns so wide tables diff without shipping both full rows to the
    driver."""
    tbl = spark.table(f"{database}.{name}")
    data_cols = [
        c for c in tbl.columns if c not in (*key_cols, PARTITION_COLUMN)
    ]
    def side(ref, tag):
        return tbl.filter(F.col(PARTITION_COLUMN) == str(ref)).select(
            *key_cols,
            F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in data_cols]).alias(f"h_{tag}"),
        )
    old, new = side(old_ref, "old"), side(new_ref, "new")
    joined = old.join(new, key_cols, "full_outer")
    change = (
        F.when(F.col("h_old").isNull(), "added")
        .when(F.col("h_new").isNull(), "removed")
        .when(F.col("h_old") != F.col("h_new"), "updated")
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*key_cols, "change")
    )


def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    effective_col: str = "effective_date",
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: history-preserving upsert
    of a dimension snapshot (the warehouse consumption feature the
    reference's weekly full re-uploads approximate by overwriting —
    this keeps every version queryable).

    ``current`` rows carry ``valid_from`` / ``valid_to`` (NULL = open);
    ``updates`` carries the new attribute values with their effective
    date. Semantics: an open row whose attribute CONTENT HASH differs
    from its update closes at the effective date and a new open row
    begins there; brand-new keys open a first row; unchanged rows and
    already-closed history pass through untouched.

    Plan shape: ONE key-partitioned join of open rows × updates decides
    everything (closed history is a pass-through union, no join); the
    attribute comparison is an xxhash64 of the attr columns, so wide
    dimensions compare without shipping both attribute sets through the
    plan twice."""
    attr_hash = F.xxhash64(
        *[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in attr_cols]
    )
    closed = current.filter(F.col("valid_to").isNotNull())
    open_rows = current.filter(F.col("valid_to").isNull())

    u = updates.select(
        *key_cols,
        *[F.col(c).alias(f"__new_{c}") for c in attr_cols],
        F.col(effective_col).alias("__eff"),
        F.xxhash64(
            *[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in attr_cols]
        ).alias("__new_hash"),
    )
    joined = open_rows.withColumn("__hash", attr_hash).join(u, key_cols, "full_outer")

    unchanged_or_no_update = joined.filter(
        F.col("__eff").isNull() | (F.col("__hash") == F.col("__new_hash"))
    ).select(*key_cols, *attr_cols, "valid_from", "valid_to")

    closing = joined.filter(
        F.col("__hash").isNotNull()
        & F.col("__eff").isNotNull()
        & (F.col("__hash") != F.col("__new_hash"))
    )
    closed_now = closing.select(
        *key_cols, *attr_cols, "valid_from", F.col("__eff").alias("valid_to")
    )
    opened_now = joined.filter(
        F.col("__eff").isNotNull()
        & (F.col("__hash").isNull() | (F.col("__hash") != F.col("__new_hash")))
    ).select(
        *key_cols,
        *[F.col(f"__new_{c}").alias(c) for c in attr_cols],
        F.col("__eff").alias("valid_from"),
        F.lit(None).cast(current.schema["valid_to"].dataType).alias("valid_to"),
    )
    return closed.unionByName(unchanged_or_no_update).unionByName(
        closed_now
    ).unionByName(opened_now)
