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

Every snapshot lands through one commit, ``write_snapshot``: the
rows are written to a staging directory, then swapped in for the live
``ref_date=<date>/`` by filesystem renames, so re-ingesting a date
replaces that snapshot and no other, and a crash at any step leaves one
full copy that the next commit restores (the reference blindly re-PUTs
objects and can leave mixed partial state — SURVEY.md §7.4).
``compact_partition`` rewrites a snapshot into bounded-size parquet
files instead of one file per upstream task. Files land zstd-compressed
(the session's codec, ``session.build_session``).
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import PARTITION_COLUMN


def _rename(fs, src, dst) -> None:
    # Hadoop reports a failed rename by returning false, not by raising
    if not fs.rename(src, dst):
        raise OSError(f"rename {src} -> {dst} failed")


def write_snapshot(df: DataFrame, table_root: str, ref_date: str | int) -> None:
    """Land one snapshot: replace ``<table_root>/ref_date=<date>/`` with
    ``df``'s rows and leave every other snapshot untouched, so a weekly
    incremental run is exactly-once per partition.

    ``df`` is written as plain Parquet into ``.stage_<date>``; the live
    partition is then renamed aside to ``.aside_<date>``, the stage
    renamed into its place, and the aside deleted. Readers and partition
    discovery skip dot-directories, and every intermediate state keeps
    one full copy: a crash between the two renames leaves the old rows
    in the aside, which the next write of that date renames back first.
    A write job that fails deletes its stage and leaves the live
    partition as it was. (Spark's own partition overwrite deletes the
    live directory before it renames the new one in.) A rename is atomic
    on HDFS and local disks but not on object stores, where neither this
    nor Spark's ``FileOutputCommitter`` is a single atomic step."""
    fs, live, stage, aside = _snapshot_dirs(df.sparkSession, table_root, ref_date)
    # the partition value is the directory name, never a data column; no
    # _SUCCESS marker: the live partition holds only data files, as a
    # partitioned write lands them
    try:
        (
            df.drop(PARTITION_COLUMN)
            .write.mode("overwrite")
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
            .parquet(stage.toString())
        )
    except Exception:
        fs.delete(stage, True)
        raise
    fs.delete(aside, True)  # a stale aside: the live copy was restored or rewritten
    if fs.exists(live):
        _rename(fs, live, aside)
    _rename(fs, stage, live)
    fs.delete(aside, True)


def _snapshot_dirs(spark: SparkSession, table_root: str, ref_date: str | int):
    """The filesystem and the live, stage and aside paths of one
    snapshot, after renaming back a partition that a crash between the
    commit's two renames left only in the aside."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    fs = jvm_path(table_root).getFileSystem(spark._jsc.hadoopConfiguration())
    live, stage, aside = (
        jvm_path(f"{table_root}/{name}")
        for name in (f"{PARTITION_COLUMN}={ref_date}", f".stage_{ref_date}", f".aside_{ref_date}")
    )
    if not fs.exists(live) and fs.exists(aside):
        _rename(fs, aside, live)
    return fs, live, stage, aside


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
    bounded, scan-efficient objects). The rewrite lands through the
    snapshot commit, so a crash mid-swap never loses the partition.
    Returns the row count rewritten.

    ``cluster_by`` keeps (or establishes) range clustering through the
    rewrite — plain round-robin repartition would destroy the narrow
    per-file min/max bands a ``write_clustered`` snapshot relies on for
    row-group pruning, so clustered tables must compact with the same
    keys."""
    _, live, _, _ = _snapshot_dirs(spark, table_root, ref_date)
    df = spark.read.parquet(live.toString())
    n = df.count()
    if cluster_by:
        compacted = df.repartitionByRange(target_files, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    else:
        compacted = df.repartition(target_files)
    write_snapshot(compacted, table_root, ref_date)
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
    out = df.repartitionByRange(files_per_partition, *cluster_by).sortWithinPartitions(*cluster_by)
    write_snapshot(out, table_root, ref_date)


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
