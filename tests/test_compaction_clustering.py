"""The snapshot commit under crashes, compaction and range clustering."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aws_etl_dados_publicos_cnpj_spark.sources import sink
from aws_etl_dados_publicos_cnpj_spark.sources.sink import (
    compact_partition,
    register_table,
    write_clustered,
    write_snapshot,
)


def test_compact_partition_reduces_files_keeps_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.range(10_000).withColumnRenamed("id", "codigo")
    write_snapshot(df.repartition(16), root, "20230506")
    part = f"{root}/ref_date=20230506"
    assert len(glob.glob(f"{part}/*.parquet")) == 16
    n = compact_partition(spark, root, "20230506", target_files=2)
    assert n == 10_000
    assert len(glob.glob(f"{part}/*.parquet")) == 2
    back = spark.read.parquet(root)
    assert back.count() == 10_000
    assert back.agg(F.sum("codigo")).collect()[0][0] == sum(range(10_000))


def test_compact_partition_recovers_from_stale_aside(spark, tmp_path):
    """The crash-safe swap leaves a .aside dir if a prior run died
    mid-swap; the next compaction must clear it and still
    produce the right data, with no aside left behind."""
    root = str(tmp_path / "t")
    df = spark.range(1_000).withColumnRenamed("id", "codigo")
    write_snapshot(df.repartition(4), root, "20230506")
    stale = f"{root}/.aside_20230506"
    os.makedirs(stale)
    with open(f"{stale}/junk.txt", "w") as fh:
        fh.write("leftover from a crashed swap")
    n = compact_partition(spark, root, "20230506", target_files=1)
    assert n == 1_000
    assert not os.path.exists(stale)
    assert spark.read.parquet(root).count() == 1_000


def test_compact_partition_restores_partition_left_aside(spark, tmp_path):
    """A crash between the swap's two renames leaves the partition only
    in the .aside dir, which readers skip; the next commit of that date,
    a compaction or a snapshot rewrite, must rename it back, replace it,
    and leave no aside."""
    df = spark.range(1_000).withColumnRenamed("id", "codigo")
    landers = {
        "compact": lambda root: compact_partition(spark, root, "20230506", target_files=1),
        "write_snapshot": lambda root: write_snapshot(df.coalesce(1), root, "20230506"),
    }
    for name, land in landers.items():
        root = str(tmp_path / name)
        write_snapshot(df.repartition(4), root, "20230506")
        part = f"{root}/ref_date=20230506"
        aside = f"{root}/.aside_20230506"
        os.rename(part, aside)
        n = land(root)
        if name == "compact":
            assert n == 1_000
        assert not os.path.exists(aside), name
        assert len(glob.glob(f"{part}/*.parquet")) == 1, name
        back = spark.read.parquet(root)
        assert back.count() == 1_000, name
        assert back.agg(F.sum("codigo")).collect()[0][0] == sum(range(1_000)), name


def test_crash_between_swap_renames_keeps_old_rows_aside(spark, tmp_path, monkeypatch):
    """A commit that dies after moving the live snapshot aside, before
    renaming the stage in, leaves the old rows in the aside; the next
    write of that date lands the new rows, leaves no stage or aside, and
    never touches the sibling snapshot."""
    root = str(tmp_path / "t")
    old = spark.range(100).withColumnRenamed("id", "codigo")
    new = spark.range(100, 130).withColumnRenamed("id", "codigo")
    write_snapshot(old, root, "20230506")
    write_snapshot(old, root, "20230610")
    sibling = sorted(os.listdir(f"{root}/ref_date=20230610"))
    renames = []
    real_rename = sink._rename

    def crash_on_second(fs, src, dst):
        renames.append((src.getName(), dst.getName()))
        if len(renames) == 2:
            raise OSError("crash between the swap's renames")
        real_rename(fs, src, dst)

    monkeypatch.setattr(sink, "_rename", crash_on_second)
    with pytest.raises(OSError, match="crash"):
        write_snapshot(new, root, "20230506")
    monkeypatch.undo()
    assert renames == [
        ("ref_date=20230506", ".aside_20230506"),
        (".stage_20230506", "ref_date=20230506"),
    ]
    assert not os.path.exists(f"{root}/ref_date=20230506")
    assert spark.read.parquet(f"{root}/.aside_20230506").count() == 100

    write_snapshot(new, root, "20230506")
    assert [d for d in os.listdir(root) if d.startswith(".")] == []
    assert sorted(os.listdir(f"{root}/ref_date=20230610")) == sibling
    back = spark.read.parquet(root)
    per_date = {r.ref_date: (r.n, r.lo) for r in back.groupBy("ref_date").agg(
        F.count("*").alias("n"), F.min("codigo").alias("lo")).collect()}
    assert per_date == {"20230506": (30, 100), "20230610": (100, 0)}


def test_empty_rewrite_replaces_snapshot(spark, tmp_path):
    """Re-landing a date with no rows leaves that snapshot empty, not
    holding the rows of the write before."""
    root = str(tmp_path / "t")
    df = spark.range(10).withColumnRenamed("id", "codigo")
    write_snapshot(df, root, "20230506")
    write_snapshot(df.filter(F.col("codigo") < 0), root, "20230506")
    assert spark.read.parquet(f"{root}/ref_date=20230506").count() == 0


def test_relanded_rows_take_the_new_date(spark, tmp_path):
    """Rows read back with their ``ref_date`` column land under the date
    the write names, and the files carry no ``ref_date`` column."""
    root = str(tmp_path / "t")
    write_snapshot(spark.range(10).withColumnRenamed("id", "codigo"), root, "20230506")
    write_snapshot(spark.read.parquet(root), root, "20230610")
    back = spark.read.parquet(root)
    assert {r.ref_date: r["count"] for r in back.groupBy("ref_date").count().collect()} == {
        "20230506": 10,
        "20230610": 10,
    }
    for f in glob.glob(f"{root}/ref_date=20230610/*.parquet"):
        assert pq.read_schema(f).names == ["codigo"]


def test_failed_write_job_keeps_live_snapshot(spark, tmp_path):
    """A write job that fails leaves the live snapshot in place: the
    catalog table still reads its old rows. Whether it rewrites a landed
    date or lands a new one, it leaves no stage behind."""
    root = str(tmp_path / "t")
    df = spark.range(100).withColumnRenamed("id", "codigo")
    write_snapshot(df, root, "20230506")
    spark.sql("CREATE DATABASE IF NOT EXISTS commit_crash")
    register_table(spark, "t", root, database="commit_crash")
    failing = df.withColumn(
        "codigo", F.when(F.col("codigo") >= 0, F.raise_error(F.lit("boom"))).otherwise(F.col("codigo"))
    )
    for date in ("20230506", "20230601"):
        with pytest.raises(Exception, match="boom"):
            write_snapshot(failing, root, date)
    assert sorted(os.listdir(root)) == ["ref_date=20230506"]
    back = spark.table("commit_crash.t")
    assert back.count() == 100
    assert back.agg(F.sum("codigo")).collect()[0][0] == sum(range(100))


def test_write_clustered_narrow_file_ranges(spark, tmp_path):
    root = str(tmp_path / "c")
    df = spark.range(10_000).withColumnRenamed("id", "codigo")
    write_clustered(df, root, "20230506", cluster_by=["codigo"], files_per_partition=4)
    files = sorted(glob.glob(f"{root}/ref_date=20230506/*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    # file ranges must be disjoint (each file a narrow band → stats prune)
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges
    # pruning works end-to-end: a point filter reads the right row
    got = spark.read.parquet(root).filter(F.col("codigo") == 1234).collect()
    assert len(got) == 1 and got[0].codigo == 1234
