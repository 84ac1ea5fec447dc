"""Compaction and range-clustering maintenance ops."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from aws_etl_dados_publicos_cnpj_spark.sources.sink import (
    compact_partition,
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
    """The crash-safe swap leaves a .compact_old aside dir if a prior
    run died mid-swap; the next compaction must clear it and still
    produce the right data, with no aside left behind."""
    root = str(tmp_path / "t")
    df = spark.range(1_000).withColumnRenamed("id", "codigo")
    write_snapshot(df.repartition(4), root, "20230506")
    stale = f"{root}/.compact_old_20230506"
    os.makedirs(stale)
    with open(f"{stale}/junk.txt", "w") as fh:
        fh.write("leftover from a crashed swap")
    n = compact_partition(spark, root, "20230506", target_files=1)
    assert n == 1_000
    assert not os.path.exists(stale)
    assert spark.read.parquet(root).count() == 1_000


def test_compact_partition_restores_partition_left_aside(spark, tmp_path):
    """A crash between the swap's two renames leaves the partition only
    in the .compact_old aside, which readers skip; the next compaction
    must rename it back, compact it, and leave no aside."""
    root = str(tmp_path / "t")
    df = spark.range(1_000).withColumnRenamed("id", "codigo")
    write_snapshot(df.repartition(4), root, "20230506")
    part = f"{root}/ref_date=20230506"
    aside = f"{root}/.compact_old_20230506"
    os.rename(part, aside)
    n = compact_partition(spark, root, "20230506", target_files=1)
    assert n == 1_000
    assert not os.path.exists(aside)
    assert len(glob.glob(f"{part}/*.parquet")) == 1
    back = spark.read.parquet(root)
    assert back.count() == 1_000
    assert back.agg(F.sum("codigo")).collect()[0][0] == sum(range(1_000))


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
