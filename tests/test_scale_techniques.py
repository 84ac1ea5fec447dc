"""Scale techniques: salted join equivalence, the persisted IVF index,
partition pruning visibility."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aws_etl_dados_publicos_cnpj_spark.operators import load_table
from aws_etl_dados_publicos_cnpj_spark.operators.skew import salted_join
from aws_etl_dados_publicos_cnpj_spark.session import local_cpus

from conftest import SF_SMALL


def test_salted_join_equals_plain_join(spark):
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
    orders = orders.withColumnRenamed("o_orderkey", "l_orderkey")
    plain = li.join(orders, "l_orderkey").groupBy().agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    salted = salted_join(li, orders, "l_orderkey", buckets=4).groupBy().agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    assert (plain.n, plain.s) == (salted.n, salted.s)


def test_salted_left_join_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    small = spark.createDataFrame([(1, "dim")], "k long, d string")
    out = {r.k: r.d for r in salted_join(big, small, "k", how="left").collect()}
    assert out == {1: "dim", 2: None}


def test_salted_join_balances_planted_hot_key(spark):
    """SCALE.md's skew claim, measured: with a 90%-hot key, the salted
    join's fullest shuffle partition must hold several times fewer rows
    than the unsalted join's (AQE and broadcast disabled so the raw
    hash-partitioning skew is what's observed)."""
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        hot = F.when(F.pmod(F.col("id"), 10) < 9, F.lit(0)).otherwise(
            F.pmod(F.col("id"), 1000)
        )
        big = spark.range(100_000).select(
            hot.cast("long").alias("k"), F.col("id").alias("v")
        )
        small = spark.range(1_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("d")
        )

        def max_partition_rows(joined):
            sizes = (
                joined.select(F.spark_partition_id().alias("pid"))
                .groupBy("pid")
                .count()
                .collect()
            )
            return max(r["count"] for r in sizes)

        plain_max = max_partition_rows(big.join(small, "k"))
        # buckets ≈ shuffle partitions: fewer salt values than partitions
        # leaves hash collisions (several salts per partition) visible as
        # residual imbalance
        salted_max = max_partition_rows(salted_join(big, small, "k", buckets=32))
        assert plain_max >= 90_000  # the hot key lands in one partition
        assert salted_max * 4 < plain_max  # hot key spread across salts
    finally:
        for key, val in saved.items():
            spark.conf.set(key, val)


def test_ivf_persisted_index_prunes_and_matches(spark, tmp_path):
    """The persisted IVF index: search results equal the in-plan
    ann_ivf_topk (same quantizer seed), and the assignments scan is
    partition-pruned to the probed cells only."""
    from aws_etl_dados_publicos_cnpj_spark.operators.similarity import (
        ann_ivf_search,
        ann_ivf_topk,
        build_ivf_index,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=8)
    got = ann_ivf_search(spark, idx, probes, k=5, n_probe_cells=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan
    inplan = ann_ivf_topk(emb, probes, k=5, n_cells=8, n_probe_cells=2)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in inplan.collect()
    )


def test_ivf_rebuild_at_same_path_replaces_every_cell(spark, tmp_path):
    """Rebuilding an index in place with fewer cells leaves none of the
    old build's cells behind: every corpus vector is assigned once."""
    from aws_etl_dados_publicos_cnpj_spark.operators.similarity import build_ivf_index

    emb = load_table(spark, SF_SMALL, "embeddings")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < 400), idx, n_cells=8)
    small = emb.filter(F.col("vec_id") < 100)
    build_ivf_index(small, idx, n_cells=4)
    cells = sorted(d for d in os.listdir(f"{idx}/assignments") if d.startswith("cell="))
    assert cells == [f"cell={c}" for c in range(4)]
    assert spark.read.parquet(f"{idx}/assignments").count() == small.count()
    assert spark.read.parquet(f"{idx}/centers").count() == 4


def test_partition_pruning_in_plan(spark, tmp_path):
    root = str(tmp_path / "pt")
    df = spark.range(100).withColumn("ref_date", F.when(F.col("id") < 50, "20230101").otherwise("20230201"))
    df.write.partitionBy("ref_date").parquet(root)
    scan = spark.read.parquet(root).filter(F.col("ref_date") == "20230201")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert scan.count() == 50


def test_spread_probe_is_lazy_and_shuffle_aware(spark):
    """spread()'s partition probe must never run a Spark job (df.rdd
    on an exchange-bearing plan EXECUTES it eagerly under AQE — r7
    review finding): scan-shaped under-split frames widen, frames
    downstream of a shuffle return UNCHANGED, and neither launches a
    job at build time."""
    from pyspark.sql import functions as F

    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import spread

    scan = spark.createDataFrame([(i, f"t{i}") for i in range(10)], "id long, t string")
    agg = scan.groupBy("t").agg(F.count("*").alias("c"))
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    widened = spread(scan)
    unchanged = spread(agg)
    after = len(tracker.getJobIdsForGroup(None))
    assert after == before, "spread() launched a job at build time"
    assert unchanged is agg, "shuffle-shaped frame must pass through untouched"
    assert widened.rdd.getNumPartitions() >= min(
        32, spark.sparkContext.defaultParallelism
    )


def test_spread_guard_ignores_tokens_inside_expressions(spark, tmp_path):
    """The shuffle guard matches node NAMES at plan-tree line starts,
    not raw substrings (r7 advice): a column named 'Join' or a string
    literal containing 'Sort' renders inside Project/Filter brackets
    and must NOT make spread() skip the rebalance."""
    from pyspark.sql import functions as F

    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import spread

    root = str(tmp_path / "tokens")
    spark.range(10).withColumnRenamed("id", "Join").coalesce(1).write.parquet(root)
    scan = (
        spark.read.parquet(root)
        .withColumn("note", F.lit("Sort by Window GlobalLimit"))
        .filter(F.col("Join") >= 0)
    )
    assert scan.rdd.getNumPartitions() == 1  # genuinely under-split
    plan = scan._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan and "Sort" in plan  # tokens DO appear mid-line
    widened = spread(scan)
    assert widened is not scan, "guard false-positived on expression text"
    assert widened.rdd.getNumPartitions() >= min(
        32, spark.sparkContext.defaultParallelism
    )

    # And real shuffle nodes still short-circuit.
    agg = scan.groupBy("note").agg(F.count("*").alias("c"))
    assert spread(agg) is agg


def test_local_cores_follow_env_then_affinity(spark, monkeypatch):
    """``local[N]`` is ``$SPARK_GRAFT_CPUS`` when set and otherwise the
    cores the process may run on, never a fixed guess; checked against
    the live session and by resolving the count, not by starting a
    second session."""
    assert spark.sparkContext.master == f"local[{local_cpus()}]"
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3
