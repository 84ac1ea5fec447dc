"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM (``local[N]``); the same config block is what
we would ship to a 1000-executor cluster — AQE handles runtime
re-planning (partition coalescing, skew-join splitting), and UTC session
time keeps timestamp semantics engine-independent. Snapshot writes need
no session conf: the sink commits each ``ref_date`` itself
(``sources/sink.py``), in place of the reference's blind S3 PutObject
(``lambdas/fetch_data/fetch_data.py:80-83``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores for ``local[N]``: ``$SPARK_GRAFT_CPUS`` if set, else the
    cores this process may run on (its affinity mask, not the host's
    count, so a pinned or container-limited run sizes to what it has)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def build_session(
    app_name: str = "aws_etl_dados_publicos_cnpj_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's standard conf.

    The conf choices and their 100 TB rationale:

    - ``spark.sql.adaptive.*`` — AQE re-plans joins/partitions at
      runtime; on the real cluster this converts sort-merge joins to
      broadcast when a post-filter side shrinks, and splits skewed
      shuffle partitions.
    - ``spark.sql.session.timeZone=UTC`` — deterministic timestamp
      semantics (and DuckDB-oracle comparability).
    - ``spark.sql.parquet.compression.codec=zstd`` — every Parquet
      writer lands zstd instead of Spark's default snappy: about a
      third fewer bytes for object storage to keep and for per-byte
      scanners (Athena) to read.
    - ``spark.sql.parquet.filterPushdown`` + vectorized reader are on
      by default; we leave them on explicitly so a misconfigured
      cluster profile can't silently disable them.

    Without ``master`` the session runs ``local[local_cpus()]``, and
    without ``shuffle_partitions`` it shuffles into as many partitions.
    """
    cpus = local_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # ref_date partition values stay strings, matching the reference's
        # catalog schema (check_update.py:145-150); without this the parquet
        # reader re-infers them as ints
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd (default level 3, dictionary encoding left on): the CNPJ
        # refresh lands 0.172 Parquet bytes per CSV byte against
        # snappy's 0.258 (0.205 vs 0.310 on the two-week warehouse) with
        # no more write-task CPU; zstd without dictionaries measured
        # 0.185, lz4_raw 0.267, and gzip matched zstd's size at 1.6x the
        # write-task CPU (perfbench, 4 cores)
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # file-split floor: the 4 MiB default makes a 10 MB single-file
        # table scan as 3 partitions (and smaller tables as 1),
        # serializing scan-fused stages on a single core. 512 KiB
        # splits small tables across cores (q01 0.55→0.35 s at sf0.1).
        # SCALE-SAFE: maxSplitBytes = min(maxPartitionBytes,
        # max(openCost, bytesPerCore)) — on a 100 TB scan bytesPerCore
        # is GBs, so the floor never binds and splits stay 128 MiB.
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
