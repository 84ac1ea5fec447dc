"""Behavioral / product analytics over the event stream — funnel
conversion, retention cohorts, and volume-anomaly scoring.

The reference's consumption story is "analysts query the partitioned
parquet" (``README.md:64-66``); its `events`-shaped analog in the driver
corpus is the clickstream table, and these are the three queries every
clickstream consumer runs first. All three are pure DataFrame
compositions (no UDFs) with DuckDB oracles.

Scale shapes:

- funnel: stage-type filter at the scan, ONE shuffle by ``user_id``,
  chained window minima (constant per-row state — skew-safe), and a
  per-user aggregate that reuses the window's partitioning; the final
  stage counts are one scalar aggregate exploded to rows.
- retention: one distinct-activity shuffle + one first-seen aggregate,
  joined on ``user_id`` (both sides already partitioned by it), then a
  low-cardinality (cohort, offset) count.
- anomaly: pre-aggregate to (type, hour) — tiny — then window stats
  over event_type partitions of that AGGREGATE, never over raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import load_table

FUNNEL_STAGES = ["signup", "click", "purchase"]


def funnel(events: DataFrame, stages: list[str] | None = None) -> DataFrame:
    """Ordered-funnel conversion: a user reaches stage *k* iff they have
    an event of type ``stages[k]`` strictly AFTER their stage *k-1*
    entry time. Returns one row per stage with the surviving user count.

    One scan, one shuffle (by ``user_id``), chained per-user window
    minima with constant per-row state — no per-user lists, so a bot
    with millions of events cannot blow an aggregation buffer.
    """
    stages = stages or FUNNEL_STAGES
    # r13 (guide §2.4/§2.3): ONE scan + ONE per-user pass instead of a
    # per-stage filter→join→aggregate chain. r14 (guide §2.5 skew +
    # §2.3): the r13 form collected every stage-k timestamp into a
    # per-user sorted list inside the aggregation buffer — unbounded
    # state under a hot user/bot (millions of events in ONE buffer).
    # Now stage entries chain through per-user window minima with
    # CONSTANT per-row state: e1 = min ts of stage-1 events; e_k =
    # min(ts where type = stage_k AND ts > e_{k-1}) over the same
    # user partition (consecutive windows share one exchange + sort;
    # nulls propagate exactly like the join chain: no prior entry, or
    # no later event, means no entry — sf-equality and the edge-case
    # test pin it). Rows of non-stage types contribute to no e_k, so
    # they are filtered BEFORE the shuffle (40% fewer bytes at sf0.1,
    # and an In(event_type) predicate reaches the scan); the final
    # groupBy(user_id) rides the window's partitioning unexchanged.
    w = Window.partitionBy("user_id")
    df = events.filter(F.col("event_type").isin(stages)).withColumn(
        "e1", F.min(F.when(F.col("event_type") == stages[0], F.col("ts"))).over(w)
    )
    for i, stage in enumerate(stages[1:], start=2):
        df = df.withColumn(
            f"e{i}",
            F.min(
                F.when(
                    (F.col("event_type") == stage) & (F.col("ts") > F.col(f"e{i-1}")),
                    F.col("ts"),
                )
            ).over(w),
        )
    per_user = df.groupBy("user_id").agg(
        *[F.min(f"e{i}").alias(f"e{i}") for i in range(1, len(stages) + 1)]
    )
    counts = per_user.agg(
        *[
            F.count(f"e{i}").alias(f"c{i}")
            for i in range(1, len(stages) + 1)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(stage).alias("stage"),
                F.lit(i).alias("stage_ord"),
                F.col(f"c{i}").alias("users"),
            )
            for i, stage in enumerate(stages, start=1)
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select(
        "r.stage", "r.stage_ord", "r.users"
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Classic N-day retention: cohort = a user's first active date;
    for each (cohort, day-offset) count the distinct users active that
    day. Both the first-seen aggregate and the distinct-activity set
    hash-partition on ``user_id``, so the join between them is
    co-partitioned; the final (cohort, offset) aggregate is tiny."""
    first_seen = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_date")
    )
    activity = events.select("user_id", F.to_date("ts").alias("active_date")).distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff("active_date", "cohort_date").alias("day_offset"),
        )
        .agg(F.count("*").alias("active_users"))
    )


def volume_anomaly(events: DataFrame, round_to: int = 4) -> DataFrame:
    """Per-type hourly volume z-scores: aggregate to (event_type, hour)
    counts, then score each hour against its type's mean/stddev with a
    window over the pre-aggregated (small) frame. The raw table is
    touched exactly once."""
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("event_type")
    z = (F.col("n_events") - F.avg("n_events").over(w)) / F.stddev_samp(
        "n_events"
    ).over(w)
    return hourly.withColumn("z_score", F.round(z, round_to))


def dedup_events_window(events: DataFrame, slot_minutes: int = 10) -> DataFrame:
    """Keep the FIRST event per (user, type, tumbling slot) — the classic
    client-retry / double-fire scrub — and report how many the slot
    absorbed. One shuffle; both the keeper rank and the slot count come
    from the same window partitioning."""
    hour = F.date_trunc("hour", "ts")
    slot = F.floor(F.minute("ts") / slot_minutes).cast("int")
    base = events.withColumn("hour", hour).withColumn("slot", slot)
    grp = ["user_id", "event_type", "hour", "slot"]
    w = Window.partitionBy(*grp).orderBy("ts", "event_id")
    return (
        base.withColumn("rn", F.row_number().over(w))
        .withColumn("n_events", F.count("*").over(Window.partitionBy(*grp)))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "hour",
            "slot",
            F.col("event_id").alias("kept_event_id"),
            "n_events",
        )
    )


# --- driver-contract query forms -------------------------------------------


def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel(load_table(spark, sf_dir, "events"))


ORACLE_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS entered_at FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS entered_at
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.entered_at
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS entered_at
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.entered_at
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT 'signup' AS stage, 1 AS stage_ord, count(*) AS users FROM s1
UNION ALL
SELECT 'click', 2, count(*) FROM s2
UNION ALL
SELECT 'purchase', 3, count(*) FROM s3
"""


def retention_cohorts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cohort_date as ISO string in the query form only: DuckDB DATE
    # arrives in pandas as Timestamp, Spark's as date — same value,
    # different repr, so the driver hash needs a common projection.
    return retention_cohorts(load_table(spark, sf_dir, "events")).withColumn(
        "cohort_date", F.date_format("cohort_date", "yyyy-MM-dd")
    )


ORACLE_RETENTION = """
WITH first_seen AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_date FROM events
)
SELECT strftime(cohort_date, '%Y-%m-%d') AS cohort_date,
       CAST(datediff('day', cohort_date, active_date) AS INT) AS day_offset,
       count(*) AS active_users
FROM activity JOIN first_seen USING (user_id)
GROUP BY cohort_date, day_offset
"""


def volume_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return volume_anomaly(load_table(spark, sf_dir, "events"))


ORACLE_ANOMALY = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n_events
  FROM events GROUP BY event_type, hour
)
SELECT event_type, hour, n_events,
       round((n_events - avg(n_events) OVER (PARTITION BY event_type))
             / stddev_samp(n_events) OVER (PARTITION BY event_type), 4) AS z_score
FROM hourly
"""


def dedup_events_window_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_events_window(load_table(spark, sf_dir, "events"))


ORACLE_DEDUP_EVENTS = """
WITH base AS (
  SELECT user_id, event_type, date_trunc('hour', ts) AS hour,
         CAST(floor(minute(ts) / 10) AS INT) AS slot, ts, event_id
  FROM events
),
ranked AS (
  SELECT user_id, event_type, hour, slot, event_id,
         row_number() OVER (PARTITION BY user_id, event_type, hour, slot
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id, event_type, hour, slot)
             AS n_events
  FROM base
)
SELECT user_id, event_type, hour, slot,
       event_id AS kept_event_id, n_events
FROM ranked WHERE rn = 1
"""


QUERIES = {
    "funnel_events": funnel_events,
    "retention_cohorts_events": retention_cohorts_events,
    "volume_anomaly_events": volume_anomaly_events,
    "dedup_events_window": dedup_events_window_query,
}

ORACLES = {
    "funnel_events": ORACLE_FUNNEL,
    "retention_cohorts_events": ORACLE_RETENTION,
    "volume_anomaly_events": ORACLE_ANOMALY,
    "dedup_events_window": ORACLE_DEDUP_EVENTS,
}
