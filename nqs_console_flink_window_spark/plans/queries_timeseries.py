"""Time-series operators the reference performs implicitly or that a
hypertable-style deployment needs explicitly: event-time as-of join
(point-in-time state lookup) and continuous-aggregate rollup cascades.

- ``asof_state_join``: the event-time-correct form of the reference's
  process-time mutable-dim probes (``AbstractDataParser.java`` probe/task
  lookups hit MySQL state that ``ProbeHelper`` upserts concurrently; batch
  reprocessing must instead ask "what was the state *when the event
  happened*").  See ``operators/asof.py`` for the one-shuffle union+window
  formulation.
- ``rollup_cascade``: TimescaleDB/ClickHouse-style multi-resolution
  rollup — aggregate raw events to 1-minute buckets once, then answer
  hour-level queries by re-aggregating the minute materialization.  At
  100 TB the minute rollup is ~1/600th of raw, so downstream aggregations
  read 2-3 orders of magnitude less data; exactness across the cascade is
  guaranteed by keeping the partial sums in DECIMAL (associative) until
  the final cast, per the repo-wide float discipline.
- ``funnel_conversion``: ordered multi-step sequence matching (the
  Flink-CEP / MATCH_RECOGNIZE capability class).
- ``gapfill_locf``: dense per-key time grid with carry-forward
  interpolation (time_bucket_gapfill/locf family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..sources.batch import load_table
from .registry import register

# --------------------------------------------------------------------------
# As-of join: each 'click' event sees the latest 'view' state value of the
# same user at-or-before its timestamp (NULL before the first view).
# --------------------------------------------------------------------------


@register(
    "asof_state_join",
    sql="""
WITH unioned AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ats, 0 AS tag, event_id AS tie,
         value AS uval, CAST(NULL AS BIGINT) AS fact_id,
         CAST(NULL AS DOUBLE) AS fvalue
  FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ats, 1 AS tag, 0 AS tie,
         CAST(NULL AS DOUBLE) AS uval, event_id AS fact_id, value AS fvalue
  FROM events WHERE event_type = 'click'
), carried AS (
  SELECT user_id, tag, fact_id, fvalue, ats,
    last_value(uval IGNORE NULLS) OVER w AS state_value,
    last_value(CASE WHEN tag = 0 THEN ats END IGNORE NULLS) OVER w
      AS state_ts
  FROM unioned
  WINDOW w AS (PARTITION BY user_id ORDER BY ats, tag, tie
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT fact_id AS event_id, user_id, ats AS ts, fvalue AS value,
       state_value, state_ts
FROM carried WHERE tag = 1
""",
    doc="as-of join — point-in-time state lookup (event-time-correct form "
    "of the reference's process-time MySQL dim probes, "
    "AbstractDataParser.java probe/task lookups + ProbeHelper upserts); "
    "one-shuffle union+window, operators/asof.py",
)
def asof_state_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    states = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    facts = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join(
        facts,
        states,
        key="user_id",
        ts="ts",
        value_cols=["value"],
        state_tiebreak=F.col("event_id"),
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("value_asof").alias("state_value"),
        F.col("ts_asof").alias("state_ts"),
    )


# --------------------------------------------------------------------------
# Continuous-aggregate rollup cascade: raw -> 1-minute -> 1-hour.  The
# Spark side answers the hour query FROM THE MINUTE ROLLUP; the oracle
# aggregates raw directly — equality proves the cascade is exact (decimal
# partials are associative; a double-summed cascade would drift).
# --------------------------------------------------------------------------


@register(
    "rollup_cascade",
    sql="""
SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_h,
  COUNT(*) AS cnt,
  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc="hypertable rollup cascade — hour-level answer computed by "
    "re-aggregating a 1-minute materialization (TimescaleDB continuous "
    "aggregate shape); oracle aggregates raw directly, equality proves "
    "decimal-partial exactness across the cascade; the underlying "
    "decimal-exact bucketed aggregation is driver-gated via "
    "tumbling_window_10s/pricing_summary",
    tier=2,
)
def rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    minute = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("bucket_m")
    ).agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(25,6)")).alias("dsum"),
    )
    return minute.groupBy(
        "event_type", F.date_trunc("hour", "bucket_m").alias("bucket_h")
    ).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("dsum").cast("double").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# Conversion funnel — ordered multi-step sequence matching (the Flink-CEP /
# MATCH_RECOGNIZE family, absent from the reference app but native to its
# engine).  Stage N counts users whose step-N event happened strictly after
# their step-(N-1) entry time and within the step window.  Each stage is a
# keyed min-aggregation plus a time-bounded equi-join on user_id: the
# stage side reuses its groupBy partitioning, the event side shuffles
# once per stage — shuffle volume is |events-of-type| per stage, and the
# tiny per-stage user sets broadcast under AQE.
# --------------------------------------------------------------------------

_FUNNEL_GAP_DAYS = 7


@register(
    "funnel_conversion",
    sql=f"""
WITH v AS (
  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
  FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t1
    AND CAST(e.ts AS TIMESTAMP) <= v.t1 + INTERVAL {_FUNNEL_GAP_DAYS} DAY
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t2
    AND CAST(e.ts AS TIMESTAMP) <= c.t2 + INTERVAL {_FUNNEL_GAP_DAYS} DAY
  GROUP BY e.user_id
)
SELECT 1 AS stage, 'view' AS step, COUNT(*) AS users FROM v
UNION ALL SELECT 2, 'click', COUNT(*) FROM c
UNION ALL SELECT 3, 'purchase', COUNT(*) FROM p
""",
    doc="conversion funnel view->click->purchase (ordered sequence match, "
    "7-day step windows) — the CEP/MATCH_RECOGNIZE capability class; "
    "building blocks (keyed min agg + time-bounded equi-join) driver-gated "
    "via thread_load_cost/enrich_events",
    tier=2,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    gap = F.expr(f"INTERVAL {_FUNNEL_GAP_DAYS} DAYS")

    def stage(prev: DataFrame, prev_t: str, etype: str, t: str) -> DataFrame:
        nxt = ev.filter(F.col("event_type") == etype).alias("e")
        return (
            nxt.join(prev.alias("p"), F.col("e.user_id") == F.col("p.user_id"))
            .filter(
                (F.col("e.ts") > F.col(f"p.{prev_t}"))
                & (F.col("e.ts") <= F.col(f"p.{prev_t}") + gap)
            )
            .groupBy(F.col("e.user_id").alias("user_id"))
            .agg(F.min("e.ts").alias(t))
        )

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = stage(v, "t1", "click", "t2")
    p = stage(c, "t2", "purchase", "t3")

    def count_row(df: DataFrame, stage_no: int, step: str) -> DataFrame:
        return df.agg(
            F.lit(stage_no).alias("stage"),
            F.lit(step).alias("step"),
            F.count("*").alias("users"),
        )

    return (
        count_row(v, 1, "view")
        .unionByName(count_row(c, 2, "click"))
        .unionByName(count_row(p, 3, "purchase"))
    )


# --------------------------------------------------------------------------
# Gap-fill + LOCF — time_bucket_gapfill/locf (TimescaleDB family): a dense
# hourly grid per user between their first and last event, with the hourly
# mean carried forward over empty hours.  Grid generation is sequence()+
# explode (no cross join); LOCF is the same last(ignorenulls) window the
# as-of join uses.  Grid size is bounded by span/grain per key, not |rows|².
# --------------------------------------------------------------------------


@register(
    "gapfill_locf",
    sql="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
    CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS hour_sum
  FROM events WHERE user_id < 10 GROUP BY 1, 2
), spans AS (
  SELECT user_id, MIN(h) AS hmin, MAX(h) AS hmax FROM hourly GROUP BY 1
), grid AS (
  SELECT user_id,
    unnest(range(hmin, hmax + INTERVAL 1 HOUR, INTERVAL 1 HOUR)) AS h
  FROM spans
)
SELECT g.user_id, g.h, hr.hour_sum,
  last_value(hr.hour_sum IGNORE NULLS) OVER (
    PARTITION BY g.user_id ORDER BY g.h
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM grid g LEFT JOIN hourly hr ON g.user_id = hr.user_id AND g.h = hr.h
""",
    doc="gap-fill + LOCF — dense hourly grid per key with "
    "carry-forward interpolation (time_bucket_gapfill/locf family); "
    "grid via sequence()+explode, fill via the driver-gated "
    "last(ignorenulls) window (asof_state_join); hourly agg driver-gated "
    "via tumbling_window_10s",
    tier=2,
)
def gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(F.col("value").cast("decimal(25,6)"))
        .cast("double")
        .alias("hour_sum")
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("hmin"), F.max("h").alias("hmax"))
        .select(
            "user_id",
            F.explode(
                F.sequence("hmin", "hmax", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(hourly, ["user_id", "h"], "left").select(
        "user_id",
        "h",
        "hour_sum",
        F.last("hour_sum", ignorenulls=True).over(w).alias("filled"),
    )


# --------------------------------------------------------------------------
# SCD2 dimension history: rebuild a type-2 slowly-changing dimension from
# the event log.  The reference mutates its probe/task dims in place
# (ProbeHelper upserts, S5); the warehouse-grade form keeps every version
# with a validity interval, which is also what the as-of join above
# consumes.  One shuffle on user_id — the change-detection lag, the
# validity lead, and the version row_number all share the same partition
# key, so Catalyst plans a single exchange reused by all three windows.
# --------------------------------------------------------------------------


@register(
    "scd2_history",
    sql="""
WITH ordered AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS uts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id)
           AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, uts AS valid_from, event_id
  FROM ordered WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type, valid_from,
  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id)
    AS valid_to,
  row_number() OVER (PARTITION BY user_id ORDER BY valid_from, event_id)
    AS version,
  CASE WHEN lead(valid_from) OVER (PARTITION BY user_id
                                   ORDER BY valid_from, event_id) IS NULL
       THEN 1 ELSE 0 END AS is_current
FROM changes
""",
    doc="SCD type-2 dimension history rebuilt from the event log: "
    "lag()-based change detection, lead()-based validity intervals, "
    "row_number() version stamps — the event-sourced form of the "
    "reference's in-place dim upserts (ProbeHelper/S5), and the producer "
    "of the state table asof_state_join consumes",
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(wo))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            "event_id",
        )
    )
    wv = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.row_number().over(wv).alias("version"),
        F.when(F.lead("valid_from").over(wv).isNull(), 1)
        .otherwise(0)
        .alias("is_current"),
    )


@register(
    "sessionize",
    sql="""
WITH t AS (
  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS uts
  FROM events
),
flags AS (
  SELECT user_id, event_id, event_type, uts,
    CASE WHEN lag(uts) OVER (PARTITION BY user_id ORDER BY uts, event_id)
              IS NULL
           OR uts - lag(uts) OVER (PARTITION BY user_id
                                   ORDER BY uts, event_id)
              > INTERVAL '4' HOUR
         THEN 1 ELSE 0 END AS new_sess
  FROM t
)
SELECT user_id, event_id, event_type, uts AS ts,
  CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY uts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       AS BIGINT) AS session_seq
FROM flags
""",
    doc="gap-based sessionization: assign a per-user session sequence number "
    "wherever the inter-event gap exceeds 4 h (lag flag + running sum, the "
    "session-ID-assignment dual of the session_windows aggregate); tier-2: "
    "session semantics driver-gated via session_windows",
    tier=2,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flags = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").alias("uts"),
        F.when(
            F.lag("ts").over(wo).isNull()
            | (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wo)
                > 4 * 3600 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    ws_run = Window.partitionBy("user_id").orderBy("uts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return flags.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("uts").alias("ts"),
        F.sum("new_sess").over(ws_run).cast("bigint").alias("session_seq"),
    )


_CDC_SPLIT = "TIMESTAMP '2024-01-16 00:00:00'"

_CDC_SQL = f"""
WITH base AS (
  SELECT user_id, base_value, base_ts FROM (
    SELECT user_id, value AS base_value, CAST(ts AS TIMESTAMP) AS base_ts,
      row_number() OVER (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC)
        AS rn
    FROM events WHERE CAST(ts AS TIMESTAMP) < {_CDC_SPLIT}
  ) s WHERE rn = 1
),
chg AS (
  SELECT user_id, op, chg_value, chg_ts FROM (
    SELECT user_id,
      CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      value AS chg_value, CAST(ts AS TIMESTAMP) AS chg_ts,
      row_number() OVER (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC)
        AS rn
    FROM events WHERE CAST(ts AS TIMESTAMP) >= {_CDC_SPLIT}
  ) s WHERE rn = 1
)
SELECT COALESCE(b.user_id, c.user_id) AS user_id,
  CASE WHEN c.user_id IS NULL THEN 'kept'
       WHEN c.op = 'D' THEN 'deleted'
       WHEN b.user_id IS NULL THEN 'inserted'
       ELSE 'updated' END AS merge_action,
  CASE WHEN c.user_id IS NULL THEN b.base_value
       WHEN c.op = 'D' THEN CAST(NULL AS DOUBLE)
       ELSE c.chg_value END AS value,
  CASE WHEN c.user_id IS NULL THEN b.base_ts
       ELSE c.chg_ts END AS updated_at
FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
"""


@register(
    "cdc_merge",
    sql=_CDC_SQL,
    doc="CDC MERGE INTO semantics without a table format: base snapshot "
    "(latest state before the split point) full-outer-joined with the "
    "last-write-wins compaction of the changelog after it; upserts "
    "overwrite, 'error' ops delete (tombstones kept visible with NULL "
    "value and merge_action='deleted' — a sink drops them).  One shuffle "
    "join on the merge key; at scale base and changelog bucket on "
    "user_id for a co-partitioned merge.  The batch form of what Delta "
    "MERGE/Paimon changelog compaction do natively; tier-2: join and "
    "LWW families driver-gated via dim_upsert/dedup_last_write_wins",
    tier=2,
)
def cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    return spark.sql(_CDC_SQL)
