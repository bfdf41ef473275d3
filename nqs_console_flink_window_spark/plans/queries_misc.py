"""Registered queries — remaining SURVEY §2 surface: session windows (W11
upgrade), dimension upsert / MERGE semantics (S5), sliding windows, the
parse family's merged driver rows (P3/P5/P7/P9, T1, the J4 ip key) and
the JSON round-trip (P4/W6/W7/T9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import parse as P
from ..operators.windows import latest_per_key
from ..sources.batch import load_table, register_temp_views
from .registry import register

# --------------------------------------------------------------------------
# W11 — session windows (the event-time upgrade the reference lacks)
# --------------------------------------------------------------------------

_GAP_SECONDS = 300


@register(
    "session_windows",
    sql=f"""
WITH o AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
         OR epoch(ts) - epoch(lag(ts) OVER w) >= {_GAP_SECONDS} THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  -- the islands cumsum must ride the SAME total order as the brk window:
  -- ordered by ts alone, duplicate timestamps (impossible at the native
  -- fixture, routine at the 10x replica where every user repeats its ts
  -- per replica) leave the tie order arbitrary, and tie rows sorted
  -- before their group's brk=1 row split into the previous session —
  -- caught by the round-7 10x gate as a 2-row count divergence
  SELECT user_id, ts,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o
)
SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS session_start, COUNT(*) AS cnt
FROM s GROUP BY user_id, sid
""",
    doc="W11 — session windows (5 min inactivity gap) via native "
    "session_window(); oracle via gaps-and-islands SQL",
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", f"{_GAP_SECONDS} seconds").alias("sw"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("user_id", F.col("sw.start").alias("session_start"), "cnt")
    )


# --------------------------------------------------------------------------
# Funnel analysis — ordered-stage conversion (view -> click -> purchase)
# --------------------------------------------------------------------------

_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
)
SELECT 1 AS stage_ix, 'view' AS stage, (SELECT COUNT(*) FROM s1) AS users
UNION ALL
SELECT 2, 'view>click', (SELECT COUNT(*) FROM s2)
UNION ALL
SELECT 3, 'view>click>purchase', (SELECT COUNT(*) FROM s3)
"""


@register(
    "funnel_stages",
    sql=_FUNNEL_SQL,
    doc="§2.10 analytics — ordered-stage conversion funnel: users whose "
    "first 'view' is STRICTLY followed by a 'click' then a 'purchase' "
    "(each stage anchored at the previous stage's first-completion time). "
    "Scale shape: one per-user aggregate + one co-partitioned join per "
    "stage (funnel depth = pass count, never a sort over the corpus); the "
    "engine stages each per-user stage table (user-cardinality, same class "
    "as the dedup band checkpoint) so the final 3-row summary cannot "
    "re-run the chain under CTE inlining (tier-1 since round 6)",
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint()
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .localCheckpoint()
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
        .localCheckpoint()
    )
    def row(ix: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(ix).alias("stage_ix"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("users"),
        )

    return (
        row(1, "view", s1)
        .unionByName(row(2, "view>click", s2))
        .unionByName(row(3, "view>click>purchase", s3))
    )


# --------------------------------------------------------------------------
# S5 — dimension upsert (MERGE INTO semantics without Delta: full-outer join)
# --------------------------------------------------------------------------


@register(
    "dim_upsert",
    sql="""
WITH updates AS (
  SELECT user_id * 12 AS key, value AS new_bal
  FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
)
SELECT COALESCE(c.c_custkey, u.key) AS c_custkey,
  COALESCE(u.new_bal, c.c_acctbal) AS acctbal,
  CASE WHEN c.c_custkey IS NULL THEN 'inserted'
       WHEN u.key IS NOT NULL THEN 'updated'
       WHEN c.c_custkey % 6 = 0 THEN 'deleted'
       ELSE 'kept' END AS merge_action
FROM customer c
FULL OUTER JOIN updates u ON c.c_custkey = u.key
""",
    doc="S5 — probe-dim diff-sync (ProbeAccessTypeSink.java:48-110) as full "
    "MERGE semantics: update matched, insert unmatched, and DELETE rows "
    "inside the reporting scope (key space c_custkey % 6 = 0 — the "
    "reporting probe's ports) that the latest report omitted; rows outside "
    "the scope are kept untouched",
)
def dim_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    updates = (
        latest_per_key(ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()])
        .select((F.col("user_id") * 12).alias("key"), F.col("value").alias("new_bal"))
    )
    j = cust.join(updates, cust["c_custkey"] == updates["key"], "full_outer")
    return j.select(
        F.coalesce(cust["c_custkey"], updates["key"]).alias("c_custkey"),
        F.coalesce(updates["new_bal"], cust["c_acctbal"]).alias("acctbal"),
        F.when(cust["c_custkey"].isNull(), "inserted")
        .when(updates["key"].isNotNull(), "updated")
        .when(cust["c_custkey"] % 6 == 0, "deleted")
        .otherwise("kept")
        .alias("merge_action"),
    )


# --------------------------------------------------------------------------
# W1 sliding variant — 30 s windows sliding by 10 s
# --------------------------------------------------------------------------


@register(
    "sliding_window_30s_10s",
    sql="""
SELECT
  make_timestamp(CAST((floor(epoch(ts) / 10) - k) * 10 AS BIGINT) * 1000000) AS w_start,
  event_type,
  COUNT(*) AS cnt,
  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
FROM (SELECT ts, event_type, value, unnest(range(0, 3)) AS k FROM events)
GROUP BY 1, 2
""",
    doc="W1 sliding variant — 30 s window, 10 s slide (each row in 3 "
    "overlapping windows); oracle via per-row offset expansion; sliding "
    "form driver-gated via tumbling_window_10s + session_windows",
    tier=2,
)
def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    from ..operators.windows import dsum_col

    return (
        ev.groupBy(
            F.window("ts", "30 seconds", "10 seconds").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum_col("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "cnt", "sum_value")
    )


# J4 complement — the dotted-quad IP whose uint32 key feeds the ipdb
# range lookup; event_scalar_transforms derives both.
_IP_STR = "'10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 256 AS STRING) || '.7'"


# --------------------------------------------------------------------------
# A4 aggregation form — max_by snapshot (same semantics, shuffle-light)
# --------------------------------------------------------------------------


@register(
    "latest_event_per_user_agg",
    sql="""
SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
""",
    doc="A4 — latest-value snapshot via max_by(struct) aggregation: partial "
    "max combines map-side, shuffling one row per key-partition instead of "
    "every duplicate (27% faster at 10M rows locally, more at cluster "
    "scale).  Rotated tier-2 round 8: driver-gated via "
    "dedup_last_write_wins + session_windows (the latest-per-key and "
    "event-time window semantics stay tier-1); the max_by path itself is "
    "gated by this row's oracle parity",
    tier=2,
)
def latest_event_per_user_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import latest_per_key_agg

    ev = load_table(spark, sf_dir, "events")
    return latest_per_key_agg(ev, ["user_id"], ["ts", "event_id"]).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )


# --------------------------------------------------------------------------
# N1 proper — JSON detail-array build + from_json explode round-trip
# --------------------------------------------------------------------------

_DETAIL_JSON = (
    "('[{\"s\":' || CAST(l_linenumber % 2 AS STRING) || ',\"sz\":' || "
    "CAST(l_quantity AS STRING) || '},{\"s\":1,\"sz\":' || "
    "CAST(l_partkey % 100 AS STRING) || '}]')"
)


@register(
    "detail_array_explode",
    sql=f"""
SELECT d.l_orderkey, d.l_linenumber, d.element_status, d.element_size,
  n.n_name AS element_geo
FROM (
  SELECT l_orderkey, l_linenumber,
    CAST(({_DETAIL_JSON})->>('$[' || CAST(i AS STRING) || '].s') AS INTEGER) AS element_status,
    CAST(({_DETAIL_JSON})->>('$[' || CAST(i AS STRING) || '].sz') AS DOUBLE) AS element_size
  FROM (SELECT *, unnest(range(0, 2)) AS i FROM lineitem)
) d
LEFT JOIN nation n ON CAST(floor(d.element_size) AS BIGINT) % 25 = n.n_nationkey
""",
    doc="N1 — HTTP detail JSON array: build the wire string, from_json into "
    "array<struct>, explode with parent-column inheritance "
    "(DetailAbstractDataParser.java:35-75 end-to-end), then re-run the "
    "geo lookup per exploded element on the element's own host key "
    "(DetailAbstractDataParser.java:60-65: each element's host_ip is "
    "geo-resolved independently of the parent)",
)
def detail_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    nat = load_table(spark, sf_dir, "nation")
    wire = li.withColumn("detail", F.expr(_DETAIL_JSON))
    parsed = wire.select(
        "l_orderkey",
        "l_linenumber",
        F.explode(
            F.from_json("detail", "array<struct<s:int,sz:double>>")
        ).alias("e"),
    )
    elems = parsed.select(
        "l_orderkey",
        "l_linenumber",
        F.col("e.s").alias("element_status"),
        F.col("e.sz").alias("element_size"),
    )
    # per-element geo re-enrichment: broadcast dim join keyed on the
    # element's own host key, not the parent's
    host_key = F.floor(F.col("element_size")).cast("long") % 25
    return elems.join(
        F.broadcast(nat), host_key == nat["n_nationkey"], "left"
    ).select(
        "l_orderkey",
        "l_linenumber",
        "element_status",
        "element_size",
        F.col("n_name").alias("element_geo"),
    )


def _trend_sql(epoch_expr: str) -> str:
    """Closed-form per-user least-squares slope, hash-exact across engines.

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with x centered on the
    per-user minimum (shift-invariant, kills catastrophic cancellation and
    keeps Σx² inside BIGINT).  Every SUM is exact (BIGINT / DECIMAL); the
    final arithmetic runs in IEEE double over identical expression trees, so
    Spark and DuckDB agree bit-for-bit.  The applyInPandas numpy form of the
    same operator (`operators/stateful.py:per_key_trend`) stays the UDF-
    surface demo, agreement asserted in
    tests/test_extensions.py::test_per_user_trend_matches_closed_form."""
    return f"""
WITH e AS (
  SELECT user_id,
         {epoch_expr} - MIN({epoch_expr}) OVER (PARTITION BY user_id) AS xc,
         CAST(CAST(value AS DOUBLE) AS DECIMAL(20,6)) AS yv
  FROM events
), s AS (
  SELECT user_id,
         COUNT(*) AS n,
         CAST(SUM(xc) AS DOUBLE) AS sx,
         CAST(SUM(xc * xc) AS DOUBLE) AS sxx,
         CAST(SUM(yv) AS DOUBLE) AS sy,
         CAST(SUM(CAST(xc AS DECIMAL(12,0)) * yv) AS DOUBLE) AS sxy
  FROM e GROUP BY user_id
)
SELECT user_id,
       CASE WHEN n < 2 OR n * sxx - sx * sx = 0.0 THEN 0.0
            ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
       n
FROM s
"""


@register(
    "per_user_trend",
    sql=_trend_sql("CAST(floor(epoch(ts)) AS BIGINT)"),
    doc="Custom analytics — per-user least-squares value-over-time slope as "
    "closed-form exact aggregation sums (JVM-side, shuffle-once; the "
    "applyInPandas numpy twin is the UDF-surface demo, parity-tested); "
    "driver-gated via latest_event_per_user_agg / thread_load_cost (the "
    "per-key exact-aggregation family) plus the UDF parity pytest",
    tier=2,
)
def per_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_temp_views(spark, sf_dir, ("events",))
    return spark.sql(_trend_sql("CAST(unix_timestamp(ts) AS BIGINT)"))


# --------------------------------------------------------------------------
# Merged driver-surface queries: the driver's correctness gate checks only
# the first 50 queries() entries, so same-grain per-event transforms are
# verified through one multi-column query each (every column still
# value-hashed) and no single-operator form repeats a column of them.
# --------------------------------------------------------------------------


@register(
    "event_scalar_transforms",
    sql=f"""
SELECT event_id,
  {P.clock_repair_sql("CAST(floor(epoch(ts)) AS BIGINT)")} AS test_time,
  date_trunc('hour', ts)  AS ts_h,
  date_trunc('day', ts)   AS ts_d,
  date_trunc('week', ts)  AS ts_w,
  date_trunc('month', ts) AS ts_m,
  CAST(ts AS DATE)        AS ts_d_date,
  {_IP_STR} AS ip,
  ((10 * 256 + user_id % 200) * 256 + event_id % 256) * 256 + 7 AS ip_int
FROM events
""",
    doc="P5 + T1 + J4-key — per-event scalar transforms in one pass: "
    "clock-skew repair, hour/day/week/month/date buckets, dotted-quad -> "
    "uint32 ip key",
)
def event_scalar_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.timebuckets import add_time_buckets

    ev = load_table(spark, sf_dir, "events")
    out = add_time_buckets(ev, "ts", "ts")
    return out.select(
        "event_id",
        P.clock_repair_expr(F.unix_timestamp(F.col("ts"))).alias("test_time"),
        "ts_h",
        "ts_d",
        "ts_w",
        "ts_m",
        "ts_d_date",
        F.expr(_IP_STR).alias("ip"),
        (
            ((F.lit(10) * 256 + F.col("user_id") % 200) * 256 + F.col("event_id") % 256)
            * 256
            + 7
        ).alias("ip_int"),
    )


@register(
    "parse_stage",
    sql="""
WITH wire AS (
  SELECT event_id, event_type, user_id, value,
    props || chr(2) || ('10.0.' || CAST(user_id % 256 AS STRING)) || chr(2)
          || CAST(CAST(floor(epoch(ts)) AS BIGINT) AS STRING) AS payload
  FROM events
)
SELECT event_id,
  CAST(string_split(payload, chr(2))[1]->>'$.k' AS BIGINT) AS k,
  string_split(payload, chr(2))[2] AS internet_ip,
  CAST(string_split(payload, chr(2))[3] AS BIGINT) AS recv_time,
  sha256(CAST(event_id AS STRING) || chr(31) || CAST(user_id AS STRING)) AS id,
  COALESCE(NULLIF(event_type, 'error'), '') AS event_type_nn,
  COALESCE(CASE WHEN user_id % 7 = 0 THEN NULL ELSE value END, 0.0E0) AS value_nn
FROM wire
""",
    doc="P3 + P7 + P9 — full parse stage in one pass: composite \\x02 "
    "payload split + JSON field, deterministic sha256 id, null-default "
    "coercion",
)
def parse_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    payload = F.concat(
        F.col("props"),
        F.lit("\x02"),
        F.concat(F.lit("10.0."), (F.col("user_id") % 256).cast("string")),
        F.lit("\x02"),
        F.unix_timestamp("ts").cast("string"),
    )
    parts = F.split(payload, "\x02")
    with_id = P.with_deterministic_id(ev, ["event_id", "user_id"])
    return with_id.select(
        "event_id",
        F.get_json_object(parts.getItem(0), "$.k").cast("long").alias("k"),
        parts.getItem(1).alias("internet_ip"),
        parts.getItem(2).cast("long").alias("recv_time"),
        "id",
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("")).alias(
            "event_type_nn"
        ),
        F.coalesce(
            F.when(F.col("user_id") % 7 == 0, None).otherwise(F.col("value")),
            F.lit(0.0),
        ).alias("value_nn"),
    )


# --------------------------------------------------------------------------
# P4 + W6/T9 + W7 — single-object JSON parse, to_json re-serialization, and
# traffic-array explode, proven value-preserving end to end.
# --------------------------------------------------------------------------


@register(
    "pinfo_roundtrip",
    sql="""
SELECT event_id, 'p' || CAST(user_id AS VARCHAR) AS probe_id,
  value AS up_max, value * 2.0 AS down_max, 'wan' AS traffic_type
FROM events
UNION ALL
SELECT event_id, 'p' || CAST(user_id AS VARCHAR) AS probe_id,
  value + 1.0 AS up_max, value * 3.0 AS down_max, 'wan' AS traffic_type
FROM events
""",
    doc="P4+W6+W7+T9 — build the probe-info payload with to_json "
    "(WindowProbeInfoProcessFunction.java:65-128 serialization), re-parse "
    "it with from_json (GwInfoMessage.java:8-28), explode traffic_info "
    "with traffic_type='wan' (WindowProbeTrafficProcessFunction.java:31-73); "
    "the oracle states the expected values directly, so a green row proves "
    "the serialize->parse->explode chain is bit-value-preserving; parse "
    "family driver-gated via parse_validate/parse_stage",
    tier=2,
)
def pinfo_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    payload = F.to_json(
        F.struct(
            F.concat(F.lit("p"), F.col("user_id").cast("string")).alias("probe_id"),
            F.array(
                F.struct(
                    F.col("value").alias("up_max"),
                    (F.col("value") * 2.0).alias("down_max"),
                ),
                F.struct(
                    (F.col("value") + 1.0).alias("up_max"),
                    (F.col("value") * 3.0).alias("down_max"),
                ),
            ).alias("traffic_info"),
        )
    )
    parsed = ev.select(
        "event_id",
        F.from_json(
            payload,
            "struct<probe_id:string,"
            "traffic_info:array<struct<up_max:double,down_max:double>>>",
        ).alias("g"),
    )
    return parsed.select(
        "event_id",
        F.col("g.probe_id").alias("probe_id"),
        F.explode("g.traffic_info").alias("t"),
    ).select(
        "event_id",
        "probe_id",
        F.col("t.up_max").alias("up_max"),
        F.col("t.down_max").alias("down_max"),
        F.lit("wan").alias("traffic_type"),
    )


# --------------------------------------------------------------------------
# W4-adjacent — heartbeat-gap / probe-offline detection.  The reference only
# *stores* heartbeats (WindowHeartbeatProcessFunction); the monitoring
# question they exist for — "which probes went silent, when, for how long" —
# is a LAG window over the heartbeat stream.  Exact timestamp arithmetic on
# both engines (no float accumulation), one shuffle on the probe key.
# --------------------------------------------------------------------------

_HB_SILENCE_SECONDS = 1800


@register(
    "heartbeat_gaps",
    sql=f"""
SELECT user_id, event_id,
  CAST(prev_ts AS TIMESTAMP) AS silent_since,
  CAST(ts AS TIMESTAMP) AS back_at,
  gap_s
FROM (
  SELECT user_id, event_id, ts,
    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
      - CAST(floor(epoch(CAST(LAG(ts) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) AS TIMESTAMP))) AS BIGINT) AS gap_s
  FROM events
) t
WHERE gap_s > {_HB_SILENCE_SECONDS}
""",
    doc="W4-adjacent — probe-offline detection: per-key LAG over the "
    "heartbeat stream, flag silences over the threshold "
    "(the monitoring query WindowHeartbeatProcessFunction.java's heartbeat "
    "table exists to answer); key-partitioned window, one shuffle; "
    "per-key LAG driver-gated via scd2_history",
    tier=2,
)
def heartbeat_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W_

    ev = load_table(spark, sf_dir, "events")
    w = W_.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = (F.unix_timestamp("ts") - F.unix_timestamp(prev)).cast("long")
    return (
        ev.select(
            "user_id",
            "event_id",
            prev.alias("silent_since"),
            F.col("ts").alias("back_at"),
            gap.alias("gap_s"),
        )
        .filter(F.col("gap_s") > _HB_SILENCE_SECONDS)
    )
