"""Registered queries — reference-surface operators (SURVEY §2) as
query/oracle pairs over the fixture tables.

Each ``@register`` block names the SURVEY §2 operators it covers.  The Spark
side is the idiomatic DataFrame plan built from ``operators``/``functions``;
the ``sql`` string is the ANSI equivalent DuckDB runs as the oracle.  Column
names/aliases are kept identical on both sides (driver hashes columns sorted
by name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.score import (
    dispatch_score_rank_sql,
    dispatch_score_sql,
    record_score_rank_sql,
    record_score_sql,
)
from ..operators import parse as P
from ..operators.enrich import geo_chain, municipality_norm_sql
from ..operators.windows import (
    latest_per_key,
    qsum_col,
    qsum_merge_col,
    qsum_partial_col,
    tumbling_agg,
)
from ..sources.batch import load_table
from ..streaming.jobs import PROTO_EXPR
from .registry import (
    SALT_BUCKETS,
    qsum,
    qsum_salted_inner,
    qsum_salted_outer,
    register,
)

# --------------------------------------------------------------------------
# Flagship: TPC-H-Q1-shaped pricing summary (A6 grouped aggregation surface;
# the OLAP that the reference delegates to ClickHouse after landing).
# --------------------------------------------------------------------------

_CUTOFF = "2000-12-01 00:00:00"


# Whole-corpus rollup into a handful of groups -> two-level salted exact
# sum (registry.qsum_salted_*): the salted inner stage keeps >99.9% of rows
# on the codegen-primitive long path, the tiny outer stage re-sums partials
# in overflow-proof DECIMAL — exact past 100 TB, unlike a single-level
# BIGINT sum (overflows ~sf200) or a DECIMAL accumulator (4.7x slower
# on the aggregation alone, 3.4x on the query end-to-end).
_PS_TERMS = {
    "sum_qty": "l_quantity",
    "sum_base_price": "l_extendedprice",
    "sum_disc_price": "l_extendedprice * (1.0 - l_discount)",
    "sum_charge": "l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)",
    "sum_disc": "l_discount",
}
_PS_INNER = ",\n    ".join(
    qsum_salted_inner(e, f"p_{a}") for a, e in _PS_TERMS.items()
)
_PS_OUTER = ",\n  ".join(
    qsum_salted_outer(f"p_{a}", a) for a in _PS_TERMS if a != "sum_disc"
)


@register(
    "pricing_summary",
    sql=f"""
SELECT l_returnflag, l_linestatus,
  {_PS_OUTER},
  {qsum_salted_outer("p_sum_qty")} / SUM(n) AS avg_qty,
  {qsum_salted_outer("p_sum_base_price")} / SUM(n) AS avg_price,
  {qsum_salted_outer("p_sum_disc")} / SUM(n) AS avg_disc,
  CAST(SUM(n) AS BIGINT) AS count_order
FROM (
  SELECT l_returnflag, l_linestatus, l_orderkey % {SALT_BUCKETS} AS salt,
    {_PS_INNER},
    COUNT(*) AS n
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '{_CUTOFF}'
  GROUP BY 1, 2, 3
)
GROUP BY l_returnflag, l_linestatus
""",
    doc="A6/§2.10 — grouped numeric aggregation with two-level salted exact "
    "sums (long partials per salt, decimal re-sum; exact past 100 TB — see "
    "registry.qsum_salted_outer)",
    headline=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(F.col("l_shipdate") <= F.lit(_CUTOFF).cast("timestamp"))
    inner = f.groupBy(
        "l_returnflag",
        "l_linestatus",
        (F.col("l_orderkey") % SALT_BUCKETS).alias("salt"),
    ).agg(
        *[
            qsum_partial_col(F.expr(e)).alias(f"p_{a}")
            for a, e in _PS_TERMS.items()
        ],
        F.count(F.lit(1)).alias("n"),
    )
    n = F.sum("n")
    return inner.groupBy("l_returnflag", "l_linestatus").agg(
        qsum_merge_col("p_sum_qty").alias("sum_qty"),
        qsum_merge_col("p_sum_base_price").alias("sum_base_price"),
        qsum_merge_col("p_sum_disc_price").alias("sum_disc_price"),
        qsum_merge_col("p_sum_charge").alias("sum_charge"),
        (qsum_merge_col("p_sum_qty") / n).alias("avg_qty"),
        (qsum_merge_col("p_sum_base_price") / n).alias("avg_price"),
        (qsum_merge_col("p_sum_disc") / n).alias("avg_disc"),
        n.alias("count_order"),
    )


# --------------------------------------------------------------------------
# Perceived-quality scoring (Q1-Q4) — compiled expression on both engines.
# --------------------------------------------------------------------------

_PING_MAP = {"rtt": "l_quantity * 10.0", "lost_rate": "l_discount"}
# Oracle text = portable CASE chain; engine side = bit-identical rank/gather
# form that whole-stage-codegens without the janino 64 KB overflow.
_PING_SQL = record_score_sql("PING", _PING_MAP)
_PING_SQL_ENGINE = record_score_rank_sql("PING", _PING_MAP)


@register(
    "score_ping",
    sql=f"""
SELECT l_orderkey, l_linenumber, {_PING_SQL} AS score
FROM lineitem
""",
    doc="Q1-Q4 — PING criteria piecewise-linear weighted score "
    "(operator driver-gated via score_all_protocols)",
    headline=True,
    tier=2,
)
def score_ping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", F.expr(_PING_SQL_ENGINE).alias("score"))


# Protocol dispatch over a stream-shaped table, with outlier coverage
# (value-100 goes negative -> '<=:0' outlier -> record scores 0).
_DISPATCH_MAPS = {
    "PING": {"rtt": "value * 12.0", "lost_rate": "value / 500.0"},
    "HTTP": {
        "dns_cost": "value / 5.0",
        "conn_cost": "value",
        "text_cost": "value * 10.0",
        "avg_speed": "value * 2.0",
    },
    "GAME": {"tcp_delay": "value", "rtt": "value - 100.0", "conn_cost": "value"},
    "SPEED": {},
}
_DISPATCH_SQL = dispatch_score_sql(PROTO_EXPR, _DISPATCH_MAPS)
_DISPATCH_SQL_ENGINE = dispatch_score_rank_sql(PROTO_EXPR, _DISPATCH_MAPS)


# --------------------------------------------------------------------------
# Parse / validate (P1/P2/P4)
# --------------------------------------------------------------------------


@register(
    "parse_validate",
    sql="""
SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k
FROM events
WHERE event_type IS NOT NULL AND user_id IS NOT NULL
  AND CAST(props->>'$.k' AS BIGINT) IS NOT NULL
""",
    doc="P1/P2/P4 — JSON parse against explicit schema + required-field filter",
)
def parse_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = P.parse_props(P.validate(ev, ["event_type", "user_id"]))
    return parsed.filter(F.col("props_s.k").isNotNull()).select(
        "event_id", F.col("props_s.k").alias("k")
    )


# --------------------------------------------------------------------------
# Windowed aggregation (W1/R3) — 10 s tumbling by event_type
# --------------------------------------------------------------------------


@register(
    "tumbling_window_10s",
    sql=f"""
SELECT
  make_timestamp(CAST(floor(epoch(ts) / 10) * 10 AS BIGINT) * 1000000) AS w_start,
  event_type,
  COUNT(*) AS cnt,
  {qsum("value", "sum_value")},
  {qsum("value")} / COUNT(*) AS avg_value
FROM events
GROUP BY 1, 2
""",
    doc="W1+R3 — 10 s tumbling event-time window keyed by type "
    "(keyBy(taskTypeName) + TumblingProcessingTimeWindows upgraded to event time)",
    headline=True,
)
def tumbling_window_10s(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnt = F.count(F.lit(1))
    out = tumbling_agg(
        ev,
        "ts",
        ["event_type"],
        [
            cnt.alias("cnt"),
            qsum_col("value").alias("sum_value"),
            (qsum_col("value") / cnt).alias("avg_value"),
        ],
    )
    return out.select("w_start", "event_type", "cnt", "sum_value", "avg_value")


# --------------------------------------------------------------------------
# Last-write-wins dedup (A5)
# --------------------------------------------------------------------------


@register(
    "dedup_last_write_wins",
    sql="""
SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) = 1
""",
    doc="A5 — ReplacingMergeTree(create_time) last-write-wins dedup on the "
    "composite key",
)
def dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return latest_per_key(
        ev, ["user_id", "event_type"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).select("user_id", "event_type", "event_id", "ts", "value")


# --------------------------------------------------------------------------
# Dimension enrichment (J1-J4)
# --------------------------------------------------------------------------


_RAW_CODE = (
    "CASE WHEN user_id % 7 = 0 THEN 110000 WHEN user_id % 7 = 1 THEN 120000 "
    "WHEN user_id % 7 = 2 THEN 310000 WHEN user_id % 7 = 3 THEN 500000 "
    "ELSE 130000 + (user_id % 20) * 100 END"
)
_DISTRICT = "CASE WHEN user_id % 2 = 0 THEN NULL ELSE n_name END"


@register(
    "enrich_events",
    sql=f"""
SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, n.n_name, r.r_name,
  dp.c_mktsegment AS default_port_status,
  {municipality_norm_sql(f"({_RAW_CODE})", f"({_DISTRICT})")} AS region_code
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 2 = 0) dp
  ON e.user_id = dp.c_custkey
""",
    doc="J1-J5 — broadcast left equi-joins to the dim hierarchy "
    "(probe/task dims + geo reverse-lookup chain analogue), the J5 "
    "filtered-dim default-port lookup (InfoLoader.java:61-85), and the "
    "municipality region-code special case (IPHelper.java:117-125)",
    headline=True,
)
def enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    dim = geo_chain(cust, nat, reg)
    port_dim = cust.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("dp_custkey"),
        F.col("c_mktsegment").alias("default_port_status"),
    )
    joined = ev.join(F.broadcast(dim), ev["user_id"] == dim["c_custkey"], "left").join(
        F.broadcast(port_dim), ev["user_id"] == port_dim["dp_custkey"], "left"
    )
    return joined.select(
        "event_id",
        "user_id",
        "c_name",
        "c_mktsegment",
        "n_name",
        "r_name",
        "default_port_status",
        F.expr(municipality_norm_sql(f"({_RAW_CODE})", f"({_DISTRICT})")).alias(
            "region_code"
        ),
    )


# --------------------------------------------------------------------------
# Flagship: the ConsoleTaskDataMain lifecycle (SURVEY §3.1) end-to-end —
# parse -> validate (P2) -> broadcast dim enrich (J1) -> protocol dispatch
# (R3) -> compiled PQ score (Q1-Q4) -> 10 s tumbling window agg (W1).
# --------------------------------------------------------------------------

_FACT_ORACLE = f"""
WITH enriched AS (
  SELECT e.ts, e.user_id, e.value, c.c_mktsegment,
         {PROTO_EXPR} AS protocol,
         {_DISPATCH_SQL} AS score
  FROM events e
  LEFT JOIN customer c ON e.user_id = c.c_custkey
  WHERE e.event_type IS NOT NULL AND e.user_id IS NOT NULL
)
SELECT
  make_timestamp(CAST(floor(epoch(ts) / 10) * 10 AS BIGINT) * 1000000) AS w_start,
  protocol,
  c_mktsegment,
  COUNT(*) AS cnt,
  {qsum("score", "sum_score")},
  {qsum("score")} / COUNT(*) AS avg_score
FROM enriched
GROUP BY 1, 2, 3
"""


@register(
    "nqs_fact_pipeline",
    sql=_FACT_ORACLE,
    doc="Flagship §3.1 lifecycle: validate -> broadcast enrich -> dispatch "
    "score -> 10 s tumbling window aggregation",
    headline=True,
)
def nqs_fact_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import fact_transform

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return fact_transform(ev, cust, _DISPATCH_SQL_ENGINE)
