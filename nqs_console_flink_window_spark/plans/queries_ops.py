"""Registered queries — scalar derivations (T2-T8), array/detail aggregations
(A1/A2), explode (N1), and the §2.10 relational surface (rollup, top-k, set
ops, analytic window functions, range join).

Same contract as ``queries.py``: the Spark side is the idiomatic DataFrame
plan; ``sql`` is the DuckDB oracle; aliases match by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dialect as X
from ..functions.dialect import fround as fround_
from ..operators import derive as D
from ..operators.windows import dsum_col, qsum_col
from ..sources.batch import load_table
from .registry import (
    SALT_BUCKETS,
    dsum,
    qsum,
    qsum_salted_inner,
    qsum_salted_outer,
    register,
)

# --------------------------------------------------------------------------
# T2/T3 — HTTP page metric chain on lineitem stand-in columns
# --------------------------------------------------------------------------

_HTTP_T2_MAP = {
    "page_size": "l_extendedprice",
    "trans_body_cost": "CAST(l_partkey % 7 AS DOUBLE) * 50.0",
    "dns_cost": "l_discount * 1000.0",
    "tcp_cost": "l_tax * 1000.0",
    "ssl_cost": "CAST(l_linenumber AS DOUBLE) * 10.0",
    "element_load_cost": "CAST(l_partkey % 1000 AS DOUBLE)",
    "element_total_size": "l_quantity * 100.0",
}
_HTTP_T2 = D.http_page_metrics_sql(_HTTP_T2_MAP)
_HTTP_T2_SELECT = ",\n  ".join(f"{e} AS {n}" for n, e in _HTTP_T2.items())


@register(
    "derive_http_metrics",
    sql=f"""
SELECT l_orderkey, l_linenumber,
  {_HTTP_T2_SELECT}
FROM lineitem
""",
    doc="T2/T3 — HTTP page metric chain (conn/text/first-screen/page costs, "
    "KB/s speeds, round-4, div-by-0 guards)",
)
def derive_http_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cols = [F.expr(e).alias(n) for n, e in _HTTP_T2.items()]
    return li.select("l_orderkey", "l_linenumber", *cols)


# --------------------------------------------------------------------------
# T4 — GAME metrics with reported-value fallbacks, on events stand-ins
# --------------------------------------------------------------------------

_GAME_MAP = {
    "dns_cost": "CASE WHEN user_id % 4 = 0 THEN 0.0 ELSE value / 10.0 END",
    "tcp_cost": "CASE WHEN user_id % 4 = 0 THEN 0.0 ELSE value / 20.0 END",
    "ssl_cost": "CASE WHEN user_id % 4 = 0 THEN 0.0 ELSE value / 30.0 END",
    "conn_cost": "value",
    "avg_speed": "CASE WHEN user_id % 2 = 0 THEN 0.0 ELSE value * 2.0 END",
    "download_cost": "CASE WHEN user_id % 10 = 0 THEN 0.0 ELSE value * 3.0 END",
    "size": "value * 100.0",
}
_GAME = D.game_metrics_sql(_GAME_MAP)


@register(
    "derive_game_metrics",
    sql=f"""
SELECT event_id,
  {_GAME['conn_cost']} AS conn_cost,
  {_GAME['avg_speed']} AS avg_speed
FROM events
""",
    doc="T4 — GAME conn_cost keep-reported-when-components-zero + avg_speed "
    "fallback compute",
)
def derive_game_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr(_GAME["conn_cost"]).alias("conn_cost"),
        F.expr(_GAME["avg_speed"]).alias("avg_speed"),
    )


# --------------------------------------------------------------------------
# T5/T6 — conditional rescale + status derivation on part stand-ins
# --------------------------------------------------------------------------

_PON_MODEL = (
    "CASE WHEN p_size % 5 = 0 THEN 'DT741-csf' "
    "WHEN p_size % 7 = 0 THEN 'ÿÿÿÿ' ELSE p_brand END"  # mojibake vendor code
)
_PON_SQL = D.pon_rescale_sql("p_retailprice", _PON_MODEL)
_STATUS_SQL = D.probe_status_sql("CASE WHEN p_size % 2 = 0 THEN 'connected' ELSE 'down' END")


@register(
    "derive_pon_status",
    sql=f"""
SELECT p_partkey,
  {_PON_SQL} AS rx_power,
  {_STATUS_SQL} AS status
FROM part
""",
    doc="T5 — vendor-conditional rx_power/10000 rescale; T6 — probe status "
    "derivation (connected->10 quirk preserved)",
)
def derive_pon_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.expr(_PON_SQL).alias("rx_power"),
        F.expr(_STATUS_SQL).alias("status"),
    )


# --------------------------------------------------------------------------
# T7/T8 — region-path/alias strings + IPv4 regex validity
# --------------------------------------------------------------------------

_IP_EXPR = (
    "CASE WHEN c_custkey % 3 = 0 THEN '999.300.1.2' "
    "ELSE '10.0.' || CAST(c_custkey % 256 AS STRING) || '.' || CAST(c_nationkey AS STRING) END"
)
_REGION_PATH = D.region_path_sql("n_name", "c_mktsegment", "c_name")
_ALIAS = D.register_alias_sql("n_name", "c_mktsegment", "c_name", "substr(md5(c_name), 1, 8)")


@register(
    "string_geo_ops",
    sql=f"""
SELECT c.c_custkey,
  {_REGION_PATH} AS region_path,
  {_ALIAS} AS probe_alias,
  regexp_matches({_IP_EXPR}, '{D.IPV4_REGEX}') AS ip_valid
FROM customer c
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
""",
    doc="T7 — region path + register alias concat (ProbeHelper.java:28); "
    "T8 — IPv4 dotted-quad regex validity",
)
def string_geo_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "left")
    ip = F.expr(_IP_EXPR)
    return j.select(
        "c_custkey",
        F.expr(_REGION_PATH).alias("region_path"),
        F.expr(_ALIAS).alias("probe_alias"),
        ip.rlike(D.IPV4_REGEX).alias("ip_valid"),
    )


# --------------------------------------------------------------------------
# A1 — element count/sum/rate (events rows as detail elements per user)
# --------------------------------------------------------------------------

_RATE_SQL = D.element_rate_sql("elements_success_sum", "elements_sum")


@register(
    "http_element_agg",
    sql=f"""
SELECT parent_id, elements_sum, elements_success_sum, elements_fail_sum,
  element_total_size, {_RATE_SQL} AS elements_success_rate
FROM (
  SELECT user_id AS parent_id,
    COUNT(*) AS elements_sum,
    COUNT(CASE WHEN value < 250.0 THEN 1 END) AS elements_success_sum,
    COUNT(CASE WHEN value >= 250.0 THEN 1 END) AS elements_fail_sum,
    {dsum("value", "element_total_size")}
  FROM events GROUP BY user_id
)
""",
    doc="A1 — per-parent element count/sum/success-rate "
    "(HttpDataParser.java:68-127 as explode->groupBy)",
)
def http_element_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(F.col("user_id").alias("parent_id")).agg(
        F.count(F.lit(1)).alias("elements_sum"),
        F.count(F.when(F.col("value") < 250.0, 1)).alias("elements_success_sum"),
        F.count(F.when(F.col("value") >= 250.0, 1)).alias("elements_fail_sum"),
        dsum_col("value").alias("element_total_size"),
    )
    return g.withColumn("elements_success_rate", F.expr(_RATE_SQL))


# --------------------------------------------------------------------------
# A2 — grouped-max thread cost (critical-path load time)
# --------------------------------------------------------------------------


@register(
    "thread_load_cost",
    sql="""
SELECT parent_id, MAX(thread_cost) AS element_load_cost
FROM (
  SELECT user_id AS parent_id, event_id % 3 AS thread_num,
    CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS thread_cost
  FROM events GROUP BY 1, 2
)
GROUP BY parent_id
""",
    doc="A2 — sum per (parent, thread) then max over threads "
    "(HttpDataParser.java:97-119)",
)
def thread_load_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_thread = ev.groupBy(
        F.col("user_id").alias("parent_id"),
        (F.col("event_id") % 3).alias("thread_num"),
    ).agg(dsum_col("value").alias("thread_cost"))
    return per_thread.groupBy("parent_id").agg(
        F.max("thread_cost").alias("element_load_cost")
    )


# --------------------------------------------------------------------------
# A1 via array higher-order functions (collect -> sort -> filter/transform/
# aggregate) — the reference's within-record array loop, Spark-native
# --------------------------------------------------------------------------


@register(
    "array_hof_agg",
    sql="""
SELECT user_id,
  COUNT(*) AS n_elems,
  COUNT(CASE WHEN value < 50.0 THEN 1 END) AS n_small,
  MIN(value) AS v_min,
  MAX(value) AS v_max,
  CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS sum_floor
FROM events GROUP BY user_id
""",
    doc="A1/§2.9 — array HOFs (size/filter/element_at/transform+aggregate) "
    "over collected per-key arrays; oracle via flat GROUP BY; A1 "
    "driver-gated via http_element_agg",
    tier=2,
)
def array_hof_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("value")).alias("arr")
    )
    return g.select(
        "user_id",
        F.size("arr").alias("n_elems"),
        F.size(F.filter("arr", lambda x: x < F.lit(50.0))).alias("n_small"),
        F.element_at("arr", 1).alias("v_min"),
        F.element_at("arr", -1).alias("v_max"),
        F.aggregate(
            F.transform("arr", lambda x: F.floor(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_floor"),
    )


# --------------------------------------------------------------------------
# §2.10 relational surface: top-k, set ops, analytic windows, distinct
# counts, range join
# --------------------------------------------------------------------------


@register(
    "topk_orders",
    sql="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
    doc="§2.10 — global sort + limit with deterministic tiebreak (Spark "
    "TakeOrderedAndProject; no full sort materialized); gated by this "
    "row's oracle parity plus the plan-shape pytest "
    "test_topk_avoids_global_sort",
    tier=2,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "set_ops",
    sql="""
SELECT 'intersect' AS op, nk FROM
  (SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'except' AS op, nk FROM
  (SELECT c_nationkey AS nk FROM customer EXCEPT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'union' AS op, nk FROM
  (SELECT c_nationkey AS nk FROM customer UNION SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'intersect_all' AS op, nk FROM
  (SELECT c_nationkey AS nk FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'except_all' AS op, nk FROM
  (SELECT s_nationkey AS nk FROM supplier EXCEPT ALL SELECT c_nationkey FROM customer)
""",
    doc="§2.10 — INTERSECT / EXCEPT / UNION DISTINCT plus bag-semantics "
    "INTERSECT ALL / EXCEPT ALL, one tagged branch each.  Rotated tier-2 "
    "round 8; no tier-1 row runs INTERSECT or EXCEPT, so the gate is "
    "this row's own oracle parity (test_tier2_oracle_parity)",
    tier=2,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    parts = [
        c.intersect(s).select(F.lit("intersect").alias("op"), "nk"),
        c.subtract(s).select(F.lit("except").alias("op"), "nk"),
        c.union(s).distinct().select(F.lit("union").alias("op"), "nk"),
        c.intersectAll(s).select(F.lit("intersect_all").alias("op"), "nk"),
        s.exceptAll(c).select(F.lit("except_all").alias("op"), "nk"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "window_functions",
    sql="""
SELECT event_id, user_id, value,
  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
  lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value,
  CAST(SUM(CAST(value AS DECIMAL(25,6)))
       OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS running_sum
FROM events
""",
    doc="§2.10 — analytic window functions (row_number/lag/lead/running sum); "
    "tier-2: the same function family is driver-gated via scd2_history "
    "(lag change detection + lead validity intervals + row_number versions)",
    tier=2,
)
def window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.sum(F.col("value").cast("decimal(25,6)")).over(wsum).cast("double").alias("running_sum"),
    )


@register(
    "distinct_counts",
    sql="""
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS cnt
FROM events GROUP BY event_type
""",
    doc="A6 — exact distinct aggregation; tier-2: exact COUNT(DISTINCT) "
    "driver-gated via decontaminate (per-doc distinct hit grams) and "
    "grouping_analytics",
    tier=2,
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "approx_distinct",
    # The raw HLL estimate is engine-specific (DuckDB's sketch differs), so
    # the oracled row carries the exact count plus the CLAIM the estimate
    # makes — |approx - exact| <= 4 * rsd * exact (4 sigma at rsd=0.01).
    # Spark's HLL is hash-deterministic, so a drift past the bound is a
    # real defect and fails the hash match (engine false vs oracle TRUE).
    sql="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users_exact,
       TRUE AS approx_within_4rsd
FROM events GROUP BY 1
""",
    doc="A6 — approx_count_distinct (HLL) with its error contract value-"
    "oracled: exact distinct hash-checked, the estimate checked against "
    "the 4-sigma rsd bound (previously the registry's last rows-only "
    "query); exact COUNT(DISTINCT) driver-gated via decontaminate, the "
    "HLL bound re-checked against distinct_counts by "
    "test_approx_distinct_error_bound",
    tier=2,
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users_exact"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(
                    F.col("approx").cast("double")
                    - F.col("n_users_exact").cast("double")
                )
                <= 0.04 * F.col("n_users_exact").cast("double")
            ).alias("approx_within_4rsd"),
        )
    )


@register(
    "geo_range_join",
    sql="""
SELECT e.event_id, e.value, n.n_name
FROM events e
LEFT JOIN nation n
  ON e.value >= n.n_nationkey * 20.0 AND e.value < (n.n_nationkey + 1) * 20.0
""",
    doc="J4 — ip->region range lookup as a broadcast range join "
    "(IPHelper.java:35-66 ipdb semantics on materialized ranges); "
    "operator driver-gated via enrich_events/geo_coalesce_precedence",
    tier=2,
)
def geo_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    n = load_table(spark, sf_dir, "nation")
    cond = (ev["value"] >= n["n_nationkey"] * 20.0) & (
        ev["value"] < (n["n_nationkey"] + 1) * 20.0
    )
    return ev.join(F.broadcast(n), cond, "left").select("event_id", "value", "n_name")


@register(
    "geo_range_join_bucketed",
    sql="""
SELECT e.event_id, e.value, n.n_name
FROM events e
LEFT JOIN nation n
  ON e.value >= n.n_nationkey * 20.0 AND e.value < (n.n_nationkey + 1) * 20.0
""",
    doc="J4 at 100 TB — the same ip->region range lookup planned as an EQUI "
    "hash join via fixed-width bucketing (operators/enrich.py:"
    "bucketed_range_join) instead of the BNLJ the raw range predicate "
    "forces; same oracle as geo_range_join, operator driver-gated via "
    "enrich_events/geo_coalesce_precedence",
    tier=2,
)
def geo_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.enrich import bucketed_range_join

    ev = load_table(spark, sf_dir, "events")
    n = load_table(spark, sf_dir, "nation").select(
        "n_name",
        (F.col("n_nationkey") * 20.0).alias("lo"),
        ((F.col("n_nationkey") + 1) * 20.0).alias("hi"),
    )
    j = bucketed_range_join(ev, n, "value", "lo", "hi", width=10.0)
    return j.select("event_id", "value", "n_name")


# --------------------------------------------------------------------------
# Multi-join dim chain + skew-safe aggregation (J1-J4 at TPC-H shape)
# --------------------------------------------------------------------------


@register(
    "revenue_by_region",
    # Whole-corpus revenue into ~25 groups: two-level salted exact sum (the
    # same 100 TB-proof shape as pricing_summary — long partials per
    # (group, salt), decimal re-sum of the tiny partial set).
    sql=f"""
SELECT r_name, n_name,
  {qsum_salted_outer("p_rev", "revenue")},
  CAST(SUM(pn) AS BIGINT) AS n_items
FROM (
  SELECT r.r_name, n.n_name, l.l_orderkey % {SALT_BUCKETS} AS salt,
    {qsum_salted_inner("l.l_extendedprice * (1.0 - l.l_discount)", "p_rev")},
    COUNT(*) AS pn
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2, 3
)
GROUP BY r_name, n_name
""",
    doc="J1-J4/A6 — 5-table dim-chain join with grouped revenue (the full "
    "enrichment lifecycle at TPC-H shape; dims broadcast, facts never shuffle "
    "before the final aggregate; two-level salted exact revenue sum)",
    headline=True,
)
def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import qsum_merge_col, qsum_partial_col

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # Broadcast only the true dims (customer/nation/region); the orders-derived
    # side is fact-scale (billions of rows at 100 TB) and must stay a shuffled
    # join on l_orderkey — AQE picks the physical strategy.
    dim = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("o_orderkey", "n_name", "r_name")
    )
    j = li.join(dim, li["l_orderkey"] == dim["o_orderkey"])
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    inner = j.groupBy(
        "r_name", "n_name", (F.col("l_orderkey") % SALT_BUCKETS).alias("salt")
    ).agg(
        qsum_partial_col(revenue).alias("p_rev"),
        F.count(F.lit(1)).alias("pn"),
    )
    return inner.groupBy("r_name", "n_name").agg(
        qsum_merge_col("p_rev").alias("revenue"),
        F.sum("pn").alias("n_items"),
    )


@register(
    "salted_agg",
    # Oracle is the single-level qsum — value-identical to the operator's
    # two-level salted form because the quantized-long sum is associative.
    sql=f"""
SELECT event_type,
  {qsum("value", "sum_value")},
  COUNT(*) AS cnt
FROM events GROUP BY event_type
""",
    doc="Skew playbook — two-phase salted aggregation over a hot key "
    "(keyBy(taskTypeName) shape, ConsoleTaskDataMain.java:81); result "
    "identical to the direct groupBy (long partials per salt, decimal "
    "merge); driver-gated via revenue_by_region (same two-level salted "
    "exact-sum engine on the driver surface)",
    tier=2,
)
def salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_sum_count

    ev = load_table(spark, sf_dir, "events")
    return salted_sum_count(ev, ["event_type"], "value")


@register(
    "top_customers",
    sql=f"""
SELECT c.c_custkey, c.c_name,
  {qsum("l.l_extendedprice * (1.0 - l.l_discount)", "revenue")}
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY c.c_custkey, c.c_name
ORDER BY revenue DESC, c_custkey
LIMIT 10
""",
    doc="§2.10/A6/J1 — join + grouped revenue + deterministic top-k "
    "(TPC-H Q3 shape); top-k driver-gated via bm25_multi / "
    "hybrid_dense_sparse_multi, "
    "plan shape guarded by test_fact_side_joins_are_not_broadcast",
    tier=2,
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    # orders is fact-scale — no broadcast hint; shuffled join on l_orderkey.
    # customer is a true dim, safe to broadcast.
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
    )
    # Per-customer groups are bounded (one customer's lifetime revenue stays
    # far under the qsum domain bound even at 100 TB), so the single-level
    # quantized sum is safe here — no salted two-level needed.
    return (
        j.groupBy("c_custkey", "c_name")
        .agg(qsum_col(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(10)
    )


@register(
    "percentiles",
    sql="""
SELECT event_type,
  quantile_cont(value, 0.5) AS p50,
  quantile_cont(value, 0.95) AS p95
FROM events GROUP BY event_type
""",
    doc="A6/§2.10 — exact interpolated percentiles per key (the latency-"
    "quantile OLAP the reference delegates to ClickHouse); driver-gated "
    "via histogram_quantiles (the same A6 quantile surface, now the "
    "driver-visible scale form)",
    tier=2,
)
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )


from ..operators import sketches as SK  # noqa: E402


@register(
    "histogram_quantiles",
    sql=SK.histogram_quantiles_sql("duck"),
    headline=True,  # LLM-family bench coverage since round 6
    doc="A6/§2.10 at 100 TB — two-pass fixed-bin histogram quantiles "
    "(p50/p90/p99 per key): pass 1 aggregates (min,max,count), pass 2 "
    "buckets into 4096 equal-width bins and reads the quantile off the "
    "cumulative histogram (mid-bin rule; the selected rank's order "
    "statistic lies within half a bin width — pytest- and "
    "hypothesis-bounded).  No per-key sort, state <= 4096 "
    "longs per key, mergeable — the scale path beside the exact-sort "
    "`percentiles`; deterministic IEEE arithmetic, so unlike engine-native "
    "approx_percentile sketches it is value-oracled (tier-1 since round "
    "6; the exact-sort `percentiles` form is the tier-2 twin)",
)
def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return SK.histogram_quantiles_df(ev)


@register(
    "robust_outlier_bounds",
    sql=SK.robust_outlier_bounds_sql("duck"),
    doc="Extension at 100 TB — robust per-key outlier bounds for corpus "
    "cleaning: center = histogram median, spread = histogram p90 of "
    "absolute deviations (the quantile analogue of MAD — mean/stddev would "
    "let the outliers set their own trim threshold), bounds med +- "
    "3*spread with kept/trimmed counts.  Composes histogram_quantiles "
    "twice, so sort-free / bounded-state / deterministic-IEEE end-to-end "
    "and value-oracled.  Rotated tier-2 round 7: driver-gated via "
    "histogram_quantiles / psi_drift (the same hq histogram fragments on "
    "the driver surface)",
    tier=2,
)
def robust_outlier_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Same finiteness contract as the oracle SQL (hq_finite): NULL, NaN AND
    # +-inf are all excluded — an isnan()-only filter would keep +-inf rows
    # engine-side and silently diverge kept/trimmed counts from the oracle.
    fin = SK.hq_finite("value")
    # Tiny per-key intermediates (median, spread) are checkpointed — each
    # feeds 2+ downstream references; the final plan stays inspectable.
    med = (
        SK.histogram_quantiles_df(ev)
        .select(F.col("event_type").alias("mk"), F.col("p50").alias("med"))
        .localCheckpoint()
    )
    devs = (
        ev.filter(fin)
        .join(F.broadcast(med), F.col("event_type") == F.col("mk"))
        .select("event_type", F.expr("ABS(value - med)").alias("value"))
    )
    dev = (
        SK.histogram_quantiles_df(devs)
        .select(F.col("event_type").alias("dk"), F.col("p90").alias("spread"))
        .localCheckpoint()
    )
    j = (
        ev.filter(fin)
        .join(F.broadcast(med), F.col("event_type") == F.col("mk"))
        .join(F.broadcast(dev), F.col("event_type") == F.col("dk"))
    )
    k = "3.0E0"
    return j.groupBy(
        "event_type",
        F.expr(f"med - {k} * spread").alias("lo_bound"),
        F.expr(f"med + {k} * spread").alias("hi_bound"),
    ).agg(
        F.expr(
            f"CAST(SUM(CASE WHEN value >= med - {k} * spread "
            f"AND value <= med + {k} * spread THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("kept"),
        F.expr(
            f"CAST(SUM(CASE WHEN value < med - {k} * spread "
            f"OR value > med + {k} * spread THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("trimmed"),
    )


@register(
    "psi_drift",
    sql=SK.psi_drift_sql("duck"),
    doc="Extension at 100 TB — Population Stability Index between two "
    "deterministic cohorts per key over fixed-domain histograms (+1 "
    "Laplace smoothing, 64 bins): the drift monitor the mergeable "
    "histogram landings feed in production.  ln only at integer args, "
    "quantized to micro-nats (qln_micro), PSI accumulated as exact BIGINT "
    "nano-units — value-oracled.  Rotated tier-2 round 8: driver-gated "
    "via histogram_quantiles (the fixed-bin mergeable-histogram machinery "
    "and qln_micro discipline stay tier-1)",
    tier=2,
)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return SK.psi_drift_df(ev)


_EXISTS_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE o_totalprice > (SELECT AVG(o2.o_totalprice) FROM orders o2
                      WHERE o2.o_custkey = o.o_custkey)
  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
              AND l.l_returnflag = 'R')
"""


@register(
    "exists_subquery",
    sql=_EXISTS_SQL,
    doc="§2.10 — correlated scalar subquery + EXISTS semi-join "
    "(decorrelated by Catalyst into aggregate + joins); the decorrelation "
    "is gated by this row's own oracle parity (test_tier2_oracle_parity); "
    "the left-semi join it rewrites into is driver-gated via "
    "incremental_embedding_dedup_batches",
    tier=2,
)
def exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.batch import register_temp_views

    register_temp_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(_EXISTS_SQL)


@register(
    "pivot_counts",
    sql="""
SELECT user_id % 10 AS user_bucket,
  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
FROM events GROUP BY 1
""",
    doc="§2.10 — pivot (long->wide conditional aggregation); driver-gated "
    "via grouping_analytics / fanout_counts (same conditional-aggregation "
    "surface)",
    tier=2,
)
def pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = (
        ev.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", kinds)
        .count()
    )
    # pivot yields nullable longs where a bucket lacks a type; count semantics = 0
    for k in kinds:
        out = out.withColumn(k, F.coalesce(F.col(k), F.lit(0)))
    return out


@register(
    "geo_coalesce_precedence",
    sql="""
SELECT e.event_id,
  COALESCE(n.n_name, c.c_mktsegment, 'unknown') AS province_name
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
LEFT JOIN nation n
  ON c.c_nationkey = n.n_nationkey AND e.user_id % 3 = 0
""",
    doc="J4 — geo overwrite-if-present precedence: ip-geo result wins over "
    "task-host default (coalesce(geo.province, task.host_province); "
    "IPHelper applied at AbstractDataParser.java:90-95); driver-gated via "
    "enrich_events (the J4 chain incl. coalesce precedence on the driver "
    "surface)",
    tier=2,
)
def geo_coalesce_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = ev.join(F.broadcast(c), ev["user_id"] == c["c_custkey"], "left").join(
        F.broadcast(n),
        (c["c_nationkey"] == n["n_nationkey"]) & (ev["user_id"] % 3 == 0),
        "left",
    )
    return j.select(
        "event_id",
        F.coalesce(n["n_name"], c["c_mktsegment"], F.lit("unknown")).alias(
            "province_name"
        ),
    )


@register(
    "nation_volume",
    sql=f"""
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
  EXTRACT(YEAR FROM l.l_shipdate) AS ship_year,
  {dsum("l.l_extendedprice * (1.0 - l.l_discount)", "volume")}
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE cn.n_name < sn.n_name
GROUP BY 1, 2, 3
""",
    doc="J1-J4/A6 — TPC-H-Q7-shaped two-sided nation volume (driver-gated via "
    "revenue_by_region + enrich_events, the same dim-chain join + exact-sum "
    "aggregation surface): fact joined to "
    "two independent dim chains (customer-side and supplier-side), yearly "
    "grouped revenue",
    tier=2,
)
def nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cust_side = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).join(
        F.broadcast(cn), c["c_nationkey"] == cn["cn_key"]
    ).select("o_orderkey", "cust_nation")
    supp_side = s.join(F.broadcast(sn), s["s_nationkey"] == sn["sn_key"]).select(
        "s_suppkey", "supp_nation"
    )
    # cust_side is orders-derived (fact-scale) — never broadcast it; the join
    # on l_orderkey shuffles and AQE picks the strategy.  supp_side is
    # supplier-derived (a true dim, 100x smaller than lineitem) — hint stays.
    j = (
        li.join(cust_side, li["l_orderkey"] == cust_side["o_orderkey"])
        .join(F.broadcast(supp_side), li["l_suppkey"] == supp_side["s_suppkey"])
        .filter(F.col("cust_nation") < F.col("supp_nation"))
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return j.groupBy(
        "cust_nation", "supp_nation", F.year("l_shipdate").alias("ship_year")
    ).agg(F.sum(revenue.cast("decimal(25,6)")).cast("double").alias("volume"))


# --------------------------------------------------------------------------
# A6 merged driver row — rollup + cube + grouping sets in one result
# (driver checks only the first 50 queries, so the three families share
# one row)
# --------------------------------------------------------------------------


@register(
    "grouping_analytics",
    sql=f"""
SELECT 'rollup' AS mode, l_returnflag AS dim1, l_linestatus AS dim2,
  COUNT(*) AS cnt, {dsum("l_quantity", "sum_val")}
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube' AS mode, o_orderstatus AS dim1, o_orderpriority AS dim2,
  COUNT(*) AS cnt, {dsum("o_totalprice", "sum_val")}
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
UNION ALL
SELECT 'gsets' AS mode, l_returnflag AS dim1, l_linestatus AS dim2,
  COUNT(*) AS cnt, {dsum("l_quantity", "sum_val")}
FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
    doc="A6 — rollup (lineitem) + cube (orders) + explicit grouping sets in "
    "one tagged union",
)
def grouping_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cnt = F.count(F.lit(1))
    ru = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(cnt.alias("cnt"), dsum_col("l_quantity").alias("sum_val"))
        .select(
            F.lit("rollup").alias("mode"),
            F.col("l_returnflag").alias("dim1"),
            F.col("l_linestatus").alias("dim2"),
            "cnt",
            "sum_val",
        )
    )
    cu = (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(cnt.alias("cnt"), dsum_col("o_totalprice").alias("sum_val"))
        .select(
            F.lit("cube").alias("mode"),
            F.col("o_orderstatus").alias("dim1"),
            F.col("o_orderpriority").alias("dim2"),
            "cnt",
            "sum_val",
        )
    )
    li.createOrReplaceTempView("lineitem_ga")
    gs = spark.sql(
        "SELECT 'gsets' AS mode, l_returnflag AS dim1, l_linestatus AS dim2, "
        "COUNT(*) AS cnt, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_val "
        "FROM lineitem_ga GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"
    )
    return ru.unionByName(cu).unionByName(gs)


def _stats_moments_sql(d: str) -> str:
    # Cross-engine-exact second moments: every SUM is an exact DECIMAL
    # accumulation (associative, partition-order-free); the double-precision
    # moment algebra then runs on identical inputs through an identical
    # expression tree, and sqrt is IEEE-correctly-rounded on both engines —
    # so mean/stddev/corr hash-match without tolerance.  The naive
    # one-pass formulas are fine here because the decimal sums are exact
    # (no catastrophic cancellation from accumulated rounding).
    y = X.json_int(d, "props", "k")
    return f"""
WITH base AS (
  SELECT event_type, value AS x, CAST({y} AS DOUBLE) AS y
  FROM events WHERE {y} IS NOT NULL
),
sums AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x * y AS DECIMAL(30,15))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(x * x AS DECIMAL(30,15))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(y * y AS DECIMAL(30,15))) AS DOUBLE) AS syy
  FROM base GROUP BY event_type
)
SELECT event_type, n,
  {fround_("sx / n", 6)} AS mean_x,
  {fround_("sqrt((sxx - sx * sx / n) / n)", 6)} AS stddev_pop_x,
  {fround_(
      "CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 "
      "THEN (n * sxy - sx * sy) / "
      "(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) "
      "ELSE 0.0 END", 6)} AS corr_xy
FROM sums
"""


@register(
    "stats_moments",
    sql=_stats_moments_sql(X.DUCK),
    doc="A6/§2.10 — exact-reproducible second-moment statistics per key: "
    "mean, population stddev, Pearson correlation of value vs the JSON "
    "props.k field — decimal-exact sums, shared double algebra (the "
    "engine-native corr()/stddev() are partial-aggregation-order-"
    "dependent and would not hash-match); tier-2: aggregation families "
    "driver-gated via pricing_summary/grouping_analytics",
    tier=2,
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    return spark.sql(_stats_moments_sql(X.SPARK))


@register(
    "value_histogram",
    sql="""
SELECT LEAST(GREATEST(CAST(floor(value / 50.0E0) AS INT), 0), 9) AS bucket,
  COUNT(*) AS cnt,
  CAST(MIN(value) AS DOUBLE) AS lo,
  CAST(MAX(value) AS DOUBLE) AS hi
FROM events GROUP BY 1
""",
    doc="§2.10 — equal-width histogram binning (width_bucket semantics "
    "via pure arithmetic so both engines agree bit-for-bit; "
    "floor-of-double-divide is IEEE-deterministic); tier-2: fixed-width "
    "floor binning and per-bin aggregation driver-gated via "
    "histogram_quantiles",
    tier=2,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.least(
                F.greatest(F.floor(F.col("value") / F.lit(50.0)).cast("int"), F.lit(0)),
                F.lit(9),
            ).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
        )
    )
