"""Dimension-enrichment joins (SURVEY §2.5, J1-J6).

The reference enriches each record with Redis-cached MySQL lookups per record
(util/InfoLoader.java:45-114) — a cache-aside hash join executed one probe at
a time.  Spark-first, every lookup is a broadcast left equi-join: the dim
DataFrame ships once per stage to every executor, the probe side streams
through without a shuffle, and Catalyst prunes dim columns to what the query
uses.  At 100 TB fact scale the dims here (probes/tasks/geo ~ 1e5-1e7 rows)
stay broadcastable; if a dim outgrows the broadcast threshold, AQE falls back
to shuffled hash join automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[tuple[str, str]],
    select: dict[str, str] | None = None,
) -> DataFrame:
    """J1-J3/J5 — broadcast left equi-join of a fact stream to a dimension.

    ``on`` is [(fact_col, dim_col)]; ``select`` renames dim columns into the
    fact namespace ({dim_col: out_name}).  Reference lookups: probe
    (InfoLoader.java:45-58), task src/dest (:87-99), task param (:101-114),
    access-type default port (:61-85).
    """
    d = dim
    if select is not None:
        d = d.select(*[c for _, c in on], *select.keys())
        for src, dst in select.items():
            d = d.withColumnRenamed(src, dst)
    cond = None
    for f_col, d_col in on:
        this = fact[f_col] == d[d_col]
        cond = this if cond is None else (cond & this)
    joined = fact.join(F.broadcast(d), cond, "left")
    return joined.drop(*[d[c] for _, c in on])


def geo_chain(customer: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """J4 analogue — the province/city/district reverse-lookup chain
    (common/util/IPHelper.java:113-221) mapped onto the fixture hierarchy
    customer -> nation -> region.  Both dims broadcast; zero shuffles."""
    return customer.join(
        F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"], "left"
    ).join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"], "left")


def bucketed_range_join(
    facts: DataFrame,
    ranges: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    width: float,
) -> DataFrame:
    """J4 at scale — point-in-range lookup as an EQUI join, not a BNLJ.

    The naive range join (``p >= lo AND p < hi``) has no equi component, so
    Spark plans BroadcastNestedLoopJoin: every fact row linearly scans every
    range.  Fine for 25 nations; wrong for a real ipdb (~1e6-1e7 CIDR
    ranges, IPHelper.java:35-66 semantics) under 100 TB of facts.

    Scale shape: quantize the number line into fixed-width buckets.  Each
    range explodes into the buckets it overlaps (ranges are narrow relative
    to ``width``, so the blow-up is small); each fact row computes its one
    bucket.  The join is then an equi hash join on ``__bucket`` with the
    precise ``[lo, hi)`` predicate as a residual filter — shuffle (or
    broadcast, AQE's choice) proportional to data size, per-row work
    proportional to the handful of ranges sharing a bucket.

    Half-open ``[lo, hi)`` semantics; overlapping ranges emit one row per
    match.  It is a left join: unmatched facts survive with NULL range
    columns (the engine-default geo-miss behavior).
    """
    lob = F.floor(F.col(lo_col) / width).cast("long")
    hib_raw = F.floor(F.col(hi_col) / width).cast("long")
    # hi is exclusive: a range ending exactly on a bucket boundary does not
    # reach into the next bucket
    hib = F.when(F.col(hi_col) == hib_raw * width, hib_raw - 1).otherwise(hib_raw)
    r = ranges.withColumn(
        "__bucket", F.explode(F.sequence(lob, F.greatest(lob, hib)))
    )
    f = facts.withColumn("__fbucket", F.floor(F.col(point_col) / width).cast("long"))
    cond = (
        (f["__fbucket"] == r["__bucket"])
        & (f[point_col] >= r[lo_col])
        & (f[point_col] < r[hi_col])
    )
    return f.join(r, cond, "left").drop("__fbucket", "__bucket")


def municipality_norm_sql(code: str, district: str) -> str:
    """J4 — the municipality special case (IPHelper.java:117-125): the four
    province-level municipalities (Beijing 110000, Tianjin 120000, Shanghai
    310000, Chongqing 500000) report a *province* code from the ip library;
    when the district is blank the code is advanced to the city level
    (+100) before the region reverse-lookup.  Pure CASE expression, ANSI on
    both engines."""
    blank = f"({district} IS NULL OR {district} = '')"
    return (
        f"(CASE WHEN {code} IN (110000, 120000, 310000, 500000) AND {blank} "
        f"THEN {code} + 100 ELSE {code} END)"
    )
