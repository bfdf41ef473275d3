"""Windowed aggregation operators (SURVEY §2.4, W1) and snapshot/dedup
ranking (§2.6 A4/A5).

The reference batches records in 10 s tumbling *processing-time* windows
purely to amortize sink inserts (startup/ConsoleTaskDataMain.java:83); the
rebuild treats windows as first-class *event-time* analytics — ``window()``
buckets with watermark support in streaming — which is a strict upgrade
(SURVEY §2.4 W11).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import WINDOW_SECONDS


def dsum_col(col: str) -> Column:
    """Exact decimal sum of a double column, rendered back to double (see
    plans/registry.py float discipline)."""
    return F.sum(F.col(col).cast("decimal(25,6)")).cast("double")


def qsum_col(col: str | Column) -> Column:
    """Exact quantized-integer sum of a <=6-decimal double column — the
    codegen-primitive fast path twin of ``plans/registry.qsum`` (same IEEE
    quantization on both engines; see its docstring for the domain bound)."""
    c = F.col(col) if isinstance(col, str) else col
    q = F.floor(c * F.lit(1.0e6) + F.lit(0.5)).cast("long")
    return F.sum(q).cast("double") / F.lit(1.0e6)


def qsum_partial_col(col: str | Column) -> Column:
    """Inner stage of the two-level salted exact sum (the BIGINT partial);
    twin of ``plans/registry.qsum_salted_inner``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.floor(c * F.lit(1.0e6) + F.lit(0.5)).cast("long"))


def qsum_merge_col(partial: str | Column) -> Column:
    """Outer stage: overflow-proof DECIMAL re-sum of the salted partials;
    twin of ``plans/registry.qsum_salted_outer``."""
    c = F.col(partial) if isinstance(partial, str) else partial
    return F.sum(c.cast("decimal(38,0)")).cast("double") / F.lit(1.0e6)


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """W1 — tumbling event-time window aggregation keyed like the reference's
    ``keyBy(taskTypeName)`` + 10 s window (R3+W1).  Emits ``w_start``/``w_end``
    timestamp columns.  Works identically on batch and streaming inputs
    (unified Structured Streaming API)."""
    w = F.window(F.col(ts_col), f"{WINDOW_SECONDS} seconds")
    return (
        df.groupBy(w.alias("w"), *[F.col(k) for k in keys])
        .agg(*aggs)
        .withColumn("w_start", F.col("w.start"))
        .withColumn("w_end", F.col("w.end"))
        .drop("w")
    )


def latest_per_key(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """A4 — latest-value snapshot per key (`c_p_pinfo_real` semantics:
    ReplacingMergeTree ORDER BY probe_id, version create_time; DDL
    ClickHouse建表定稿修改版.txt:57-74).  ``order`` must be a deterministic
    total order (include a unique tiebreaker)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_per_key_agg(
    df: DataFrame, keys: list[str], version_cols: list[str]
) -> DataFrame:
    """A4/A5, aggregation form — ``max_by(struct(*row), struct(version))``.

    Same result as :func:`latest_per_key` but *aggregation-based*: partial
    max combines map-side before the shuffle, so shuffle volume is one row
    per (key x input-partition) instead of every duplicate row — the right
    shape at 100 TB when keys repeat heavily (snapshot tables, dedup).
    ``version_cols`` must be a deterministic total order (include a unique
    tiebreaker).  The sort-based window variant remains for cases needing
    rank > 1 or per-row numbering.
    """
    payload = F.struct(*[F.col(c) for c in df.columns])
    version = F.struct(*[F.col(c) for c in version_cols])
    picked = df.groupBy(*keys).agg(F.max_by(payload, version).alias("__row"))
    return picked.select(*[F.col(f"__row.{c}").alias(c) for c in df.columns])
