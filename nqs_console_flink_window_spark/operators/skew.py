"""Skew-mitigation operators — the 100 TB playbook made explicit.

AQE's skew-join splitting (enabled in session.py) handles most cases at
runtime; these helpers cover the two situations AQE cannot fix:

- **Salted aggregation**: a groupBy where one key holds a large share of all
  rows (the reference's `keyBy(taskTypeName)` with ~13 protocols is exactly
  this shape — ConsoleTaskDataMain.java:81).  Two-phase: salt the key into
  ``n_salts`` subkeys, partial-aggregate, then merge.  Works for any
  algebraic aggregate (sum/count/min/max).

- **Salted broadcast-side replication** is unnecessary here: dimension joins
  broadcast (enrich.py), and a broadcast join cannot skew — every executor
  has the whole dim.  Salting only matters for shuffle joins of two large
  tables, where the big side salts and the other side explodes its rows
  ``n_salts`` times.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALTS = 16  # salted_sum_count's subkeys per hot key


def salted_sum_count(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    exact: str = "quantized",
) -> DataFrame:
    """Two-phase skew-safe sum/count of ``value_col`` per ``keys``.

    Phase 1 shuffles on (keys, salt) — at most 1/SALTS of the hot key's
    rows land in any one task; phase 2 merges the SALTS partials, a
    shuffle of only |keys| * SALTS rows.  Result columns: ``sum_value``,
    ``cnt``.

    ``exact='quantized'`` (default): the salted shape rides the two-level
    exact quantized sum (windows.qsum_partial_col / qsum_merge_col) — long
    partials on the codegen-primitive path, overflow-proof decimal merge —
    value-identical to a single-level ``qsum`` by associativity.  DOMAIN
    BOUND: each (key, salt) partial must keep SUM(|value|) < 9.2e12, and
    the salt is ``spark_partition_id() % SALTS`` so the EFFECTIVE salt
    count is min(#partitions, SALTS) — a hot key summing beyond
    ~9e12 * SALTS of value needs ``exact='decimal'``, which computes the
    phase-1 partials in overflow-proof DECIMAL(25,6) (exact to 1e29, at
    BigDecimal-accumulator speed).
    """
    from .windows import qsum_merge_col, qsum_partial_col

    salt = (F.spark_partition_id() % SALTS).alias("__salt")
    grouped = df.withColumn("__salt", salt).groupBy(*keys, "__salt")
    if exact == "decimal":
        partial = grouped.agg(
            F.sum(F.col(value_col).cast("decimal(25,6)")).alias("__psum"),
            F.count(F.lit(1)).alias("__pcnt"),
        )
        merged = F.sum("__psum").cast("double").alias("sum_value")
    else:
        partial = grouped.agg(
            qsum_partial_col(value_col).alias("__psum"),
            F.count(F.lit(1)).alias("__pcnt"),
        )
        merged = qsum_merge_col("__psum").alias("sum_value")
    return partial.groupBy(*keys).agg(merged, F.sum("__pcnt").alias("cnt"))


def explode_salt(dim: DataFrame, n_salts: int, out: str = "__salt") -> DataFrame:
    """Replicate a (small-ish but above-broadcast-threshold) join side across
    all salt values so it can equi-join a salted big side."""
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    return dim.withColumn(out, salts)


def with_salt(df: DataFrame, key: str | Column, n_salts: int, out: str = "__salt") -> DataFrame:
    """Random-but-deterministic salt derived from a secondary column so the
    same row always lands in the same subkey (reproducible plans)."""
    col = F.col(key) if isinstance(key, str) else key
    return df.withColumn(out, F.pmod(F.hash(col), F.lit(n_salts)))
