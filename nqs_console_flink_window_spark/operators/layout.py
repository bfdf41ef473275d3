"""Z-order (Morton) data layout — multi-dimensional clustering for file
and row-group pruning, the `OPTIMIZE ZORDER BY` capability of lakehouse
table formats, expressed as plain Spark.

Why it matters at 100 TB: parquet scans prune on per-file/row-group
min-max statistics.  A sort on one column gives perfect pruning on that
column and none on others; interleaving the bits of several normalized
columns (a Morton / Z-curve key) gives every clustered column a tight
value range per file, so selective predicates on ANY of them skip most
files.  The key is a pure JVM bitwise expression (whole-stage codegen —
no UDF), the layout is one `repartitionByRange` + in-partition sort, and
writes stay append-only parquet.

Normalization uses global min-max (two scalars fetched to the driver —
the same footprint as any broadcast threshold decision).  Rank-based
normalization would resist outliers but needs an extra pass; min-max is
the standard trade and is what table formats implement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_key(norm_cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each already-normalized long
    column into one Z-curve key (column i contributes bit position
    ``j * n_cols + i`` from its bit j)."""
    n = len(norm_cols)
    if bits * n > 63:
        raise ValueError(f"morton key needs {bits * n} bits; max 63 — lower `bits`")
    key = F.lit(0).cast("long")
    for j in range(bits):
        for i, c in enumerate(norm_cols):
            bit = F.shiftright(c, j).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, j * n + i))
    return key


def normalize_minmax(df: DataFrame, cols: list[str], bits: int = 16) -> list[Column]:
    """Scale each column to [0, 2^bits) as longs using global min-max
    (one lightweight agg; NULLs map to 0 = the curve origin)."""
    top = (1 << bits) - 1
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"{c}__lo") for c in cols],
        *[F.max(c).cast("double").alias(f"{c}__hi") for c in cols],
    ).collect()[0]
    out = []
    for c in cols:
        lo, hi = stats[f"{c}__lo"], stats[f"{c}__hi"]
        span = (hi - lo) or 1.0
        scaled = ((F.col(c).cast("double") - F.lit(lo)) / F.lit(span)) * top
        out.append(
            F.coalesce(
                F.least(F.greatest(scaled, F.lit(0.0)), F.lit(float(top))),
                F.lit(0.0),
            ).cast("long")
        )
    return out


def zorder_layout(
    df: DataFrame, cols: list[str], n_files: int
) -> DataFrame:
    """Cluster ``df`` into ``n_files`` range partitions of the Z-curve,
    sorted within each — write the result with a plain parquet save and
    every output file carries tight min-max bounds on ALL ``cols``."""
    key = morton_key(normalize_minmax(df, cols))
    return (
        df.withColumn("__z", key)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
