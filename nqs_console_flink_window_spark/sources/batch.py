"""Batch parquet sources for the fixture tables (TESTDATA.md).

The reference's sources are Kafka topics (env/BaseFlink.java:107-129); for
batch analytics and the driver's correctness gate the same pipelines read the
driver-generated parquet.  Streaming variants live in ``sources.streams``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import TABLE_NAMES


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-zone TimestampType.

    The fixture has shipped two physical encodings across driver rounds:
    int64 nanoseconds (TIMESTAMP(NANOS) surfaced as LongType via the
    ``nanosAsLong`` legacy conf) and plain TIMESTAMP/TIMESTAMP_NTZ micros.
    Adapt on the observed dtype instead of assuming one, so the engine reads
    either vintage; both paths floor-truncate to microseconds exactly like
    DuckDB's ``CAST(ts AS TIMESTAMP)``.  The session runs in UTC
    (session.py), so the NTZ->TZ cast is value-preserving.
    """
    if "ts" not in df.columns:
        return df
    dtype = df.schema["ts"].dataType
    if isinstance(dtype, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dtype, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def canonicalize_types(df: DataFrame) -> DataFrame:
    """Coerce fixture-vintage physical types to the engine's canonical ones.

    The driver regenerates the fixture between rounds and its physical
    encodings have drifted (events.ts: int64 nanos -> TIMESTAMP micros).
    Queries and oracles are written against canonical logical types, so
    absorb representational drift here, once, instead of in 80 queries:

    - DECIMAL(p,s) -> DOUBLE (Spark would surface python Decimal objects
      where DuckDB's pandas bridge yields float64 — a value-identical but
      hash-breaking divergence, the round-1 `fround` lesson at the source).
      Caveat (advisor, round 3): the cast moves Spark to IEEE accumulation
      while DuckDB (reading parquet directly) would SUM decimal-exact — a
      divergence only for AGGREGATES over a decimal-typed fixture column.
      No current fixture ships decimals; if one appears with aggregating
      queries, those queries must re-cast through the registry's
      DECIMAL(25,6)-sum pattern (see plans/registry.py) so both engines
      accumulate exactly — the scan-level cast alone is projection-safe
      but not accumulation-safe.

    - FLOAT -> DOUBLE: exact widening (no value change), protects against a
      float32 fixture vintage where Spark float vs DuckDB's float->double
      promotion would diverge kinds at the pandas bridge.

    Deliberately NOT cast here: TIMESTAMP_NTZ on non-events tables.  A cast
    wrapping a scan column defeats parquet predicate pushdown (the
    ship-date filter would stop reaching the scan), and NTZ already
    compares cleanly against both Spark timestamp literals and DuckDB's
    naive TIMESTAMP.  Only events.ts is normalized (``normalize_event_ts``)
    because its *physical encoding* drifted, not just its logical type.
    """
    out = df
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.DecimalType, T.FloatType)):
            out = out.withColumn(f.name, F.col(f.name).cast("double"))
    return out


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # nanosAsLong keeps old TIMESTAMP(NANOS) fixtures readable; it is a
    # no-op for fixtures that already store micros timestamps.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return canonicalize_types(df)


def register_temp_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None
) -> None:
    """Expose fixture tables as temp views so ``spark.sql`` sees the same
    names the DuckDB oracle does.  Pass ``tables`` to register only what the
    query reads (avoids touching every parquet footer per call)."""
    for name in tables or TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
