"""Parsing / validation / repair operators (SURVEY §2.2, P1-P9).

The reference parses Kafka JSON per record with fastjson and reflection
(handler/message/*.java, handler/parser/AbstractDataParser.java).  Here each
step is a declarative DataFrame transform: ``from_json`` against an explicit
schema, null-filters, and ``when`` expressions — all JVM-side, all inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CLOCK_SKEW_MAX_SECONDS, FIXED_NOW_EPOCH

# Schema of the fixture `events.props` JSON payload.
PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType())])


def parse_props(df: DataFrame, col: str = "props", out: str = "props_s") -> DataFrame:
    """P1/P4 — JSON parse against an explicit schema.

    Reference: fastjson parse of the Kafka value
    (startup/ConsoleTaskDataMain.java:56-76, handler/message/*.java); parse
    failures yield nulls (PERMISSIVE) instead of dropping the payload.
    """
    return df.withColumn(out, F.from_json(F.col(col), PROPS_SCHEMA))


def validate(df: DataFrame, required: list[str]) -> DataFrame:
    """P2 — drop records missing required identity fields.

    Reference: DataMessage.badMsg flag on missing probe_id/task_id/
    task_type_name (handler/message/DataMessage.java:21-41) and the filters at
    ConsoleProbeHeartDataMain.java:61-65.
    """
    cond = None
    for c in required:
        this = F.col(c).isNotNull()
        cond = this if cond is None else (cond & this)
    return df.filter(cond)


def invalid(df: DataFrame, required: list[str]) -> DataFrame:
    """Dead-letter complement of :func:`validate` (badMsg==true branch)."""
    cond = None
    for c in required:
        this = F.col(c).isNull()
        cond = this if cond is None else (cond | this)
    return df.filter(cond)


def clock_repair_expr(
    ts_epoch: Column,
) -> Column:
    """P5 — replace a reported epoch-seconds timestamp with "now" when it
    deviates more than CLOCK_SKEW_MAX_SECONDS from "now".

    Reference: DataMessage.java:16-19 / GwInfoMessage.java:11-15 (offset
    108000 s).  "now" is the fixed FIXED_NOW_EPOCH, so tests and oracle runs
    are reproducible.
    """
    skew = F.abs(F.lit(FIXED_NOW_EPOCH) - ts_epoch)
    return F.when(
        skew > F.lit(CLOCK_SKEW_MAX_SECONDS), F.lit(FIXED_NOW_EPOCH).cast("long")
    ).otherwise(ts_epoch.cast("long"))


def clock_repair_sql(ts_epoch_expr: str) -> str:
    """ANSI-SQL twin of :func:`clock_repair_expr` for the DuckDB oracle."""
    return (
        f"CASE WHEN ABS({FIXED_NOW_EPOCH} - ({ts_epoch_expr})) > {CLOCK_SKEW_MAX_SECONDS} "
        f"THEN {FIXED_NOW_EPOCH} ELSE CAST({ts_epoch_expr} AS BIGINT) END"
    )


def with_deterministic_id(df: DataFrame, cols: list[str], out: str = "id") -> DataFrame:
    """P7 — record id as a deterministic hash of identity columns.

    The reference mints random 8-char short-UUIDs per record
    (common/util/UUIDKit.java:44-54); deterministic sha2 ids keep the same
    uniqueness contract while staying reproducible for the oracle
    (SURVEY §7.4 risk 2).
    """
    return df.withColumn(
        out, F.sha2(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]), 256)
    )
