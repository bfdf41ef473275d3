"""As-of join — enrich each fact row with the latest state row whose
timestamp is <= the fact's timestamp, per key (time-series "point-in-time
lookup": heartbeat -> latest register state, metric -> latest config
version).  The reference performs this implicitly by probing a mutable dim
at process time (``AbstractDataParser.java`` probe/task lookups against
continuously-upserted MySQL state); the batch/event-time-correct form is an
as-of join, which Spark has no native operator for.

Implementation is the scalable union+window formulation, NOT a range join:

- tag state rows 0 and fact rows 1, union them into one relation,
- one shuffle: ``Window.partitionBy(key).orderBy(ts, tag, tiebreak)``
  with ``rowsBetween(unboundedPreceding, currentRow)``,
- ``last(value, ignorenulls=True)`` carries the most recent state value
  forward onto every subsequent fact row,
- keep tag-1 rows.

Cost is one sort-shuffle over |facts| + |states| — the same shape as any
keyed aggregation, so it scales to 100 TB fact tables (a range-join or
per-fact correlated lookup would be O(facts x states-per-key) and a
broadcast of the state table would cap state size).  Ties: a state row at
exactly the fact timestamp IS visible (tag 0 sorts before tag 1); multiple
state rows at the same (key, ts) are resolved by ``tiebreak`` (pass a
unique column — the largest wins, matching last-write-wins upsert
semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_ATS = "__asof_ts"
_TAG = "__asof_tag"
_TIE = "__asof_tie"


def asof_join(
    facts: DataFrame,
    states: DataFrame,
    key: str,
    ts: str,
    value_cols: list[str],
    state_tiebreak: Column | None = None,
) -> DataFrame:
    """Left as-of join: every ``facts`` row, plus ``<value>_asof`` columns
    carrying the latest ``states`` values at-or-before the fact's ``ts``
    (NULL when no state row precedes it), and ``ts_asof`` = the matched
    state row's timestamp.

    ``states`` must contain ``key``, ``ts`` and ``value_cols``.
    ``state_tiebreak`` orders same-(key, ts) state rows (largest wins);
    pass a unique column for determinism.
    """
    tie = state_tiebreak if state_tiebreak is not None else F.lit(0)
    fact_cols = facts.columns
    state_side = states.select(
        F.col(key),
        F.col(ts).alias(_ATS),
        F.lit(0).alias(_TAG),
        tie.cast("long").alias(_TIE),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
        *[
            F.lit(None).cast(facts.schema[c].dataType).alias(f"__f_{c}")
            for c in fact_cols
            if c != key
        ],
    )
    fact_side = facts.select(
        F.col(key),
        F.col(ts).alias(_ATS),
        F.lit(1).alias(_TAG),
        F.lit(0).cast("long").alias(_TIE),
        *[
            F.lit(None).cast(states.schema[c].dataType).alias(f"__v_{c}")
            for c in value_cols
        ],
        *[F.col(c).alias(f"__f_{c}") for c in fact_cols if c != key],
    )
    w = (
        Window.partitionBy(key)
        .orderBy(_ATS, _TAG, _TIE)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = state_side.unionByName(fact_side).select(
        F.col(key),
        F.col(_TAG),
        *[F.col(f"__f_{c}").alias(c) for c in fact_cols if c != key],
        *[
            F.last(f"__v_{c}", ignorenulls=True).over(w).alias(f"{c}_asof")
            for c in value_cols
        ],
        F.last(
            F.when(F.col(_TAG) == 0, F.col(_ATS)), ignorenulls=True
        )
        .over(w)
        .alias(f"{ts}_asof"),
    )
    out_cols = (
        fact_cols
        + [f"{c}_asof" for c in value_cols]
        + [f"{ts}_asof"]
    )
    return carried.filter(F.col(_TAG) == 1).select(*out_cols)
