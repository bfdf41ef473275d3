"""Sequence packing — assign documents to fixed-length training context
windows (the GPT-style "concatenate the corpus and chunk every L tokens"
batch-prep stage; the capability the reference's window/batch machinery has
no analogue for, and every LLM pre-training pipeline needs after the dedup /
quality / mixture stages in this package).

Semantics: documents ordered by ``doc_id`` form one virtual token stream;
window ``w`` owns tokens ``[w*L, (w+1)*L)``.  The output is the assignment
table — one row per (document, window) it overlaps, with the slice bounds —
from which a writer can materialize packed examples with zero further
shuffles (group by window_id).  A document longer than ``L`` spans several
windows (the standard chunk-split; no document is dropped).

Two forms, parity-tested against each other:

- ``pack_sequences_sql``: one global window cumsum — the oracle-exact SQL
  twin both engines run verbatim.  The global ``ORDER BY doc_id`` window is
  a single-partition sort at scale; fine for the driver gate, wrong for
  100 TB.
- ``pack_sequences_scalable``: the 100 TB plan.  Range-partition by
  ``doc_id``, per-partition cumsum (parallel window PARTITION BY pid), and
  a prefix-sum of the <=#partitions per-partition totals joined back as a
  broadcast — the classic distributed prefix-sum: no single-partition
  exchange anywhere, driver traffic is O(#partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import dialect as X

WINDOW_TOKENS = 256


def pack_assignment_sql(d: str, sized_subquery: str, length: int = WINDOW_TOKENS) -> str:
    """Window-assignment core over any ``(doc_id, n_toks)`` provider —
    one row per (doc, window) overlap: window_id, doc_id, tok_from (first
    token of the doc landing in this window, 0-based), n_toks_in_window,
    window_offset (where in the window the slice starts).  All BIGINT.

    Zero-token rows are filtered out: they own no window slice, and an
    n_toks = 0 row whose offset lands exactly on a window boundary would
    violate explode_range's lo <= hi precondition (Spark's sequence would
    emit a DESCENDING [k, k-1] while DuckDB's range emits nothing)."""
    base = (
        f"(SELECT doc_id, n_toks, "
        # CAST around the window sum: DuckDB widens SUM(BIGINT) to HUGEINT,
        # which its range() generator rejects.
        f"CAST(SUM(n_toks) OVER "
        f"(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        f"- n_toks AS BIGINT) AS off FROM {sized_subquery} z WHERE n_toks > 0)"
    )
    lo = X.idiv(d, "off", str(length))
    hi = X.idiv(d, "off + n_toks - 1", str(length))
    src = X.explode_range(d, base, "doc_id, n_toks, off", lo, hi)
    return f"""
SELECT w AS window_id, doc_id,
  GREATEST(off, w * {length}) - off AS tok_from,
  LEAST(off + n_toks, (w + 1) * {length}) - GREATEST(off, w * {length}) AS n_toks_in_window,
  GREATEST(off, w * {length}) - w * {length} AS window_offset
FROM {src} s
"""


def pack_sequences_sql(d: str, table: str = "documents") -> str:
    """Packing over a raw document table (token count = whitespace split)."""
    n_toks = X.arr_size(d, X.split_tokens(d, "text"))
    sized = f"(SELECT doc_id, CAST({n_toks} AS BIGINT) AS n_toks FROM {table})"
    return pack_assignment_sql(d, sized)


def pack_sequences_scalable(
    docs: DataFrame, partitions: int = 8
) -> DataFrame:
    """Distributed prefix-sum packing over a raw document table — identical
    output to ``pack_sequences_sql``, no global-order single-partition window
    on the data-proportional stream."""
    return pack_sized_scalable(sized_docs(docs), partitions=partitions)


def pack_sized_scalable(
    sized_in: DataFrame, partitions: int = 8
) -> DataFrame:
    """Distributed prefix-sum form of ``pack_assignment_sql`` over any
    ``(doc_id, n_toks)`` provider (n_toks > 0 rows only) — identical output,
    no global-order single-partition window on the document stream.

    Stage 1: range-partition on doc_id so partition ranges are contiguous
    in the global order.  Stage 2: per-partition token cumsum (window
    PARTITION BY pid — runs parallel).  Stage 3: per-partition totals
    (<= ``partitions`` rows) get their own prefix sum and rejoin broadcast;
    global offset = partition prefix + local cumsum.  Stage 4: per-row
    window-range explode (sequence), no shuffle.  The only single-partition
    exchange in the plan carries the O(#partitions) totals rows, never the
    corpus (asserted by the plan guard in tests/test_scale_patterns.py)."""
    sized = (
        sized_in.select("doc_id", "n_toks")
        .filter(F.col("n_toks") > 0)  # zero-token rows own no window slice
        .repartitionByRange(partitions, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        # Checkpoint before fanning out to two consumers: RangePartitioner
        # estimates boundaries by SAMPLING, so re-evaluating this plan for
        # the `local` branch and the `totals` branch could assign different
        # pids to the same row — corrupting off = prefix + local_off.  One
        # materialization makes the pid assignment a fact, not a plan.
        .localCheckpoint()
    )
    local = sized.withColumn(
        "local_off",
        F.sum("n_toks").over(
            Window.partitionBy("pid").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        - F.col("n_toks"),
    )
    totals = sized.groupBy("pid").agg(F.sum("n_toks").alias("ptot"))
    prefixes = totals.withColumn(
        "prefix",
        F.sum("ptot").over(
            Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        - F.col("ptot"),
    ).select("pid", "prefix")
    with_off = local.join(F.broadcast(prefixes), "pid").withColumn(
        "off", F.col("prefix") + F.col("local_off")
    )
    return assign_windows(with_off)


def sized_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, n_toks) projection shared by every packing entry point."""
    return docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_toks")
    ).filter(F.col("n_toks") > 0)


def assign_windows(with_off: DataFrame, length: int = WINDOW_TOKENS) -> DataFrame:
    """Assignment tail shared by the scalable batch form and the streaming
    ``pack_batch``: (doc_id, n_toks, off) -> one row per (doc, window)
    overlap.  One copy of the arithmetic, so the streamed==batch
    bit-exactness can't drift between hand-synced twins."""
    L = F.lit(length).cast("long")
    # Integer DIV, not double `/`+cast: for offsets beyond ~2^45 the IEEE
    # double nearest to (k*L-1)/L is exactly k, so the cast would mis-assign
    # a doc's last token — and diverge from the SQL twin's exact DIV.
    w = F.explode(
        F.sequence(
            F.expr(f"off DIV {length}"),
            F.expr(f"(off + n_toks - 1) DIV {length}"),
        )
    ).alias("window_id")
    ex = with_off.select("doc_id", "n_toks", "off", w)
    start = F.greatest(F.col("off"), F.col("window_id") * L)
    return ex.select(
        F.col("window_id"),
        "doc_id",
        (start - F.col("off")).alias("tok_from"),
        (
            F.least(F.col("off") + F.col("n_toks"), (F.col("window_id") + 1) * L) - start
        ).alias("n_toks_in_window"),
        (start - F.col("window_id") * L).alias("window_offset"),
    )
