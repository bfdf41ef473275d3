"""Near-duplicate clustering: connected components over LSH candidate pairs.

The dedup chain's terminal stage — MinHash signatures → LSH banding →
candidate pairs (operators/dedup_text.py) are edges of a similarity graph;
the duplicate *groups* are its connected components, and the deduplicated
corpus keeps one canonical document per component.

Scale design (100 TB):
- The component algorithm is bounded iterative min-label propagation WITH
  POINTER DOUBLING over DataFrames: each round is one edge shuffle
  (edges ⋈ labels, groupBy dst, min-combine is map-side partial) plus one
  cheap label-table self-join that halves label-chain lengths (path
  compression), with ``localCheckpoint`` truncating the lineage so round
  N's plan does not replay rounds 1..N-1.  Measured at sf0.1 the LSH
  near-dup graph is chain-shaped (diameter ~18), not clique-shaped —
  doubling cuts it to 10 rounds; the ``max_rounds`` cap is a safety valve.
- The convergence probe is ``isEmpty()`` on the changed-rows filter —
  an O(1)-output action against the already-checkpointed round result, not a
  collect of data.
- Spark 4.1's ``WITH RECURSIVE`` cannot express this fixpoint at all: it
  supports only UNION ALL recursion (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE),
  and label propagation over a cyclic (bidirectional) edge set needs
  distinct-dedup to terminate.  The DuckDB oracle uses the UNION-distinct
  recursive form; on Spark the bounded iterative loop IS the right engine
  shape — and it additionally gives the 100 TB controls recursion hides:
  per-round checkpointing, round metrics, and a hard round bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import dialect as X
from . import dedup_text as DD


def _checkpoint_with_real_stats(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` with the Catalyst ``sizeInBytes`` statistic reset
    to the MEASURED size instead of the inherited plan estimate.

    On this Spark, ``Dataset.localCheckpoint`` stamps the resulting
    ``LogicalRDD`` with the *optimized plan's* estimated stats.  Inside an
    iterative self-join loop that estimate compounds multiplicatively: each
    join multiplies the two sides' ``sizeInBytes``, the checkpoint carries
    the product forward as the next round's base, and the stat grows as
    digits(stat) ~ 4**round — measured 34 -> 152 -> 623 -> 2506 -> 10039
    digits over five rounds on a 2000-node chain.  From ~round 8 Catalyst's
    BigInteger multiply/divide (``SizeInBytesOnlyStatsPlanVisitor``,
    broadcast-threshold checks) dominates driver wall time (0.6 s -> 1.8 s
    -> 9.7 s -> 92 s per round), and at ~round 13 ``java.math.BigInteger``
    overflows its supported range and the query CRASHES — a 100 TB killer
    for any long-diameter component graph.

    The fix: persist + count first, so the optimized plan at checkpoint
    time is the materialized ``InMemoryRelation``, whose stats are the REAL
    accumulated batch sizes (5 digits on the same probe, flat across all
    rounds); then checkpoint (truncating lineage as before, reading from
    the cache so the plan is not recomputed) and drop the cache."""
    cached = df.persist()
    cached.count()
    out = cached.localCheckpoint()
    cached.unpersist()
    return out


def connected_components(
    edges: DataFrame, nodes: DataFrame, max_rounds: int = 40
) -> DataFrame:
    """Min-label propagation with pointer doubling: returns (id, lbl) where
    ``lbl`` is the smallest node id in the component.  ``edges`` must be
    directed both ways (src, dst); ``nodes`` is one column ``id`` covering
    every vertex (isolated vertices become singleton components).

    Each round does (1) one edge-join propagation step and (2) TWO label
    self-join shortcut steps (lbl := lbl's lbl — path compression), so
    label distances shrink ~4x per round and convergence is O(log
    diameter) instead of O(diameter).  Round-4 measurement at sf0.1:
    plain propagation needed 18 rounds on the chain-shaped LSH near-dup
    graph; one compression cut it to 10.  Round-11 measurement on pure
    chain graphs (worst case — min label at one end): 50,000 nodes need
    16 rounds with ONE compression but only 9 with two, and the 10x
    spectral-audio soak found a real corpus graph that exhausted the old
    20-round cap (low-entropy fingerprints chain across the corpus), so
    the second pass is load-bearing, not belt-and-braces.  Each shortcut
    join touches only the |nodes|-row label table — far cheaper than an
    extra edge join — and the round count DROPS, so net cost falls too.
    ``max_rounds`` = 40 is the safety valve: with ~4x-per-round label
    shrinkage it covers graphs astronomically beyond any real corpus
    diameter; hitting it means a bug, not a big graph."""
    labels = nodes.select("id", F.col("id").alias("lbl")).localCheckpoint()
    for _ in range(max_rounds):
        msgs = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("lbl").alias("msg"))
        )
        propagated = (
            labels.join(msgs, labels["id"] == msgs["dst"], "left")
            .select(
                labels["id"],
                F.least("lbl", F.coalesce("msg", "lbl")).alias("lbl"),
            )
        )
        # each compression pass is checkpointed before the next: a NESTED
        # self-join on the same uncheckpointed lineage (compress twice in
        # one plan) sends the analyzer's relation-deduplication into a
        # pathological path — measured minutes of analysis on a 200-node
        # graph; one materialization per pass keeps every self-join flat
        for _c in range(2):
            lookup = propagated.select(
                F.col("id").alias("l_id"), F.col("lbl").alias("l_lbl")
            )
            propagated = (
                propagated.join(
                    lookup, propagated["lbl"] == lookup["l_id"], "left"
                )
                .select(
                    propagated["id"],
                    F.least(
                        propagated["lbl"],
                        F.coalesce("l_lbl", propagated["lbl"]),
                    ).alias("lbl"),
                )
            )
            if _c == 0:
                # intra-round pass: plain lineage truncation is enough —
                # the inherited stat can grow only a bounded number of
                # multiplications before the round-boundary reset below
                propagated = propagated.localCheckpoint()
            else:
                propagated = _checkpoint_with_real_stats(propagated)
        doubled = propagated
        if (
            doubled.alias("n")
            .join(labels.alias("p"), F.col("n.id") == F.col("p.id"))
            .where("n.lbl != p.lbl")
            .isEmpty()
        ):
            return doubled.select("id", "lbl")
        labels = doubled
    raise RuntimeError(f"connected_components: no fixpoint in {max_rounds} rounds")


def dedup_clusters_df(
    pairs: DataFrame, docs: DataFrame, edges: DataFrame | None = None
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, is_canonical) for every document;
    cluster_id = min doc_id in the component, canonical = that minimum.
    ``edges`` lets a composed caller (cluster_representatives) pass an
    already-checkpointed symmetrized edge set shared with PageRank."""
    from pyspark.sql.window import Window

    # Materialize the edge set ONCE: every propagation round joins against
    # edges, and without this checkpoint each round's lazy plan replays the
    # entire upstream MinHash -> banding -> candidate-join pipeline (round-4
    # profile: ~80% of the query's wall time was that recomputation).
    if edges is None:
        edges = (
            pairs.selectExpr("doc_a AS src", "doc_b AS dst")
            .unionAll(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
            .localCheckpoint()
        )
    nodes = docs.select(F.col("doc_id").alias("id"))
    comp = connected_components(edges, nodes)
    return (
        comp.select(F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id"))
        .withColumn(
            "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


def dedup_clusters_oracle_sql(table: str = "documents") -> str:
    """DuckDB oracle: the same components via a recursive min-label CTE
    (UNION-distinct recursion terminates on cycles)."""
    pairs = DD.minhash_lsh_pairs_sql(X.DUCK, table)
    return component_oracle_sql(f"pairs AS ({pairs})", "pairs", table)


def component_oracle_sql(ctes: str, pairs: str, table: str) -> str:
    """THE component-oracle tail of every cluster form: ``WITH RECURSIVE
    <ctes>`` (which must define the (doc_a, doc_b) relation ``pairs``),
    then the bidirectional edges, the recursive min-label ``reach`` over
    every document of ``table`` (``graph.cr_reach_cte``), and one row per
    document with its component id, size and canonical flag."""
    from .graph import cr_reach_cte

    return f"""
WITH RECURSIVE {ctes},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM {pairs}
  UNION ALL
  SELECT doc_b, doc_a FROM {pairs}
),
{cr_reach_cte("edges", table)},
comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM comp
"""
