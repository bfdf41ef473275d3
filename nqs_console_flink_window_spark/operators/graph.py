"""Iterative graph analytics over the near-dup candidate graph: PageRank.

PageRank (Brin & Page 1998) over the symmetrized MinHash-LSH candidate
graph ranks duplicate-cluster centrality — the signal a dedup policy uses
to pick cluster REPRESENTATIVES (keep the most-connected copy) instead of
the arbitrary keep-min rule, and the classic example of an iterative
fixed-point computation that SQL alone cannot express but a driver loop of
declarative steps can.

Integer fixed-point discipline: float PageRank sums are partition-order
dependent, so ranks live in exact BIGINT pico-units (1e12 = total mass 1):

- ``r0(v)     = 1e12 DIV N``
- ``contrib(u->v) = (17 * r(u)) DIV (20 * outdeg(u))``   (damping 17/20)
- ``r'(v)     = (15e10 DIV N) + SUM(contrib)``           ((1-d)/N teleport)

Every operation is exact integer arithmetic (``X.idiv`` — Spark ``DIV`` ==
DuckDB ``//``), so five iterations produce bit-identical ranks on any
engine and any partitioning.  Two documented simplifications vs textbook
PageRank: per-step floor quantization (loses < 1 pico-unit per edge per
step), and dangling mass is dropped, not redistributed — nodes without
out-edges (isolated docs) hold exactly the teleport rank; totals therefore
sum to < 1e12.  Both choices are deterministic and shared by the oracle.

Scale notes (100 TB): each iteration is ONE groupBy(dst) shuffle over the
edge set plus a broadcast-ineligible but key-partitioned join of the rank
vector (node-cardinality) — the standard Pregel-on-a-relational-engine
shape.  The edge set is the LSH candidate graph: bounded by the band
machinery (and further by cap_candidate_degree when flood-shaped), never
corpus x corpus.  The iteration count is a fixed constant (driver loop,
localCheckpoint per step keeps lineage flat); the oracle unrolls the same
five steps as CTEs.
"""

from __future__ import annotations

from ..functions import dialect as X
from .dedup_text import minhash_lsh_pairs_sql

PR_ITERS = 5
PR_SCALE = 1_000_000_000_000  # pico-units: total teleport+link mass of 1.0
PR_TELEPORT = PR_SCALE * 3 // 20  # (1 - 17/20) * scale, exact


def pr_edges_sql(cand: str) -> str:
    """Symmetrize the (doc_a < doc_b) candidate pairs into directed edges."""
    return (
        f"SELECT doc_a AS src, doc_b AS dst FROM {cand} "
        f"UNION ALL SELECT doc_b AS src, doc_a AS dst FROM {cand}"
    )


def pr_deg_sql(edges: str) -> str:
    return f"SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM {edges} GROUP BY src"


def pr_init_sql(d: str, nodes: str) -> str:
    n = f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {nodes})"
    return (
        f"SELECT doc_id, {X.idiv(d, str(PR_SCALE), n)} AS r FROM {nodes}"
    )


def pr_iter_sql(d: str, nodes: str, edges: str, deg: str, r: str) -> str:
    """One PageRank step over relations (all may be staged views or CTE
    names): r'(v) = teleport/N + sum over in-edges of the damped share."""
    n = f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {nodes})"
    share = X.idiv(d, "17 * r.r", "20 * g.outdeg")
    return f"""
SELECT v.doc_id,
  {X.idiv(d, str(PR_TELEPORT), n)} + CAST(COALESCE(c.m, 0) AS BIGINT) AS r
FROM {nodes} v
LEFT JOIN (
  SELECT e.dst AS doc_id, CAST(SUM({share}) AS BIGINT) AS m
  FROM {edges} e
  JOIN {r} r ON r.doc_id = e.src
  JOIN {deg} g ON g.src = e.src
  GROUP BY e.dst
) c ON v.doc_id = c.doc_id
"""


def pr_final_sql(r: str) -> str:
    return (
        f"SELECT doc_id, r AS rank_pico, "
        f"{X.fround('CAST(r AS DOUBLE) / 1.0E12', 9)} AS rank FROM {r}"
    )


def pagerank_sql(d: str, table: str = "documents") -> str:
    """Oracle form: the five iterations unrolled as CTEs over the same
    fragments the engine loop runs."""
    nodes = f"(SELECT doc_id FROM {table})"
    parts = [
        f"cand AS ({minhash_lsh_pairs_sql(d, table)})",
        f"edges AS ({pr_edges_sql('cand')})",
        f"deg AS ({pr_deg_sql('edges')})",
        f"r0 AS ({pr_init_sql(d, nodes)})",
    ]
    for i in range(1, PR_ITERS + 1):
        parts.append(
            f"r{i} AS ({pr_iter_sql(d, nodes, 'edges', 'deg', f'r{i - 1}')})"
        )
    return f"WITH {', '.join(parts)} {pr_final_sql(f'r{PR_ITERS}')}"


def pagerank_df(spark, table: str = "documents", edges=None):
    """Engine side — round-12 active-set restructure (guide §2: iterate
    over the GRAPH, project to the corpus once); the loop itself is
    ``_pagerank_active`` with unit edge weights.

    ``edges`` lets a composed caller (cluster_representatives) pass the
    symmetrized edge set it already built and checkpointed; it is read as
    is, not re-materialized.

    CONTRACT: a caller-supplied ``edges`` relation must be SYMMETRIZED
    (every (a, b) paired with (b, a) — the shape ``pr_edges_sql`` emits).
    The active-set equivalence argument (``_pagerank_active``) relies on
    it: in an asymmetric digraph a pure-source node leaves the carried
    rank vector after one step and its outgoing contributions are lost
    from step 2 on."""
    from .staging import staged_views

    if edges is None:
        # staged candidate pairs, not the plain SQL: under Spark's CTE
        # inlining the bands self-join re-ran the signature pipeline 8x
        # (bands referenced twice, sig inlined once per band branch)
        # inside the one candidate-materialization job
        from .dedup_text import _staged_minhash_parts

        _sh, _sig, cand, _sizes = _staged_minhash_parts(
            spark, table, light=True
        )
        with staged_views(spark, cand=cand, checkpoint=False) as v0:
            edges = spark.sql(pr_edges_sql(v0.cand))
    return _pagerank_active(spark, table, edges, "1")


def _pagerank_active(spark, table: str, edges, w: str):
    """THE PageRank loop of both engine forms, over a symmetrized edge
    relation ``edges`` (src, dst[, w]) whose weight expression is ``w``
    (``"1"`` for the unweighted form: ``17·r·1 DIV 20·Σ1`` equals
    ``17·r DIV 20·outdeg``, so one loop serves both oracles).

    The rank vector the loop carries covers only graph-ACTIVE nodes
    (nodes with edges): in the symmetrized graph a node is active iff it
    has both in- and out-edges, every inactive node's rank is exactly the
    teleport constant from iteration 1 on (it receives no contributions
    and sends none), and every active node receives >= 1 contribution row
    each step — so the per-step plan is ONE join (rank onto the
    wout-carrying edge relation) + ONE groupBy(dst), with no corpus-wide
    node pass inside the loop; the full node list enters once, in the
    final LEFT JOIN + COALESCE(teleport) projection.  Output-identical to
    the unrolled oracles.

    The edge relation is checkpointed ONCE with the out-weight total
    attached (src, dst, w, wout — no per-iteration degree join), and N
    rides as a literal from one bounded 1-row count (the indexed-path
    stats-inlining convention)."""
    from .staging import staged_views

    d = X.SPARK
    n_docs = spark.sql(
        f"SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {table}"
    ).collect()[0]["n"]
    r0_val = PR_SCALE // n_docs if n_docs else 0
    tel = PR_TELEPORT // n_docs if n_docs else 0
    share = X.idiv(d, "17 * r.r * e.w", "20 * e.wout")
    with staged_views(spark, e=edges, checkpoint=False) as ve:
        e2 = spark.sql(
            f"SELECT e.src, e.dst, {w} AS w, g.wout FROM {ve.e} e JOIN "
            f"(SELECT src, CAST(SUM({w}) AS BIGINT) AS wout "
            f"FROM {ve.e} GROUP BY src) g ON g.src = e.src"
        )
        with staged_views(spark, e2=e2) as v1:
            r = spark.sql(
                f"SELECT DISTINCT src AS doc_id, "
                f"CAST({r0_val} AS BIGINT) AS r FROM {v1.e2}"
            )
            for _ in range(PR_ITERS):
                with staged_views(spark, r=r) as v3:
                    r = spark.sql(f"""
SELECT e.dst AS doc_id,
  CAST({tel} AS BIGINT) + CAST(SUM({share}) AS BIGINT) AS r
FROM {v1.e2} e JOIN {v3.r} r ON r.doc_id = e.src
GROUP BY e.dst
""")
            with staged_views(spark, r=r, checkpoint=False) as v4:
                return spark.sql(pr_final_sql(
                    f"(SELECT n.doc_id, COALESCE(r.r, CAST({tel} AS BIGINT)) AS r "
                    f"FROM (SELECT doc_id FROM {table}) n "
                    f"LEFT JOIN {v4.r} r ON r.doc_id = n.doc_id) t"
                ))


# ---------------------------------------------------------------------------
# Weighted PageRank: edge weight = the MinHash signature Jaccard estimate
# already computed on the same candidate pairs (minhash_jaccard_estimate's
# matching-slot count), so representative selection favors STRONG
# duplicates, not merely well-connected ones.  Weights stay integers
# (matching slots + 1) to keep the bit-exact cross-engine oracle story:
#
# - ``w(a,b)   = |{k : m_k(a) = m_k(b)}| + 1``  (1..NUM_PERM+1; the +1
#   Laplace floor keeps every candidate edge at weight >= 1, so graph
#   connectivity is identical to the unweighted graph — a band collision
#   with zero matching slots is possible — and the recursion degenerates
#   to exactly unweighted PageRank when all estimates are equal)
# - ``W(u)     = SUM over out-edges of w``      (replaces outdeg)
# - ``contrib(u->v) = (17 * r(u) * w(u,v)) DIV (20 * W(u))``
#
# Overflow: 17 * r * w <= 17 * 1e12 * 9 ~ 1.5e14 << 2^63.  Same five-step
# driver loop / unrolled-CTE oracle discipline as the unweighted form.
# ---------------------------------------------------------------------------


def prw_weights_sql(cand: str, sig: str) -> str:
    """(doc_a, doc_b, w): matching-signature-slot count + 1 over relations
    ``cand`` (doc_a < doc_b) and ``sig`` (doc_id, m0..m7) — dialect-free."""
    from .dedup_text import NUM_PERM

    matches = " + ".join(
        f"(CASE WHEN sa.m{k} = sb.m{k} THEN 1 ELSE 0 END)"
        for k in range(NUM_PERM)
    )
    return (
        f"SELECT c.doc_a, c.doc_b, CAST(({matches}) + 1 AS BIGINT) AS w "
        f"FROM {cand} c JOIN {sig} sa ON sa.doc_id = c.doc_a "
        f"JOIN {sig} sb ON sb.doc_id = c.doc_b"
    )


def prw_edges_sql(wpairs: str) -> str:
    """Symmetrize weighted pairs into directed weighted edges."""
    return (
        f"SELECT doc_a AS src, doc_b AS dst, w FROM {wpairs} "
        f"UNION ALL SELECT doc_b AS src, doc_a AS dst, w FROM {wpairs}"
    )


def prw_wout_sql(edges: str) -> str:
    return (
        f"SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM {edges} GROUP BY src"
    )


def prw_iter_sql(d: str, nodes: str, edges: str, wout: str, r: str) -> str:
    """One weighted step: r'(v) = teleport/N + sum of weight-proportional
    damped shares — identical shape to ``pr_iter_sql`` with outdeg
    replaced by the out-weight total."""
    n = f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {nodes})"
    share = X.idiv(d, "17 * r.r * e.w", "20 * g.wout")
    return f"""
SELECT v.doc_id,
  {X.idiv(d, str(PR_TELEPORT), n)} + CAST(COALESCE(c.m, 0) AS BIGINT) AS r
FROM {nodes} v
LEFT JOIN (
  SELECT e.dst AS doc_id, CAST(SUM({share}) AS BIGINT) AS m
  FROM {edges} e
  JOIN {r} r ON r.doc_id = e.src
  JOIN {wout} g ON g.src = e.src
  GROUP BY e.dst
) c ON v.doc_id = c.doc_id
"""


def pagerank_weighted_sql(d: str, table: str = "documents") -> str:
    """Oracle form: signatures, band candidates, weights, and the five
    weighted steps unrolled as one WITH list (DuckDB materializes the
    multiply-referenced CTEs)."""
    from .dedup_text import (
        minhash_band_selects,
        minhash_signatures_sql,
    )

    nodes = f"(SELECT doc_id FROM {table})"
    bands = "\nUNION ALL\n".join(minhash_band_selects(d))
    parts = [
        f"sig AS ({minhash_signatures_sql(d, table)})",
        f"bands AS ({bands})",
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b ON a.band_id = b.band_id "
        "AND a.band_key = b.band_key AND a.doc_id < b.doc_id)",
        f"wp AS ({prw_weights_sql('cand', 'sig')})",
        f"edges AS ({prw_edges_sql('wp')})",
        f"wout AS ({prw_wout_sql('edges')})",
        f"r0 AS ({pr_init_sql(d, nodes)})",
    ]
    for i in range(1, PR_ITERS + 1):
        parts.append(
            f"r{i} AS ({prw_iter_sql(d, nodes, 'edges', 'wout', f'r{i - 1}')})"
        )
    return f"WITH {', '.join(parts)} {pr_final_sql(f'r{PR_ITERS}')}"


def pagerank_weighted_df(spark, table: str = "documents"):
    """Engine side: the staged MinHash parts already carry signatures AND
    candidates (checkpointed once — the same shared-stage discipline as
    cluster_representatives); the weighted pairs are checkpointed once and
    symmetrized into the edge relation ``_pagerank_active`` runs on, with
    the matching-slot weight ``w``."""
    from .dedup_text import _staged_minhash_parts
    from .staging import staged_views

    _sh, sig, cand, _sizes = _staged_minhash_parts(spark, table, light=True)
    with staged_views(spark, sig=sig, cand=cand, checkpoint=False) as v0:
        wp = spark.sql(prw_weights_sql(v0.cand, v0.sig))
        with staged_views(spark, wp=wp) as vw:
            edges = spark.sql(prw_edges_sql(vw.wp))
            return _pagerank_active(spark, table, edges, "w")


def cr_reach_cte(edges: str, table: str = "documents") -> str:
    """The recursive min-label reach body (dedup_cluster's oracle rule)
    over an ``edges`` relation — shared verbatim by the one-shot registry
    oracle and the stepwise scale-gate runner so the two cannot drift."""
    return f"""reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM {table}
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN {edges} e ON e.src = r.node
)"""


def cr_final_sql(comp: str, r: str) -> str:
    """Representative selection over ``comp`` (doc_id, cluster_id) and the
    final rank relation ``r`` — highest-centrality member per cluster
    (rank desc, doc_id asc tiebreak).  Shared by the one-shot registry
    oracle and the stepwise scale-gate runner."""
    return f"""
WITH ranked AS (
  SELECT c.cluster_id, c.doc_id, r.r AS rank_pico,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY r.r DESC, c.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
  FROM {comp} c JOIN {r} r ON r.doc_id = c.doc_id
)
SELECT cluster_id, doc_id AS rep_doc_id, rank_pico AS rep_rank_pico,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""


def cluster_representatives_sql(d: str, table: str = "documents") -> str:
    """Oracle for the composed representative-selection query: connected
    components (recursive min-label CTE, dedup_cluster's oracle rule) and
    the 5-step PageRank share ONE candidate-pair CTE; the representative
    of each cluster is its highest-centrality member (rank desc, doc_id
    asc tiebreak)."""
    from .dedup_text import minhash_lsh_pairs_sql as pairs_sql

    nodes = f"(SELECT doc_id FROM {table})"
    iters = [
        f"r{i} AS ({pr_iter_sql(d, nodes, 'edges', 'deg', f'r{i - 1}')})"
        for i in range(1, PR_ITERS + 1)
    ]
    final = cr_final_sql("comp", f"r{PR_ITERS}")
    assert final.lstrip().startswith("WITH ranked AS")
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql(d, table)}),
edges AS ({pr_edges_sql('pairs')}),
{cr_reach_cte('edges', table)},
comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
deg AS ({pr_deg_sql('edges')}),
r0 AS ({pr_init_sql(d, nodes)}),
{', '.join(iters)},
{final.lstrip().removeprefix("WITH ")}"""


def cluster_representatives_df(spark, table: str = "documents"):
    """Engine side of the composition: ONE staged candidate-pair stage
    feeds both the min-label-propagation components and the PageRank loop
    (the policy upgrade pagerank's docstring promises — keep the
    most-connected copy, not the arbitrary min id); the per-cluster
    window is bounded by duplicate-group size; the selection is the
    oracle's own ``cr_final_sql``."""
    from . import dedup_cluster as DC
    from . import dedup_text as DD
    from .staging import staged_views

    _sh, _sig, pairs, _sizes = DD._staged_minhash_parts(spark, table, light=True)
    docs = spark.table(table)
    # the symmetrized edge set is built and checkpointed ONCE and shared by
    # both halves (components join it every propagation round, PageRank
    # every iteration)
    edges = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .unionAll(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .localCheckpoint()
    )
    clusters = DC.dedup_clusters_df(pairs, docs, edges=edges).select(
        "doc_id", "cluster_id"
    )
    ranks = pagerank_df(spark, table, edges=edges).selectExpr(
        "doc_id", "rank_pico AS r"
    )
    with staged_views(spark, clusters=clusters, ranks=ranks) as v:
        return spark.sql(cr_final_sql(v.clusters, v.ranks))
