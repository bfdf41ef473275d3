"""Similarity search over embedding columns (array<float>).

Two tiers, per the north star:

- **Brute-force cosine top-k** — the exact baseline.  Dot products via
  ``zip_with``/``aggregate`` higher-order functions with an exact DECIMAL
  accumulator so Spark and the DuckDB oracle agree bit-for-bit (raw double
  accumulation would drift with summation order).  At scale this is one
  broadcast of the query vector + a map-side projection + a top-k
  (TakeOrdered) — no shuffle of the corpus.

- **LSH-bucketed ANN** (random-hyperplane signatures, multi-table) — the
  100 TB path: signatures computed vectorized in a pandas UDF (Arrow
  batches, numpy matmul), candidates found by equi-join on (table, bucket)
  keys, exact cosine re-ranking only on candidates.  Corpus shuffle is
  proportional to bucket collisions, not corpus size; table count L and
  hyperplanes-per-table P are the recall/cost knobs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import standing_index as SI
from .standing_index import _read_index_or_empty

# Exact decimal dot product of two float arrays, both engines.  Floats are
# widened to DOUBLE before multiplying (DuckDB's float->decimal cast is
# lossy — see functions/dialect.py), products rounded into DECIMAL(30,15)
# and summed exactly.

_DOT_ACC = "CAST(0 AS DECIMAL(30,15))"


def dot_spark(a: str, b: str) -> str:
    prod = f"zip_with({a}, {b}, (x, y) -> CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(30,15)))"
    return (
        f"CAST(aggregate({prod}, {_DOT_ACC}, "
        f"(acc, v) -> CAST(acc + v AS DECIMAL(30,15))) AS DOUBLE)"
    )


def cosine_from_parts(dot: str, na: str, nb: str) -> str:
    """THE cosine assembly — one definition of the zero-norm guard, the
    division/SQRT association order, and the 1e-8 rounding, shared by
    cosine_spark and every norm-hoisted form (the dense legs of the
    dense+sparse fusions), so the cross-form bit-stability contract is
    enforced by construction, not by comment."""
    from ..functions.dialect import fround

    return (
        f"(CASE WHEN {na} = 0.0 OR {nb} = 0.0 THEN 0.0 "
        f"ELSE {fround(f'{dot} / (SQRT({na}) * SQRT({nb}))', 8)} END)"
    )


def cosine_spark(a: str, b: str) -> str:
    return cosine_from_parts(
        dot_spark(a, b), dot_spark(a, a), dot_spark(b, b)
    )


def cosine_duck_cte(vec_table: str, query_pred: str) -> str:
    """DuckDB oracle: per-element lateral expansion + exact decimal sums,
    computing cosine(corpus row, the single query row)."""
    return f"""
WITH q AS (SELECT embedding AS qe FROM {vec_table} WHERE {query_pred}),
ex AS (
  SELECT e.vec_id, e.label, e.embedding, q.qe,
         unnest(range(1, len(e.embedding) + 1)) AS i
  FROM {vec_table} e, q
),
prods AS (
  SELECT vec_id, label,
    CAST(CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) AS DECIMAL(30,15)) AS pab,
    CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,15)) AS paa,
    CAST(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) AS DECIMAL(30,15)) AS pqq
  FROM ex
),
sums AS (
  SELECT vec_id, label,
    CAST(SUM(pab) AS DOUBLE) AS dot,
    CAST(SUM(paa) AS DOUBLE) AS na,
    CAST(SUM(pqq) AS DOUBLE) AS nq
  FROM prods GROUP BY vec_id, label
)
SELECT vec_id, label,
  CASE WHEN na = 0.0 OR nq = 0.0 THEN 0.0
       ELSE (floor((dot / (SQRT(na) * SQRT(nq))) * 100000000.0 + 0.5) / 100000000.0)
       END AS cosine
FROM sums
"""


def lsh_ranked_duck_cte(vec_table: str = "embeddings") -> str:
    """The SRP-LSH candidate + exact-cosine rank CTE prefix of the recall
    audit's LSH leg (the DuckDB twin of ``ann_lsh_topk``'s candidate rule,
    so the audit can never drift from the operator it audits): exposes
    ``lsh_ranked`` (vec_id, cosine, rn) — bucket-collision candidates of
    the vec_id=0 query, exact-decimal cosine, (cosine desc, vec_id) row
    numbers."""
    return f"""
WITH buckets AS ({srp_buckets_duck_sql(vec_table)}),
qb AS (SELECT tbl, bucket FROM buckets WHERE vec_id = 0),
cand AS (
  SELECT DISTINCT b.vec_id
  FROM buckets b JOIN qb ON b.tbl = qb.tbl AND b.bucket = qb.bucket
  WHERE b.vec_id <> 0
),
cos AS ({cosine_duck_cte(vec_table, "vec_id = 0")}),
lsh_ranked AS (
  SELECT c.vec_id, c.cosine,
         row_number() OVER (ORDER BY c.cosine DESC, c.vec_id) AS rn
  FROM cos c JOIN cand USING (vec_id)
)"""


def cosine_multi_duck_cte(vec_table: str, query_pred: str, corpus_pred: str) -> str:
    """DuckDB oracle, multi-query form: cosine(corpus row, EVERY query
    row) keyed by (query_id, vec_id) — same per-element lateral expansion
    + exact decimal sums + 1e-8 rounding as the single-query CTE."""
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe
           FROM {vec_table} WHERE {query_pred}),
ex AS (
  SELECT q.query_id, e.vec_id, e.embedding, q.qe,
         unnest(range(1, len(e.embedding) + 1)) AS i
  FROM {vec_table} e, q
  WHERE {corpus_pred}
),
prods AS (
  SELECT query_id, vec_id,
    CAST(CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) AS DECIMAL(30,15)) AS pab,
    CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,15)) AS paa,
    CAST(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) AS DECIMAL(30,15)) AS pqq
  FROM ex
),
sums AS (
  SELECT query_id, vec_id,
    CAST(SUM(pab) AS DOUBLE) AS dot,
    CAST(SUM(paa) AS DOUBLE) AS na,
    CAST(SUM(pqq) AS DOUBLE) AS nq
  FROM prods GROUP BY query_id, vec_id
)
SELECT query_id, vec_id,
  CASE WHEN na = 0.0 OR nq = 0.0 THEN 0.0
       ELSE (floor((dot / (SQRT(na) * SQRT(nq))) * 100000000.0 + 0.5) / 100000000.0)
       END AS cosine
FROM sums
"""


# ---------------------------------------------------------------------------
# LSH ANN — deterministic integer sign-random-projection (Charikar SRP with
# md5-derived ±1 hyperplanes over 2^20-quantized embeddings).
#
# Why integer, not Gaussian: with ±1 plane entries and integer-quantized
# vectors the signature is EXACT integer arithmetic — the same bucket ids
# come out of the numpy fast path, a SQL engine, or any future re-index run.
# That makes the index (a) DuckDB-oracle-able end-to-end (the driver's
# ann_topk row is hash-green, not rows-only) and (b) stable for incremental
# maintenance: re-bucketing history after adding vectors can never churn
# buckets the way float rounding order could.  Recall is the standard SRP
# guarantee — ±1 projections approximate angles as well as Gaussian ones
# for LSH purposes (verified >= 0.5 recall@10 in tests).
# ---------------------------------------------------------------------------

LSH_TABLES = 8
LSH_PLANES = 4
SRP_SCALE = 1 << 20  # quantization: q[d] = floor(x[d] * 2^20 + 0.5), exact in IEEE
VEC_DIM = 64  # embedding width the SRP planes and JL signs are drawn for


def _srp_sign(t: int, p: int, d: int) -> int:
    """±1 plane entry from the first 15 md5 hex chars of 'plane:t:p:d' —
    the Python twin of the cross-engine ``dialect.md5_int`` rule."""
    import hashlib

    h = int(hashlib.md5(f"plane:{t}:{p}:{d}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 1 else -1


def _srp_signs(dim: int) -> np.ndarray:
    """Plane-sign matrix, shape (T*P, dim), int64 ±1."""
    return np.array(
        [
            [_srp_sign(t, p, d) for d in range(dim)]
            for t in range(LSH_TABLES)
            for p in range(LSH_PLANES)
        ],
        dtype=np.int64,
    )


def srp_buckets_duck_sql(vec_table: str = "embeddings") -> str:
    """DuckDB oracle twin of ``with_lsh_buckets``: (vec_id, tbl, bucket) via
    the same quantization + md5-sign rule, all integer-exact."""
    from ..functions import dialect as X

    sign = X.md5_int(
        X.DUCK,
        "'plane:' || CAST(t AS VARCHAR) || ':' || CAST(p AS VARCHAR) "
        "|| ':' || CAST(d AS VARCHAR)",
    )
    return f"""
SELECT vec_id, t AS tbl,
       CAST(SUM((CASE WHEN dot >= 0 THEN 1 ELSE 0 END) * (1 << p)) AS INT) AS bucket
FROM (
  SELECT qv.vec_id, pl.t, pl.p, SUM(qv.q * pl.s) AS dot
  FROM (
    SELECT vec_id, d,
           CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * {float(SRP_SCALE)} + 0.5)
                AS BIGINT) AS q
    FROM (SELECT vec_id, embedding, unnest(range({VEC_DIM})) AS d FROM {vec_table})
  ) qv
  JOIN (
    SELECT t, p, d,
           (CASE WHEN {sign} % 2 = 1 THEN 1 ELSE -1 END) AS s
    FROM (SELECT unnest(range({LSH_TABLES})) AS t)
    CROSS JOIN (SELECT unnest(range({LSH_PLANES})) AS p)
    CROSS JOIN (SELECT unnest(range({VEC_DIM})) AS d)
  ) pl ON qv.d = pl.d
  GROUP BY 1, 2, 3
) GROUP BY vec_id, t
"""


def with_lsh_buckets(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Adds an array<int> of LSH_TABLES bucket ids (SRP signatures).

    Vectorized: each Arrow batch becomes one integer numpy (n, VEC_DIM) @
    (VEC_DIM, T*P) matmul — the idiomatic Pandas-UDF fast path.  float32 ->
    float64 widening, *2^20, floor(+0.5) and the int64 dot are all exact,
    so the buckets match ``srp_buckets_duck_sql`` bit-for-bit.
    """
    signs = _srp_signs(VEC_DIM).T  # (VEC_DIM, T*P)
    weights = np.power(2, np.arange(LSH_PLANES))

    @F.pandas_udf("array<int>")
    def buckets(v: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(x, dtype=np.float64) for x in v])  # (n, VEC_DIM)
        q = np.floor(mat * float(SRP_SCALE) + 0.5).astype(np.int64)
        bits = (q @ signs >= 0).reshape(len(v), LSH_TABLES, LSH_PLANES)
        ids = (bits * weights).sum(axis=2).astype(np.int32)  # (n, T)
        return pd.Series(list(ids))

    return df.withColumn("lsh_buckets", buckets(F.col(vec_col)))


def ann_candidates(df: DataFrame, query_df: DataFrame) -> DataFrame:
    """Candidate pairs: corpus rows sharing >=1 (table, bucket) with a query
    row.  Both sides explode their signature array to (table, bucket) keys;
    the join is a plain equi-join (broadcast when the query side is small).

    Scale shape: a corpus row can collide with the same query in several
    tables, so candidates need a dedup — but running ``distinct()`` over the
    embedding payloads would drag two float-arrays per row through the
    exchange (the dominant cost at 100 TB).  Instead the distinct runs on
    the bare ``(q_vec_id, c_vec_id)`` id pair; embeddings re-attach after —
    query side broadcast, corpus side one narrow shuffle keyed on vec_id."""

    def explode_buckets(d: DataFrame, prefix: str) -> DataFrame:
        return d.select(
            F.col("vec_id").alias(f"{prefix}_vec_id"),
            F.posexplode("lsh_buckets").alias("tbl", f"{prefix}_bucket"),
        )

    corpus = explode_buckets(df, "c")
    query = explode_buckets(query_df, "q")
    pairs = (
        corpus.join(
            F.broadcast(query),
            (corpus["tbl"] == query["tbl"])
            & (corpus["c_bucket"] == query["q_bucket"]),
        )
        .filter(F.col("c_vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "c_vec_id")
        .distinct()
    )
    q_emb = query_df.select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    c_emb = df.select(
        F.col("vec_id").alias("c_vec_id"), F.col("embedding").alias("c_embedding")
    )
    return (
        pairs.join(F.broadcast(q_emb), "q_vec_id")
        .join(c_emb, "c_vec_id")
        .select("q_vec_id", "c_vec_id", "q_embedding", "c_embedding")
    )


def ann_topk(df: DataFrame, query_df: DataFrame, k: int = 10) -> DataFrame:
    """LSH ANN: candidates -> exact cosine re-rank -> top-k per query."""
    from pyspark.sql import Window

    cand = ann_candidates(df, query_df)
    scored = cand.withColumn(
        "cosine", F.expr(cosine_spark("c_embedding", "q_embedding"))
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("cosine").desc(), F.col("c_vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_vec_id", F.col("c_vec_id").alias("vec_id"), "cosine", "rn")
    )


# ---------------------------------------------------------------------------
# IVF ANN (coarse k-means quantizer; seeded numpy Lloyd's on a canonically
# ordered bounded sample — fully reproducible outside Spark, so the ANN
# family is value-oracled by a Python recompute in tools/check_oracle).
# The persisted index's maintenance is the standing_index core keyed by
# ``cell``; the centroids sidecar is never touched by it.
# ---------------------------------------------------------------------------

IVF_CLUSTERS = 16
IVF_NPROBE = 4
IVF_SEED = 42
IVF_TRAIN_SAMPLE = 100_000  # quantizer never trains on more vectors than this
IVF_ITERS = 20


def lloyd_fit(mat: np.ndarray, k: int, rng: np.random.RandomState) -> np.ndarray:
    """Deterministic Lloyd's k-means: seeded init on sample rows, 20 rounds
    of vectorized assign/mean.  THE quantizer-fit definition — the IVF
    coarse quantizer, the PQ codebooks, and the check_oracle Python twin
    all call this on a canonically ordered (vec_id ASC) float64 matrix, so
    centroids are bit-identical everywhere (numpy reductions on the same
    rows in the same order).  Empty cells keep their previous centroid."""
    idx = rng.permutation(len(mat))[:k]
    cent = mat[idx].copy()
    for _ in range(IVF_ITERS):
        d2 = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                cent[c] = mat[mask].mean(0)
    return cent


def _train_matrix(df: DataFrame, vec_col: str) -> np.ndarray:
    """Bounded deterministic training sample as a float64 matrix in
    canonical vec_id order.  Over-budget corpora keep the IVF_TRAIN_SAMPLE
    rows with the smallest md5(vec_id) — a hash-ordered top-N (distributed
    heap, no full shuffle) that any engine can reproduce exactly, unlike
    partition-seeded Bernoulli sampling."""
    n = df.count()
    train = df
    if n > IVF_TRAIN_SAMPLE:
        train = df.orderBy(
            F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
        ).limit(IVF_TRAIN_SAMPLE)
    rows = train.select("vec_id", vec_col).collect()
    rows.sort(key=lambda r: r[0])
    return np.asarray([np.asarray(r[1], dtype=np.float64) for r in rows])


# Quantizer cache: (semantic key) -> centers ndarray.  Training is a
# build-the-index step, not a per-query step — repeated queries against the
# same corpus reuse the persisted centroids, exactly like a stored IVF index.
_IVF_MODELS: dict = {}


def _ivf_centers(df: DataFrame, vec_col: str) -> np.ndarray:
    # row count in the key: a FILTERED view shares the full table's
    # inputFiles, so a files-only key would hand the corpus-fit centers to
    # a subset (or vice versa) depending on call order.  In-memory inputs
    # (createDataFrame — no inputFiles) get NO cache entry at all: id(df)
    # is recyclable after GC, so keying on it can hand centroids fit on
    # unrelated data to a later DataFrame (same refusal as _pq_codebooks)
    files = tuple(sorted(df.inputFiles()))
    if not files:
        mat = _train_matrix(df, vec_col)
        return lloyd_fit(mat, IVF_CLUSTERS, np.random.RandomState(IVF_SEED))
    key = (
        files,
        df.count(),
        vec_col,
        IVF_CLUSTERS,
        IVF_SEED,
    )
    hit = _IVF_MODELS.get(key)
    if hit is not None:
        return hit
    mat = _train_matrix(df, vec_col)
    centers = lloyd_fit(mat, IVF_CLUSTERS, np.random.RandomState(IVF_SEED))
    _IVF_MODELS[key] = centers
    return centers


def assign_cells_udf(centers: np.ndarray):
    """Nearest-centroid pandas UDF over <= IVF_CLUSTERS broadcast centroids
    — THE assignment rule (also the index-append router and the oracle
    twin): argmin over ||c||^2 - 2 x.c (||x||^2 constant per row), ties to
    the lowest cell id (argmin order)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    c_sq = (centers**2).sum(axis=1)

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        d = c_sq[None, :] - 2.0 * (mat @ centers.T)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return assign


def ivf_assignments(df: DataFrame, vec_col: str = "embedding"):
    """Assign every vector to a cell using the (cached) coarse quantizer.

    Returns (assigned_df with `cell` column, centers ndarray).  The quantizer
    trains once on a bounded deterministic sample (<= IVF_TRAIN_SAMPLE
    vectors) and is cached per corpus — repeat queries never re-fit.  At
    100 TB the corpus is then *stored* partitioned by cell, so a query scans
    only nprobe/k of the data.
    """
    centers = _ivf_centers(df, vec_col)
    assigned = df.withColumn("cell", assign_cells_udf(centers)(F.col(vec_col)))
    return assigned, centers


def _write_centroids(spark, centers: np.ndarray, path: str) -> None:
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centers)]
    spark.createDataFrame(rows, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}.centroids")


def _read_centroids(spark, path: str) -> np.ndarray:
    """Load the persisted coarse quantizer as the ordered centroid matrix
    (argmin row index == cell id) — the one routing artifact every
    post-build IVF path (append, streamed ingest, indexed search) shares."""
    cent_rows = sorted(
        (
            (r["cell"], r["centroid"])
            for r in spark.read.parquet(f"{path}.centroids").collect()
        )
    )
    # persisted cells are the contiguous 0..k-1 range build_ivf_index wrote;
    # sorting restores centroid row order so argmin index == cell id
    assert [c for c, _ in cent_rows] == list(range(len(cent_rows)))
    return np.asarray([v for _, v in cent_rows], dtype=np.float64)


def ivf_fit_centroids(df: DataFrame, path: str, vec_col: str = "embedding") -> None:
    """Fit-and-persist ONLY the coarse quantizer (bounded deterministic
    Lloyd on <= IVF_TRAIN_SAMPLE vectors) — the bootstrap a pure streaming
    build needs: production ANN systems train the quantizer offline on a
    reference sample, then every ingest path routes into the frozen
    centroids.  ``build_ivf_index`` = this + one full assignment pass."""
    centers = _ivf_centers(df, vec_col)
    _write_centroids(df.sparkSession, centers, path)


def build_ivf_index(df: DataFrame, path: str, vec_col: str = "embedding") -> None:
    """Materialize the IVF index: the corpus rewritten as parquet landed as
    the ``cell=<c>/batch_id=-1`` generation, centroids stored alongside
    (``<path>.centroids``).

    This is the 100 TB shape the in-memory ``ivf_topk`` only approximates:
    once the corpus is *stored* cell-partitioned, a query's nprobe filter is
    partition pruning at the file-listing level — Spark never opens, reads,
    or schedules the other cells' files at all."""
    assigned, centers = ivf_assignments(df, vec_col)
    SI.land_build(assigned, path, "cell")
    _write_centroids(df.sparkSession, centers, path)


def ivf_index_append(
    spark, path: str, new_vecs: DataFrame, vec_col: str = "embedding"
) -> None:
    """Incremental index maintenance: ``ivf_index_ingest_batch`` at the
    next append id (``standing_index.append_batch_id``).  NEW vectors
    route through the PERSISTED centroids (no re-fit — the production
    contract: the coarse quantizer is a build-time artifact, ingest only
    routes into it), so they land exactly where a full rebuild would put
    them, and nprobe partition pruning keeps holding without touching old
    files.  Re-clustering (when drift makes cells lopsided) is
    build_ivf_index again — an offline rebuild, exactly like production
    ANN systems.  Small-file debt from repeated appends is settled by
    ``compact_ivf_index``."""
    ivf_index_ingest_batch(
        spark, new_vecs, SI.append_batch_id(path, "cell", ()), path, vec_col
    )


def ivf_index_ingest_batch(
    bspark, batch_df: DataFrame, batch_id: int, path: str,
    vec_col: str = "embedding",
) -> None:
    """One batch's replay-idempotent IVF landing: vectors route through
    the persisted centroids (assign_cells_udf, the rule every IVF path
    uses) and land as the batch's ``cell=<c>/batch_id=<n>`` slices.  The
    quantizer must already be persisted — ingest never re-fits; a pure
    streaming build bootstraps with ``ivf_fit_centroids``."""
    centers = _read_centroids(bspark, path)
    SI.land_batch(
        batch_df.withColumn("cell", assign_cells_udf(centers)(F.col(vec_col))),
        batch_id, path, "cell",
    )


def compact_streamed_ivf_index(
    spark, path: str, upto_batch_id: int
) -> dict[str, int]:
    """Compaction of each cell below the committed watermark;
    ``{cell_dir: file_count}``."""
    return SI.compact_streamed(spark, path, "cell", upto_batch_id)


def compact_ivf_index(spark, path: str) -> dict[str, int]:
    """Compaction of everything landed (build, appends, stream batches)
    into each cell's ``batch_id=-1`` generation.  The centroids sidecar
    needs no touch (appends never change it)."""
    return SI.compact_all(spark, path, "cell")


def ivf_topk_indexed(
    spark, path: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """IVF search against a persisted index: rank stored centroids, read only
    the nprobe nearest cell partitions (partition pruning — check
    ``df.inputFiles()``), exact cosine re-rank inside them."""
    probe_cells = _route_cells(_read_centroids(spark, path), query_vec)
    cand = _read_index_or_empty(
        spark, path, "vec_id bigint, embedding array<float>, cell int"
    ).filter(F.col("cell").isin(probe_cells))
    return _cosine_topk(cand, query_vec, k)


def _cosine_topk(cand: DataFrame, query_vec: list[float], k: int) -> DataFrame:
    """THE single-query IVF tail shared by ``ivf_topk`` and
    ``ivf_topk_indexed``: exact cosine of the probed cells' vectors against
    the query (FLOAT literal), top ``k`` by (cosine DESC, vec_id)."""
    q_lit = "array(" + ", ".join(f"CAST({float(x)!r} AS FLOAT)" for x in query_vec) + ")"
    scored = cand.withColumn("cosine", F.expr(cosine_spark("embedding", q_lit)))
    return (
        scored.orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .select("vec_id", "cell", "cosine")
        .limit(k)
    )


def per_query_topk(scored: DataFrame, k: int) -> DataFrame:
    """THE per-query top-k discipline shared by every multi-query search
    (exact cosine_multi and the ANN multi forms): a partition-local
    row_number pre-cut — per-(query, input-partition) top-k under the
    total order (cosine desc, vec_id) is a superset of the global
    per-query top-k, because a global winner beats its own partition's
    competitors a fortiori — bounds the final rank window to
    <= |Q| x k x partitions rows.  Expects (query_id, vec_id, cosine)
    columns; extra columns ride through."""
    from pyspark.sql import Window

    w_pre = Window.partitionBy("query_id", "pid").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    cut = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("rn", F.row_number().over(w_pre))
        .filter(F.col("rn") <= k)
        .drop("pid", "rn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        cut.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def ivf_multi(
    df: DataFrame, queries: dict[int, list[float]], k: int = 10
) -> DataFrame:
    """Multi-query IVF search — the indexed dense analogue of bm25_multi:
    every query routes to its IVF_NPROBE nearest cells on the driver
    (|Q| x IVF_CLUSTERS distances, trivially bounded), the (query_id,
    cell) probe table EQUI-joins onto the cell assignments (the routing
    key IS the join key — no BNLJ, unlike the exact brute-force multi),
    exact cosine re-ranks inside the probed cells, and the per-query
    top-k runs through the shared ``per_query_topk`` pre-cut discipline.
    At 100 TB the corpus is stored partitioned by cell, so the probe join
    prunes at the file listing and each query set costs |Q| x nprobe cell
    scans."""
    spark = df.sparkSession
    assigned, centers = ivf_assignments(df)
    probes = _probe_table(spark, centers, queries)
    scored = assigned.join(F.broadcast(probes), "cell").select(
        "query_id",
        "vec_id",
        "cell",
        F.expr(cosine_spark("embedding", "qe")).alias("cosine"),
    )
    return per_query_topk(scored, k)


def _probe_table(spark, centers: np.ndarray, queries: dict[int, list[float]]):
    """The (query_id, cell, qe) probe relation both ``ivf_multi`` forms
    broadcast: each query's IVF_NPROBE nearest cells, with the query
    vector riding along so ONE broadcast hash join assigns both query
    ownership and the scoring vector inside the probed cells (two
    separate (query_id, cell) + (query_id, qe) broadcasts cost a second
    broadcast build + join per call for the same |Q| x nprobe rows)."""
    rows: list[tuple[int, int, list[float]]] = []
    for qid in sorted(queries):
        qe = [float(x) for x in queries[qid]]
        rows += [(qid, c, qe) for c in _route_cells(centers, queries[qid])]
    return spark.createDataFrame(rows, "query_id int, cell int, qe array<float>")


def _ranked_cells(centers: np.ndarray, query_vec: list[float]) -> list[int]:
    """Every cell id, nearest centroid (squared L2) to ``query_vec`` first —
    THE routing order; a search probes a prefix of it."""
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = ((centers - q) ** 2).sum(axis=1)
    return [int(c) for c in np.argsort(d2)]


def _route_cells(centers: np.ndarray, query_vec: list[float]) -> list[int]:
    """A query's IVF_NPROBE nearest cells — THE routing rule, shared by the
    probe table, the pruned-scan cell union and the single-query searches
    so they cannot drift."""
    return _ranked_cells(centers, query_vec)[:IVF_NPROBE]


def ivf_multi_indexed(
    spark,
    path: str,
    queries: dict[int, list[float]],
    k: int = 10,
    centers: np.ndarray | None = None,
) -> DataFrame:
    """Multi-query IVF search against a PERSISTED index — the form the 30x
    soak motivates: the online ``ivf_multi`` re-assigns the whole corpus
    per call (one Arrow matmul per batch, O(corpus)); here routing reads
    the stored centroids (<= IVF_CLUSTERS rows), the UNION of all
    queries' probe cells prunes the cell-partitioned parquet at the FILE
    LISTING (literal isin filter — joins don't prune, literals do), and
    only then does the (query_id, cell) probe table equi-join assign
    query ownership inside the pruned scan.  Per-query top-k rides the
    shared ``per_query_topk`` pre-cut.  Bit-identical to ``ivf_multi``
    on the same corpus by construction (same centroids, same routing
    rule, same scoring) — parity pytest-pinned.  ``centers`` lets a
    caller that already read the centroid sidecar (e.g. concurrently
    with its other standing-file reads) skip the re-read."""
    if centers is None:
        centers = _read_centroids(spark, path)
    probes = _probe_table(spark, centers, queries)
    all_cells = sorted(
        {c for qid in queries for c in _route_cells(centers, queries[qid])}
    )
    cand = _read_index_or_empty(
        spark, path, "vec_id bigint, embedding array<float>, cell int"
    ).filter(F.col("cell").isin(all_cells))
    scored = cand.join(F.broadcast(probes), "cell").select(
        "query_id",
        "vec_id",
        "cell",
        F.expr(cosine_spark("embedding", "qe")).alias("cosine"),
    )
    return per_query_topk(scored, k)


def ivf_topk(
    df: DataFrame, query_vec: list[float], k: int = 10, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """IVF search: rank cells by centroid distance to the query, scan only
    the ``nprobe`` nearest cells, exact cosine re-rank inside them.
    ``nprobe`` is THE recall/cost knob (more cells = more recall, more
    scan) — the audit sweeps it to pin the knob's monotonicity."""
    assigned, centers = ivf_assignments(df)
    probe_cells = _ranked_cells(centers, query_vec)[:nprobe]
    return _cosine_topk(
        assigned.filter(F.col("cell").isin(probe_cells)), query_vec, k
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication (Abbas et al. 2023, "SemDeDup: Data-
# efficient learning at web-scale through semantic deduplication"): cluster
# the embedding space coarsely, then prune near-identical items WITHIN each
# cluster, so the pairwise-cosine step is quadratic only in the cluster
# size, never the corpus.
#
# Two deliberate deltas from the paper, both for determinism/oracle-ability:
# - the coarse clustering is the deterministic SRP bucket (table 0 of the
#   LSH family above) instead of k-means — same role (angular locality),
#   but integer-exact and therefore reproducible in SQL;
# - within a cluster the keep rule is "prune a vector iff some LOWER-id
#   cluster-mate has cosine >= tau" (greedy keep-min, transitive-chain
#   pruning) instead of distance-to-centroid ranking.  Same semantics
#   family as dedup_cluster's keep-min canonical docs.
#
# Scale design: bucket assignment is one Arrow-batched matmul (no shuffle);
# the pairwise step is an equi self-join on the cluster key — the shuffle
# moves each vector once, and work is sum(cluster^2), bounded by the bucket
# granularity knob (LSH_PLANES), not corpus^2.
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.35
# Cluster key = the concatenated bucket bits of the first `t` SRP tables
# (t * LSH_PLANES bits -> 16^t clusters).  t is DERIVED from the corpus
# size so the expected cluster size stays at SEMDEDUP_TARGET_CLUSTER no
# matter how much the corpus grows (the round-4 watch item: a constant t
# means in-cluster pair work grows ~(n/16^t)^2 with the corpus).  The
# derivation is integer-threshold comparisons (never log2 — cross-engine
# 1-ulp drift could flip a ceil at the boundary), identical on the Spark
# side (Python, from df.count()) and in the DuckDB oracle (CASE over
# COUNT(*)).  The first soak run (SOAK.md) measured the 1-table version
# super-linear (16 clusters -> n^2/16 pairs); the round-4 fix hand-set 2
# tables; round 5 removed the hand-set knob.
SEMDEDUP_TARGET_CLUSTER = 4
# Cap below LSH_TABLES and at 7 so the concatenated key stays within INT32
# (7 tables * 4 bits = 28 bits), keeping the registered `cluster` column
# type stable across scales.
SEMDEDUP_MAX_TABLES = min(7, LSH_TABLES)


def semdedup_tables_for(n: int) -> int:
    """Smallest t with n <= SEMDEDUP_TARGET_CLUSTER * 2^(t*LSH_PLANES),
    clamped to [1, SEMDEDUP_MAX_TABLES] — expected cluster size stays at
    the target as the corpus grows 16x per step."""
    t = 1
    while (
        n > SEMDEDUP_TARGET_CLUSTER * (1 << (t * LSH_PLANES))
        and t < SEMDEDUP_MAX_TABLES
    ):
        t += 1
    return t


def _semdedup_tables_case_sql(vec_table: str) -> str:
    """The same derivation as a scalar SQL expression over COUNT(*)."""
    if SEMDEDUP_MAX_TABLES == 1:  # a zero-WHEN CASE would not parse
        return "1"
    whens = " ".join(
        f"WHEN cnt <= {SEMDEDUP_TARGET_CLUSTER * (1 << (t * LSH_PLANES))} THEN {t}"
        for t in range(1, SEMDEDUP_MAX_TABLES)
    )
    return (
        f"(SELECT CASE {whens} ELSE {SEMDEDUP_MAX_TABLES} END "
        f"FROM (SELECT COUNT(*) AS cnt FROM {vec_table}) z)"
    )

_Q = float(SRP_SCALE)
# Quantized-integer cosine: q[i] = floor(x[i] * 2^20 + 0.5) exactly as the
# SRP signatures quantize, dot/norms are exact BIGINT sums (64 dims x
# (2^20)^2 products ~ 2^46 << 2^63), and only the final divide runs in
# IEEE double over an identical expression tree — cross-engine identical
# AND ~10x cheaper than per-pair DECIMAL(30,15) lambda accumulation.
# Norms are precomputed per VECTOR, not per pair (the first soak's other
# super-linear cost: na/nb recomputed for every pair).


def _quantize_spark(vec: str) -> str:
    return f"transform({vec}, x -> CAST(floor(CAST(x AS DOUBLE) * {_Q} + 0.5) AS BIGINT))"


def _qnorm_spark(qvec: str) -> str:
    return (
        f"aggregate(transform({qvec}, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def semdedup_prune(df: DataFrame) -> DataFrame:
    """(vec_id, cluster, is_kept) — is_kept=false iff a lower-id vector in
    the same SRP cluster has quantized cosine >= SEMDEDUP_TAU."""
    # _clustered_quantized checkpoints: the prepared table feeds three
    # consumers (both join sides + the final keep-flag join), so the Arrow
    # bucket UDF and the quantization run once, not three times (same
    # pattern as dedup_cluster's edge-set checkpoint).
    b = _clustered_quantized(df)
    a = b.select(
        F.col("vec_id").alias("a_id"),
        F.col("cluster").alias("a_cluster"),
        F.col("qe").alias("qa"),
        F.col("nq").alias("na"),
    )
    pairs = a.join(
        b.select(
            F.col("vec_id").alias("b_id"),
            F.col("cluster").alias("b_cluster"),
            F.col("qe").alias("qb"),
            F.col("nq").alias("nb"),
        ),
        (F.col("a_cluster") == F.col("b_cluster")) & (F.col("a_id") < F.col("b_id")),
    )
    pruned = (
        pairs.filter(F.expr(_qcos_expr()) >= SEMDEDUP_TAU)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return (
        b.join(pruned.withColumn("hit", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(F.col("hit"), F.lit(False)).alias("is_pruned"),
        )
        .select("vec_id", "cluster", (~F.col("is_pruned")).alias("is_kept"))
    )


def semdedup_duck_sql(vec_table: str = "embeddings") -> str:
    """DuckDB oracle twin: same multi-table SRP cluster key, same quantized
    vectors/precomputed norms, same BIGINT pairwise dot + lower-id prune."""
    return f"""
WITH {_clustered_quantized_duck_ctes(vec_table)},
ex AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.qe AS qa, b.qe AS qb,
         unnest(range(1, len(a.qe) + 1)) AS i
  FROM c a JOIN c b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT a_id, b_id, CAST(SUM(qa[i] * qb[i]) AS BIGINT) AS dot
  FROM ex GROUP BY 1, 2
),
pruned AS (
  SELECT DISTINCT p.b_id AS vec_id FROM pairs p
  JOIN n nla ON nla.vec_id = p.a_id
  JOIN n nlb ON nlb.vec_id = p.b_id
  WHERE CASE WHEN nla.nq = 0 OR nlb.nq = 0 THEN 0.0
             ELSE (floor((CAST(p.dot AS DOUBLE) / (SQRT(CAST(nla.nq AS DOUBLE)) * SQRT(CAST(nlb.nq AS DOUBLE)))) * 1.0E8 + 0.5) / 1.0E8)
        END >= {SEMDEDUP_TAU}
)
SELECT c.vec_id, c.cluster, (p.vec_id IS NULL) AS is_kept
FROM c LEFT JOIN pruned p ON c.vec_id = p.vec_id
"""


# ---------------------------------------------------------------------------
# Hard-negative mining — the embedding-training prep step downstream of the
# dedup family: for every vector, the most-similar DIFFERENT-label neighbor
# among its SRP-cluster mates.  Contrastive/triplet training wants exactly
# these pairs (near the decision boundary); random negatives are too easy.
# Same bounded in-cluster quadratic and quantized-integer cosine as
# semdedup_prune, so the cost profile and oracle story carry over.
# ---------------------------------------------------------------------------


def _clustered_quantized_duck_ctes(vec_table: str = "embeddings") -> str:
    """DuckDB twin of ``_clustered_quantized``, shared by the semdedup and
    hard-negatives oracles so the cluster-key encoding and quantization rule
    live in ONE place per engine: CTEs ``buckets``/``cl``/``c`` (vec_id,
    cluster, label, qe) and ``n`` (vec_id, nq)."""
    nt = _semdedup_tables_case_sql(vec_table)
    return f"""buckets AS ({srp_buckets_duck_sql(vec_table)}),
cl AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN tbl < {nt}
             THEN CAST(bucket AS BIGINT) << (tbl * {LSH_PLANES})
             ELSE 0 END) AS INT) AS cluster
  FROM buckets GROUP BY vec_id
),
c AS (
  SELECT cl.vec_id, cl.cluster, e.label,
    list_transform(e.embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {_Q} + 0.5) AS BIGINT)) AS qe
  FROM cl JOIN {vec_table} e USING (vec_id)
),
n AS (
  SELECT vec_id, CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS nq
  FROM c
)"""


def _clustered_quantized(df: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """Shared SemDeDup/hard-negatives prep: (vec_id, cluster, qe, nq
    [, extras]), checkpointed (Arrow bucket UDF + quantization run once).
    The SRP table count is derived from the corpus size (the count is a
    metadata-cheap aggregate; the table is about to be scanned anyway)."""
    tables = semdedup_tables_for(df.count())
    cluster = sum(
        (F.element_at("lsh_buckets", t + 1).cast("long") * (1 << (t * LSH_PLANES)))
        for t in range(tables)
    )
    return (
        with_lsh_buckets(df)
        .withColumn("qe", F.expr(_quantize_spark("embedding")))
        .select(
            "vec_id",
            cluster.cast("int").alias("cluster"),
            "qe",
            F.expr(_qnorm_spark("qe")).alias("nq"),
            *extra_cols,
        )
        .localCheckpoint()
    )


_QDOT = (
    "aggregate(zip_with(qa, qb, (x, y) -> x * y), CAST(0 AS BIGINT), "
    "(acc, v) -> acc + v)"
)


def _qcos_expr() -> str:
    from ..functions.dialect import fround

    return (
        f"(CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE "
        f"{fround(f'CAST({_QDOT} AS DOUBLE) / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE)))', 8)} END)"
    )


def hard_negatives(df: DataFrame) -> DataFrame:
    """(vec_id, label, neg_id, neg_label, cosine) — per vector, the top-1
    most-similar cluster-mate with a different label (ties broken by lowest
    neg_id).  Vectors whose cluster holds no other-label mate emit no row
    (their negatives must come from a wider probe — the standard recall
    trade of cluster-scoped mining).  NULL-labeled vectors neither receive
    nor serve as negatives (label is required metadata for supervised
    mining), and zero-norm vectors are excluded entirely (cosine undefined;
    the 0.0 sentinel would outrank real negative-cosine mates)."""
    from pyspark.sql import Window as W_

    b = _clustered_quantized(df, extra_cols=("label",))
    a = b.select(
        F.col("vec_id").alias("a_id"),
        F.col("cluster").alias("a_cluster"),
        F.col("label").alias("a_label"),
        F.col("qe").alias("qa"),
        F.col("nq").alias("na"),
    )
    # label inequality alone excludes self-pairs (one label per vec_id);
    # NULL-labeled vectors fall out of BOTH sides of the <> (SQL
    # three-valued logic) — unlabeled rows can neither receive nor serve as
    # negatives, see the docstring.  Zero-norm vectors are excluded up
    # front: their sentinel cosine 0.0 would otherwise outrank genuinely
    # most-similar mates with negative cosine in the argmax.
    pairs = a.filter(F.col("na") > 0).join(
        b.filter(F.col("nq") > 0).select(
            F.col("vec_id").alias("b_id"),
            F.col("cluster").alias("b_cluster"),
            F.col("label").alias("b_label"),
            F.col("qe").alias("qb"),
            F.col("nq").alias("nb"),
        ),
        (F.col("a_cluster") == F.col("b_cluster"))
        & (F.col("a_label") != F.col("b_label")),
    ).withColumn("cosine", F.expr(_qcos_expr()))
    top = W_.partitionBy("a_id").orderBy(F.col("cosine").desc(), F.col("b_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(top))
        .filter(F.col("rn") == 1)
        .select(
            F.col("a_id").alias("vec_id"),
            F.col("a_label").alias("label"),
            F.col("b_id").alias("neg_id"),
            F.col("b_label").alias("neg_label"),
            "cosine",
        )
    )


def hard_negatives_duck_sql(vec_table: str = "embeddings") -> str:
    """DuckDB oracle twin of ``hard_negatives`` (same shared cluster/
    quantization CTEs as the semdedup oracle, same NULL-label and
    zero-norm exclusions)."""
    return f"""
WITH {_clustered_quantized_duck_ctes(vec_table)},
ex AS (
  SELECT a.vec_id AS a_id, a.label AS a_label, na.nq AS na,
         b.vec_id AS b_id, b.label AS b_label, nb.nq AS nb,
         a.qe AS qa, b.qe AS qb,
         unnest(range(1, len(a.qe) + 1)) AS i
  FROM c a JOIN c b
    ON a.cluster = b.cluster AND a.label <> b.label
  JOIN n na ON na.vec_id = a.vec_id AND na.nq > 0
  JOIN n nb ON nb.vec_id = b.vec_id AND nb.nq > 0
),
pairs AS (
  SELECT a_id, a_label, b_id, b_label, na, nb,
         CAST(SUM(qa[i] * qb[i]) AS BIGINT) AS dot
  FROM ex GROUP BY 1, 2, 3, 4, 5, 6
),
scored AS (
  SELECT a_id, a_label, b_id, b_label,
    (floor((CAST(dot AS DOUBLE) / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE)))) * 1.0E8 + 0.5) / 1.0E8) AS cosine
  FROM pairs
)
SELECT a_id AS vec_id, a_label AS label, b_id AS neg_id, b_label AS neg_label, cosine
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rn
  FROM scored
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011) — the ANN compression path.
# Vectors are split into PQ_M subspaces; each subspace gets a PQ_K-centroid
# codebook (seeded k-means on a bounded sample, like the IVF coarse
# quantizer); a vector is stored as M small codes (here 8 bytes vs 256
# bytes of float32 — 32x).  Search is ADC (asymmetric distance
# computation): the query builds an M x K lookup table of subspace dots
# once, and each candidate's estimated dot is M table gathers — no float
# vector is ever read at query time.  At 100 TB the codes table IS the
# searchable corpus; full vectors live cold, touched only by the optional
# exact re-rank of the short list.
# ---------------------------------------------------------------------------

PQ_M = 8       # subspaces
PQ_K = 16      # centroids per subspace codebook
PQ_SEED = 77
PQ_RERANK = 4  # ADC short list = PQ_RERANK * k ids, exact-cosine re-ranked
_PQ_BOOKS: dict = {}


def _pq_codebooks(df: DataFrame, vec_col: str = "embedding") -> np.ndarray:
    """Fit (and cache) the M per-subspace codebooks on a bounded
    deterministic sample.  Returns ndarray [M, K, dim/M].

    The cache key is the parquet file set — callers that pass a FILTERED
    view of the same files (ivfpq_topk pre-fix) would collide with the
    full-corpus fit, so ivfpq now fits on the full df and passes ``books``
    explicitly; a df with no inputFiles (in-memory) is fit fresh, never
    cached (an id(df) key can be reused by the allocator after GC and
    would return codebooks fit on unrelated data)."""
    files = tuple(sorted(df.inputFiles()))
    # row count in the key for the same filtered-view reason as _ivf_centers
    key = (files, df.count(), vec_col, PQ_M, PQ_K, PQ_SEED) if files else None
    hit = _PQ_BOOKS.get(key) if key is not None else None
    if hit is not None:
        return hit
    # canonical vec_id-ordered sample + shared lloyd_fit: the Python oracle
    # reproduces the codebooks bit-for-bit (the ONE rng is shared across
    # subspaces sequentially — the oracle must fit m=0..M-1 in order)
    mat = _train_matrix(df, vec_col)
    dim = mat.shape[1]
    assert dim % PQ_M == 0, f"dim {dim} not divisible by PQ_M {PQ_M}"
    dsub = dim // PQ_M
    books = np.empty((PQ_M, PQ_K, dsub))
    rng = np.random.RandomState(PQ_SEED)
    for m in range(PQ_M):
        books[m] = lloyd_fit(mat[:, m * dsub : (m + 1) * dsub], PQ_K, rng)
    if key is not None:
        _PQ_BOOKS[key] = books
    return books


def pq_encode(
    df: DataFrame, vec_col: str = "embedding", books: np.ndarray | None = None
) -> DataFrame:
    """Attach the M-byte PQ code array to every vector (vectorized Arrow
    batch: one numpy distance argmin per subspace per batch).  ``books``
    lets a caller encode a SUBSET of a corpus with codebooks fit on the
    whole of it (ivfpq_topk)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if books is None:
        books = _pq_codebooks(df, vec_col)
    dsub = books.shape[2]

    @pandas_udf("array<int>")
    def codes(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy())
        out = np.empty((len(mat), PQ_M), dtype=np.int64)
        for m in range(PQ_M):
            sub = mat[:, m * dsub : (m + 1) * dsub]
            d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(-1)
            out[:, m] = d2.argmin(1)
        return pd.Series(list(out))

    return df.withColumn("pq_code", codes(F.col(vec_col)))


_IVFPQ_BOOKS: dict = {}


def _assign_cells_np(mat: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """THE assignment rule as a plain numpy call (the driver-side twin of
    assign_cells_udf, shared by the residual codebook fit): argmin over
    ||c||^2 - 2 x.c, ties to the lowest cell id."""
    c_sq = (centers**2).sum(axis=1)
    return (c_sq[None, :] - 2.0 * (mat @ centers.T)).argmin(axis=1)


def _ivfpq_books(
    df: DataFrame, centers: np.ndarray, vec_col: str = "embedding"
) -> np.ndarray:
    """RESIDUAL codebooks — canonical IVF-PQ (the form Jegou et al. 2011
    actually specify, closing the raw-subvector simplification documented
    since round 5): the fine quantizer trains on (vector - its cell
    centroid), coupling it to the coarse quantizer so the codes spend
    their bits on what the cell assignment did NOT explain.  Same bounded
    deterministic sample, same ONE-rng sequential per-subspace Lloyd as
    _pq_codebooks (the Python oracle reproduces bit-for-bit); cache keyed
    like _pq_codebooks plus the residual marker."""
    import hashlib

    files = tuple(sorted(df.inputFiles()))
    # the books are a function of CENTERS too (residuals are computed
    # against them) — fingerprint them into the key or a caller passing
    # externally-loaded centers over the same file set would get books
    # fit against different centers
    cfp = hashlib.md5(np.ascontiguousarray(centers).tobytes()).hexdigest()
    key = (
        (files, df.count(), vec_col, PQ_M, PQ_K, PQ_SEED, "residual", cfp)
        if files
        else None
    )
    hit = _IVFPQ_BOOKS.get(key) if key is not None else None
    if hit is not None:
        return hit
    mat = _train_matrix(df, vec_col)
    res = mat - centers[_assign_cells_np(mat, centers)]
    dim = res.shape[1]
    assert dim % PQ_M == 0, f"dim {dim} not divisible by PQ_M {PQ_M}"
    dsub = dim // PQ_M
    books = np.empty((PQ_M, PQ_K, dsub))
    rng = np.random.RandomState(PQ_SEED)
    for m in range(PQ_M):
        books[m] = lloyd_fit(res[:, m * dsub : (m + 1) * dsub], PQ_K, rng)
    if key is not None:
        _IVFPQ_BOOKS[key] = books
    return books


def pq_encode_residual(
    df: DataFrame,
    books: np.ndarray,
    centers: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Residual PQ encode: code_m = argmin over the RESIDUAL subvector
    (vector - cell centroid).  Expects a ``cell`` column (the coarse
    assignment); one vectorized numpy pass per Arrow batch."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    dsub = books.shape[2]

    @pandas_udf("array<int>")
    def codes(v: pd.Series, cell: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy())
        res = mat - centers[cell.to_numpy(dtype=np.int64)]
        out = np.empty((len(res), PQ_M), dtype=np.int64)
        for m in range(PQ_M):
            sub = res[:, m * dsub : (m + 1) * dsub]
            d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(-1)
            out[:, m] = d2.argmin(1)
        return pd.Series(list(out))

    return df.withColumn("pq_code", codes(F.col(vec_col), F.col("cell")))


def _adc_cell_expr(lut: np.ndarray, qc: np.ndarray) -> str:
    """The residual form's ADC estimate: q.v_hat = q.c_cell + q.r_hat =
    element_at(<per-cell q.c literals>, cell + 1) + the shared subspace
    gathers — the cell term restores what residual encoding moved out of
    the codes.  Left-associated like _adc_expr (the oracle mirrors)."""
    arr = "array(" + ", ".join(f"{float(x)!r}D" for x in qc) + ")"
    return f"element_at({arr}, cell + 1) + " + _adc_expr(lut)


def _adc_lut(books: np.ndarray, q: np.ndarray) -> np.ndarray:
    """The query's M x K dot-product lookup table (built once per query)."""
    dsub = books.shape[2]
    lut = np.empty((PQ_M, PQ_K))
    for m in range(PQ_M):
        lut[m] = books[m] @ q[m * dsub : (m + 1) * dsub]
    return lut


def _adc_expr(lut: np.ndarray) -> str:
    """THE ADC gather expression — one definition shared by the online
    (pq_topk / ivfpq_topk) and persisted (ivfpq_topk_indexed) forms so
    the estimate arithmetic (left-associated double adds — the Python
    oracle mirrors the association order) cannot drift between them:
    estimated dot = sum_m lut[m][code_m] as a literal CASE-free gather —
    per subspace, element_at over a literal array of the K table
    values."""
    terms = []
    for m in range(PQ_M):
        arr = "array(" + ", ".join(f"{float(x)!r}D" for x in lut[m]) + ")"
        terms.append(f"element_at({arr}, element_at(pq_code, {m + 1}) + 1)")
    return " + ".join(terms)


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """ADC top-k: build the query's M x K dot-product lookup table once,
    estimate every candidate's dot as M gathers over its code array (pure
    SQL element_at arithmetic — JVM-side, no Python per candidate), take
    the top ``PQ_RERANK * k`` by estimate, exact-cosine re-rank that short
    list, return k.  Codes are computed here for the demo; at scale the
    codes table is precomputed and the float column never scanned."""
    books = _pq_codebooks(df)
    q = np.asarray(query_vec, dtype=np.float64)
    est = _adc_expr(_adc_lut(books, q))
    coded = pq_encode(df, books=books)
    return _shortlist_rerank(coded, est, query_vec, k)


def _shortlist_rerank(
    coded: DataFrame, est: str, query_vec: list[float], k: int
) -> DataFrame:
    """THE ADC shortlist + exact re-rank tail shared by pq_topk and
    ivfpq_topk (one home for the (est_dot DESC, vec_id) cut, the FLOAT
    literal cast discipline, and the (cosine DESC, vec_id) tie rules the
    oracles mirror)."""
    short = (
        coded.withColumn("est_dot", F.expr(est))
        .orderBy(F.col("est_dot").desc(), F.col("vec_id"))
        .limit(PQ_RERANK * k)
    )
    q_lit = "array(" + ", ".join(
        f"CAST({float(x)!r} AS FLOAT)" for x in query_vec
    ) + ")"
    return (
        short.withColumn("cosine", F.expr(cosine_spark("embedding", q_lit)))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .select("vec_id", "est_dot", "cosine")
        .limit(k)
    )


def ivfpq_topk(
    df: DataFrame, query_vec: list[float], k: int = 10,
    nprobe: int | None = None,
) -> DataFrame:
    """IVF-PQ composition — the canonical production ANN index shape
    (coarse quantizer routes the query to nprobe cells; ADC scores only
    those cells' code arrays; exact re-rank of the short list).  Cost at
    100 TB: (nprobe/IVF_CLUSTERS) of the corpus touched, and what is
    touched is 8-byte codes, not float vectors.

    RESIDUAL encoding (round 9 — the canonical Jegou et al. 2011 form,
    closing the raw-subvector simplification documented since round 5):
    codebooks quantize (vector - cell centroid), and the ADC estimate
    restores the cell term — q.v_hat = q.c_cell + sum_m lut[m][code_m]
    (_adc_cell_expr).  Codebooks fit corpus-wide on residuals against the
    same frozen coarse quantizer every routing path uses."""
    assigned, centers = ivf_assignments(df)
    books = _ivfpq_books(df, centers)
    q = np.asarray(query_vec, dtype=np.float64)
    probe_cells = _ranked_cells(centers, query_vec)[: (nprobe or IVF_NPROBE)]
    coded = pq_encode_residual(
        assigned.filter(F.col("cell").isin(probe_cells)), books, centers
    )
    est = _adc_cell_expr(_adc_lut(books, q), centers @ q)
    return _shortlist_rerank(coded, est, query_vec, k)


# ---------------------------------------------------------------------------
# Persisted IVF-PQ index — the 100 TB MEMORY story (round 9): the IVF index
# alone still stores (and re-ranks against) full float vectors per cell; at
# scale the COMPRESSED codes are the index.  This layout stores, per vector,
# only its M-byte PQ code under the cell partition (64-dim float32 -> 8
# bytes: 32x smaller standing index), plus two build-time sidecars:
# ``<path>.centroids`` (the coarse quantizer — the same artifact the IVF
# index persists) and ``<path>.codebooks`` (M x K PQ sub-codebooks).  A
# query routes to nprobe cells (file-listing partition pruning), ADC-scores
# only those cells' codes, and re-ranks the rerank*k short list by exact
# cosine fetched FROM THE ROW STORE by id (a bounded IN-filter read — the
# codes index never stores floats; the row-store lookup is how production
# IVF-PQ serves exact re-rank).
#
# Maintenance verbs are SHARED with the IVF index: the layout is the same
# cell/batch_id partitioned parquet (``standing_index``).
# ---------------------------------------------------------------------------


PQ_CODE_FORMAT = "residual"  # codes encode (vector - cell centroid)


def _write_codebooks(spark, books: np.ndarray, path: str) -> None:
    rows = [
        (m, j, [float(x) for x in books[m][j]], PQ_CODE_FORMAT)
        for m in range(books.shape[0])
        for j in range(books.shape[1])
    ]
    spark.createDataFrame(
        rows, "m int, j int, centroid array<double>, enc string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}.codebooks")


def _read_codebooks(spark, path: str) -> np.ndarray:
    """Load the fine quantizer, REFUSING a foreign code format: a
    pre-residual (raw-subvector) index read by residual-aware code would
    silently mis-score every estimate (the q.c_cell term double-counts
    what raw codes already encode), so it raises instead."""
    df = spark.read.parquet(f"{path}.codebooks")
    if "enc" not in df.columns:
        raise ValueError(
            f"codebooks at {path} carry no code-format marker — a "
            "pre-residual index; rebuild it (build_ivfpq_index/ivfpq_fit)"
        )
    collected = df.collect()
    bad = {r["enc"] for r in collected} - {PQ_CODE_FORMAT}
    if bad:
        raise ValueError(
            f"codebooks at {path} encode {sorted(bad)}, this engine "
            f"expects {PQ_CODE_FORMAT!r} — rebuild the index"
        )
    rows = sorted((r["m"], r["j"], r["centroid"]) for r in collected)
    ms = 1 + max(m for m, _, _ in rows)
    ks = 1 + max(j for _, j, _ in rows)
    assert [(m, j) for m, j, _ in rows] == [
        (m, j) for m in range(ms) for j in range(ks)
    ]
    return np.asarray([v for _, _, v in rows], dtype=np.float64).reshape(
        ms, ks, -1
    )


def ivfpq_fit(df: DataFrame, path: str, vec_col: str = "embedding") -> None:
    """Fit-and-persist BOTH quantizers (coarse centroids + RESIDUAL PQ
    codebooks, bounded deterministic Lloyd on <= IVF_TRAIN_SAMPLE
    vectors) without landing any codes — the bootstrap a pure streaming
    IVF-PQ build needs (the ``ivf_fit_centroids`` contract extended to
    the fine quantizer)."""
    centers = _ivf_centers(df, vec_col)
    _write_centroids(df.sparkSession, centers, path)
    _write_codebooks(df.sparkSession, _ivfpq_books(df, centers, vec_col), path)


def build_ivfpq_index(df: DataFrame, path: str, vec_col: str = "embedding") -> None:
    """Materialize the IVF-PQ index: codes-only rows (vec_id, pq_code —
    RESIDUAL codes against the cell centroid) landed as the
    ``cell=<c>/batch_id=-1`` generation, both quantizer sidecars
    alongside.  The float column never lands in
    the index — the standing artifact is M bytes per vector."""
    assigned, centers = ivf_assignments(df, vec_col)
    books = _ivfpq_books(df, centers, vec_col)
    coded = pq_encode_residual(assigned, books, centers, vec_col).select(
        "vec_id", "pq_code", "cell"
    )
    SI.land_build(coded, path, "cell")
    _write_centroids(df.sparkSession, centers, path)
    _write_codebooks(df.sparkSession, books, path)


def ivfpq_index_ingest_batch(
    bspark, batch_df: DataFrame, batch_id: int, path: str,
    vec_col: str = "embedding",
) -> None:
    """One micro-batch's IVF-PQ landing — replay-idempotent streamed
    ingest of CODES (the ``ivf_index_ingest_batch`` treatment): vectors
    route through the persisted coarse centroids, encode through the
    persisted codebooks (ingest never re-fits either quantizer), and the
    (vec_id, pq_code) rows land under ``cell=<c>/batch_id=<n>`` with
    dynamic partition overwrite, so an at-least-once replay overwrites
    exactly its own slices.  Ingest into a ``build_ivfpq_index`` index,
    or bootstrap a pure streaming one with ``ivfpq_fit``."""
    centers = _read_centroids(bspark, path)
    books = _read_codebooks(bspark, path)
    coded = pq_encode_residual(
        batch_df.withColumn("cell", assign_cells_udf(centers)(F.col(vec_col))),
        books,
        centers,
        vec_col,
    ).select("vec_id", "pq_code", "cell")
    SI.land_batch(coded, batch_id, path, "cell")


def ivfpq_topk_indexed(
    spark,
    path: str,
    vectors_df: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """IVF-PQ search against the PERSISTED codes index: rank the stored
    centroids, scan only the nprobe nearest cells' code partitions
    (file-listing pruning — the scan never opens other cells' files),
    ADC-score via the SAME shared gather expression as the online form,
    cut to PQ_RERANK*k by (est_dot DESC, vec_id), then fetch exactly those
    ids' float vectors from ``vectors_df`` (the row store) for the exact
    cosine re-rank.  Bit-identical to ``ivfpq_topk`` by construction —
    same Lloyd artifacts (persisted == in-memory through the exact
    float64 parquet round-trip), same probe ranking, same ADC
    association order, same tie rules (parity-tested)."""
    centers = _read_centroids(spark, path)
    books = _read_codebooks(spark, path)
    q = np.asarray(query_vec, dtype=np.float64)
    probe_cells = _route_cells(centers, query_vec)
    est = _adc_cell_expr(_adc_lut(books, q), centers @ q)
    short = (
        _read_index_or_empty(
            spark, path, "vec_id bigint, pq_code array<int>, cell int"
        )
        .filter(F.col("cell").isin(probe_cells))
        .withColumn("est_dot", F.expr(est))
        .orderBy(F.col("est_dot").desc(), F.col("vec_id"))
        .limit(PQ_RERANK * k)
        .select("vec_id", "est_dot")
    )
    # PQ_RERANK*k ids cross the driver — bounded by construction; the literal
    # IN-list pushes into the row-store scan (row-group min/max pruning)
    # instead of shuffling the whole vector table for a k-row join
    short_rows = short.collect()
    ids = [int(r["vec_id"]) for r in short_rows]
    q_lit = "array(" + ", ".join(
        f"CAST({float(x)!r} AS FLOAT)" for x in query_vec
    ) + ")"
    est_by_id = {int(r["vec_id"]): float(r["est_dot"]) for r in short_rows}
    est_case = "CAST(" + (
        "CASE " + " ".join(
            f"WHEN vec_id = {i} THEN {est_by_id[i]!r}D" for i in ids
        ) + " END" if ids else "NULL"
    ) + " AS DOUBLE)"
    vecs = vectors_df.filter(F.col("vec_id").isin(ids)) if ids else (
        vectors_df.filter(F.lit(False))
    )
    return (
        vecs.withColumn("est_dot", F.expr(est_case))
        .withColumn("cosine", F.expr(cosine_spark("embedding", q_lit)))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .select("vec_id", "est_dot", "cosine")
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Incremental embedding dedup — the SEMANTIC twin of dedup_text.
# incremental_dedup: each ingest batch dedups against the PERSISTED SRP
# bucket index of prior survivors (plus itself), touching O(batch + index
# collisions), never re-scanning history.  Candidates come from (tbl,
# bucket) collisions over the deterministic integer SRP family; the verify
# step is the same quantized-integer cosine as semdedup_prune, so the whole
# flow (including the 2-batch composition query) is DuckDB-value-oracled.
# The index is TWO tables — bucket rows (vec_id, tbl, bucket) and quantized
# vectors (vec_id, qe, nq) — so vectors are stored once, not once per table.
#
# Bounded in-batch candidates (the 10x-soak lesson, 13.45x -> linear): a
# dup-dense batch makes same-bucket PAIRS quadratic in the duplicate
# multiplicity, so within the batch each vector verifies against only its
# EMB_DEDUP_NEIGHBORS nearest-LOWER bucket-mates — generated with LAG over
# (tbl, bucket ORDER BY vec_id), so the quadratic pair set is never even
# materialized; total pairs <= LSH_TABLES * K per vector.  For exact-copy
# floods the nearest predecessor IS a copy, so detection holds; a near-dup
# hiding behind K closer-id bucket-mates in every table can be missed (the
# same bounded-work trade as the text family's capped degree, documented).
# The index side stays uncapped: it holds only SURVIVORS, so its bucket
# sizes are dedup-bounded by construction.
# ---------------------------------------------------------------------------

EMB_DEDUP_NEIGHBORS = 4


def embedding_dedup_prep(df: DataFrame) -> DataFrame:
    """(vec_id, lsh_buckets, qe, nq), checkpointed — the Arrow bucket UDF
    and quantization run once per batch, then feed 3+ consumers."""
    return (
        with_lsh_buckets(df)
        .withColumn("qe", F.expr(_quantize_spark("embedding")))
        .select(
            "vec_id",
            "lsh_buckets",
            "qe",
            F.expr(_qnorm_spark("qe")).alias("nq"),
        )
        .localCheckpoint()
    )


def incremental_embedding_dedup(
    new_vecs: DataFrame,
    index_buckets: DataFrame | None,
    index_vecs: DataFrame | None,
):
    """Dedup ``new_vecs`` against the persisted index (None for the first
    batch) and within the batch (greedy keep-min: a vector drops iff an
    index vector or a LOWER-id batch-mate shares an SRP bucket with
    quantized cosine >= SEMDEDUP_TAU).  Returns ``(kept, kept_buckets, kept_qvecs)``
    — append the latter two to the index to ingest the batch."""
    prep = embedding_dedup_prep(new_vecs)
    buckets = prep.select(
        "vec_id", F.posexplode("lsh_buckets").alias("tbl", "bucket")
    )
    qvecs = prep.select("vec_id", "qe", "nq")
    qa = qvecs.select(
        F.col("vec_id").alias("a_id"), F.col("qe").alias("qa"), F.col("nq").alias("na")
    )
    qb = qvecs.select(
        F.col("vec_id").alias("b_id"), F.col("qe").alias("qb"), F.col("nq").alias("nb")
    )
    if index_buckets is None or index_vecs is None:
        # A half-written index (crash between the buckets and vectors
        # landings of an uncommitted batch) must read as ABSENT, not wedge
        # the replay: the replayed batch overwrites both subpaths anyway.
        index_buckets = index_vecs = None
    dup = None
    if index_buckets is not None:
        cand = (
            buckets.join(
                index_buckets.select(
                    F.col("vec_id").alias("a_id"), "tbl", "bucket"
                ),
                ["tbl", "bucket"],
            )
            .select(F.col("vec_id").alias("b_id"), "a_id")
            .distinct()
        )
        iq = index_vecs.select(
            F.col("vec_id").alias("a_id"),
            F.col("qe").alias("qa"),
            F.col("nq").alias("na"),
        )
        dup = (
            cand.join(iq, "a_id")
            .join(qb, "b_id")
            .filter(F.expr(_qcos_expr()) >= SEMDEDUP_TAU)
            .select(F.col("b_id").alias("vec_id"))
            .distinct()
        )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("tbl", "bucket").orderBy("vec_id")
    lagged = buckets.select(
        F.col("vec_id").alias("b_id"),
        *[
            F.lag("vec_id", i).over(w).alias(f"_a{i}")
            for i in range(1, EMB_DEDUP_NEIGHBORS + 1)
        ],
    )
    cand_pairs = (
        lagged.select(
            "b_id",
            F.explode(
                F.array(*[f"_a{i}" for i in range(1, EMB_DEDUP_NEIGHBORS + 1)])
            ).alias("a_id"),
        )
        .filter(F.col("a_id").isNotNull())
        .distinct()
    )
    in_batch = (
        cand_pairs.join(qa, "a_id")
        .join(qb, "b_id")
        .filter(F.expr(_qcos_expr()) >= SEMDEDUP_TAU)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    # checkpoint: the verify work (collision joins + cosine filters) feeds
    # three returned frames; without this each landing re-runs it
    dup = (
        in_batch if dup is None else dup.unionByName(in_batch).distinct()
    ).localCheckpoint()
    kept = new_vecs.join(dup, "vec_id", "left_anti")
    kept_ids = kept.select("vec_id")
    kept_buckets = buckets.join(kept_ids, "vec_id", "left_semi")
    kept_qvecs = qvecs.join(kept_ids, "vec_id", "left_semi")
    return kept, kept_buckets, kept_qvecs


def incremental_embedding_dedup_duck_sql(
    split: int | str, vec_table: str = "embeddings"
) -> str:
    """DuckDB twin of the 2-batch composition (batch 1 = vec_id < split):
    same SRP buckets, same bounded LAG candidates within each batch, same
    uncapped survivor-index collisions across batches, same greedy keep-min
    rule and quantized cosine."""
    K = EMB_DEDUP_NEIGHBORS
    lags = ", ".join(f"lag(vec_id, {i}) OVER w AS a{i}" for i in range(1, K + 1))
    arr = "[" + ", ".join(f"a{i}" for i in range(1, K + 1)) + "]"

    def lag_colls(pred: str) -> str:
        return f"""(
  SELECT DISTINCT b_id, a_id FROM (
    SELECT b_id, unnest({arr}) AS a_id FROM (
      SELECT vec_id AS b_id, {lags}
      FROM buckets WHERE {pred}
      WINDOW w AS (PARTITION BY tbl, bucket ORDER BY vec_id)
    ) l
  ) u WHERE a_id IS NOT NULL
)"""

    qcos = (
        "CASE WHEN qn.na = 0 OR qn.nb = 0 THEN 0.0 ELSE "
        "(floor((CAST(qn.dot AS DOUBLE) / (SQRT(CAST(qn.na AS DOUBLE)) * "
        "SQRT(CAST(qn.nb AS DOUBLE)))) * 1.0E8 + 0.5) / 1.0E8) END"
    )
    return f"""
WITH buckets AS ({srp_buckets_duck_sql(vec_table)}),
q AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {_Q} + 0.5) AS BIGINT)) AS qe
  FROM {vec_table}
),
n AS (
  SELECT vec_id, CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS nq
  FROM q
),
colls AS (
  SELECT b_id, a_id FROM {lag_colls(f"vec_id < {split}")} c1
  UNION
  SELECT b_id, a_id FROM {lag_colls(f"vec_id >= {split}")} c2
  UNION
  SELECT DISTINCT b.vec_id AS b_id, a.vec_id AS a_id
  FROM buckets a JOIN buckets b
    ON a.tbl = b.tbl AND a.bucket = b.bucket
   AND a.vec_id < {split} AND b.vec_id >= {split}
),
ex AS (
  SELECT c.a_id, c.b_id, qa.qe AS qea, qb.qe AS qeb,
         unnest(range(1, len(qa.qe) + 1)) AS i
  FROM colls c
  JOIN q qa ON qa.vec_id = c.a_id
  JOIN q qb ON qb.vec_id = c.b_id
),
dots AS (
  SELECT a_id, b_id, CAST(SUM(qea[i] * qeb[i]) AS BIGINT) AS dot
  FROM ex GROUP BY 1, 2
),
qn AS (
  SELECT d.a_id, d.b_id, d.dot, nla.nq AS na, nlb.nq AS nb
  FROM dots d
  JOIN n nla ON nla.vec_id = d.a_id
  JOIN n nlb ON nlb.vec_id = d.b_id
),
sim AS (SELECT a_id, b_id FROM qn WHERE {qcos} >= {SEMDEDUP_TAU}),
dup1 AS (
  SELECT DISTINCT b_id AS vec_id FROM sim
  WHERE a_id < {split} AND b_id < {split}
),
kept1 AS (
  SELECT vec_id FROM {vec_table} WHERE vec_id < {split}
  EXCEPT SELECT vec_id FROM dup1
),
dup2 AS (
  SELECT DISTINCT s.b_id AS vec_id FROM sim s
  WHERE s.b_id >= {split}
    AND (s.a_id >= {split} OR s.a_id IN (SELECT vec_id FROM kept1))
),
kept2 AS (
  SELECT vec_id FROM {vec_table} WHERE vec_id >= {split}
  EXCEPT SELECT vec_id FROM dup2
)
SELECT vec_id, 1 AS batch FROM kept1
UNION ALL
SELECT vec_id, 2 AS batch FROM kept2
"""


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (deterministic sign matrix)
# ---------------------------------------------------------------------------

JL_K = 16  # target dim; sqrt(16) = 4 is IEEE-exact, so the final scaling
# divide (int dot / (SRP_SCALE * 4)) is a pure exponent shift — the
# projected components are bit-identical cross-engine with NO rounding rule


def _jl_sign(j: int, d: int) -> int:
    import hashlib

    h = hashlib.md5(f"jl:{j}:{d}".encode()).hexdigest()[:15]
    return 1 if int(h, 16) % 2 == 1 else -1


def _jl_signs(dim: int) -> np.ndarray:
    """±1 sign matrix, shape (JL_K, dim), from the md5 family — the same
    derivation rule as the SRP planes but a disjoint namespace ('jl:')."""
    return np.asarray(
        [[_jl_sign(j, d) for d in range(dim)] for j in range(JL_K)],
        dtype=np.int64,
    )


def jl_project(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Deterministic JL sign projection (Achlioptas 2003 ±1 variant):
    y_j = sum_d s(j,d) * v_d / sqrt(JL_K), quantized-integer-exact.

    The kernel is the with_lsh_buckets shape — one Arrow batch = one
    (n, VEC_DIM) @ (VEC_DIM, JL_K) int64 matmul over broadcast signs; float32 ->
    float64 widening, *2^20 quantization and the integer dot are exact,
    and the one division is by SRP_SCALE * sqrt(16) = 2^22 (exact), so
    components reproduce bit-for-bit in any engine.  Adds ``jl`` as
    array<double> length JL_K; distances contract with the JL guarantee
    at distortion ~sqrt(2/k) (pytest-bounded).  At 100 TB this is the
    embedding-compression map stage: 64 float32 -> 16 float64 (or cast
    back to float32 for 8x), no shuffle anywhere."""
    signs = _jl_signs(VEC_DIM).T  # (VEC_DIM, JL_K)

    @F.pandas_udf("array<double>")
    def project(v: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        q = np.floor(mat * float(SRP_SCALE) + 0.5).astype(np.int64)
        y = (q @ signs).astype(np.float64) / (float(SRP_SCALE) * 4.0)
        return pd.Series(list(y))

    return df.withColumn("jl", project(F.col(vec_col)))


def jl_project_duck_sql(vec_table: str = "embeddings") -> str:
    """DuckDB twin in long form (vec_id, j, comp) — the value-hash gate
    canonicalizes scalars only, so the array is exploded for comparison."""
    from ..functions import dialect as X

    sign = X.md5_int(
        X.DUCK,
        "'jl:' || CAST(j AS VARCHAR) || ':' || CAST(d AS VARCHAR)",
    )
    return f"""
SELECT vec_id, j,
       CAST(SUM(q * s) AS DOUBLE) / {float(SRP_SCALE * 4)} AS comp
FROM (
  SELECT vec_id, d,
         CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * {float(SRP_SCALE)} + 0.5)
              AS BIGINT) AS q
  FROM (SELECT vec_id, embedding, unnest(range({VEC_DIM})) AS d FROM {vec_table})
) qv
JOIN (
  SELECT j, d, (CASE WHEN {sign} % 2 = 1 THEN 1 ELSE -1 END) AS s
  FROM (SELECT unnest(range({JL_K})) AS j)
  CROSS JOIN (SELECT unnest(range({VEC_DIM})) AS d)
) pl USING (d)
GROUP BY vec_id, j
"""


def ivf_index_delete(spark, path: str, vec_ids) -> None:
    """Compliance deletion for the vector index — the lifecycle verb next
    to build/append/ingest/compact: remove ``vec_ids`` by targeted
    rewrite of only the (cell, batch_id) partitions holding them; a
    fully-emptied cell's directory disappears (and partition pruning
    simply never lists it again).  The centroids sidecar is deliberately
    untouched: deletion never re-fits, exactly like the append contract —
    re-clustering after heavy drift is an offline build_ivf_index, as in
    production ANN systems."""
    SI.delete(spark, path, "cell", "vec_id", vec_ids)
