"""Data-selection operators: DSIR importance weighting, token-entropy
quality, and BPE merge-pair statistics.

Three published training-data-curation methods beyond the reference surface
(the reference has no data-selection stage; these extend the LLM-pipeline
family in SURVEY.md §2-ext):

- **DSIR** (Xie et al. 2023, "Data Selection for Language Models via
  Importance Resampling"): represent documents as bags of hashed n-gram
  features, estimate a target-domain and a raw-pool unigram distribution
  over the hashed buckets, and score each document with its importance
  log-weight  sum_f log(p_target(f) / p_raw(f)); resample top-k under
  deterministic Gumbel noise.
- **Token entropy / type-token ratio**: per-document Shannon entropy of the
  word-frequency distribution — the classic "word salad vs natural text"
  quality signal that length/stopword ratios miss.
- **BPE merge statistics**: the pair-counting core of byte-pair-encoding
  tokenizer training (Sennrich et al. 2016) — adjacent-symbol pair counts
  weighted by word frequency over the corpus vocabulary; the iterative
  trainer (`bpe_train`) runs n greedy merge rounds as a Spark loop.

Float discipline (registry docstring): cross-engine ``ln`` differs by 1 ulp
on ~2 % of arguments (measured), so NO raw double log ever enters a SUM.
Every log is quantized ONCE at an integer argument — ``qln_micro(k) =
floor(ln(k) * 1e6 + 0.5)`` as BIGINT — and all downstream arithmetic
(weighted sums, entropy numerators) stays in exact 64-bit integers; doubles
reappear only in the final projection as an exact BIGINT/BIGINT division
both engines round identically.  A 1-ulp ln drift flips a quantization only
when ln(k)*1e6 lands within ~1e-8 of a .5 boundary — none of the fixture's
integer arguments do, and the pytest oracle gate would catch a regenerated
fixture that did.

Scale notes (100 TB):
- DSIR's bucket-statistics table is CONSTANT-size (n_buckets rows, default
  1024) regardless of corpus size: the feature explode is map-side, the
  stats groupBy shuffles only n_buckets keys, and the per-bucket log-ratio
  table broadcast-joins back to the feature stream.  The only corpus-scale
  shuffle is the final per-doc aggregation, keyed by doc_id.
- Top-k resampling is expressed as ORDER BY + LIMIT, which Spark executes
  as TakeOrdered (per-partition heap + driver merge of k rows) — no global
  sort at any scale.
- Entropy is a two-level aggregation ((doc, word) then doc) — two shuffles,
  both keyed and combinable map-side.
- BPE pair counts run over the DISTINCT-WORD vocabulary (sublinear in
  corpus size), not the token stream: one vocab groupBy, then a per-char
  explode over vocab only.
"""

from __future__ import annotations

from ..functions import dialect as X

DSIR_BUCKETS = 1024
# Target-domain proxy: documents from these sources define the target
# distribution; the full pool is the raw distribution (DSIR §3: target =
# small clean corpus, raw = the crawl being filtered).
DSIR_TARGET_PRED = "source IN ('src0', 'src1', 'src2', 'src3')"
DSIR_TOP_K = 100


def qln_micro(expr: str) -> str:
    """ln of a positive integer-valued expression, quantized to BIGINT
    micro-nats.  Dialect-free: ``ln``/``floor``/CAST render identically on
    Spark and DuckDB; quantization absorbs the engines' 1-ulp ln drift."""
    return f"CAST(floor(ln(CAST(({expr}) AS DOUBLE)) * 1.0E6 + 0.5) AS BIGINT)"


def arr_at(d: str, arr: str, i: str) -> str:
    """1-based array element: Spark ``element_at`` == DuckDB list index."""
    if d == X.SPARK:
        return f"element_at({arr}, CAST({i} AS INT))"
    return f"({arr})[{i}]"


# ---------------------------------------------------------------------------
# DSIR hashed-n-gram importance weights
# ---------------------------------------------------------------------------


def dsir_feats_sql(
    d: str,
    table: str = "documents",
    n_buckets: int = DSIR_BUCKETS,
    target_pred: str | None = None,
) -> str:
    """Hashed unigram+bigram feature stream: one row per feature occurrence,
    columns (doc_id, b, is_target).  Unigrams and bigrams of the lowercased
    whitespace tokenization, hashed into ``n_buckets`` buckets (DSIR §3.1's
    hashed n-gram representation).

    ``target_pred`` defaults to ``DSIR_TARGET_PRED`` (fit-time: needs the
    ``source`` column).  Pass ``"FALSE"`` for score-time feature streams —
    target membership is a FIT-time concept, and scoring must not require
    fit-only columns on the batch being scored."""
    pred = DSIR_TARGET_PRED if target_pred is None else target_pred
    toks = X.split_tokens(d, "lower(text)")
    base = (
        f"(SELECT doc_id, {toks} AS toks, "
        f"CASE WHEN {pred} THEN 1 ELSE 0 END AS is_target "
        f"FROM {table})"
    )
    n = X.arr_size(d, "toks")
    pos = X.positions_from(d, base, "doc_id, toks, is_target", n)
    uni = arr_at(d, "toks", "i")
    nxt = arr_at(d, "toks", "i + 1")
    return f"""
SELECT doc_id, {X.md5_int(d, f"'u:' || {uni}")} % {n_buckets} AS b, is_target
FROM {pos} pu
UNION ALL
SELECT doc_id,
  {X.md5_int(d, f"'b:' || {uni} || '_' || {nxt}")} % {n_buckets} AS b,
  is_target
FROM {pos} pb
WHERE i < {X.arr_size(d, "toks")}
"""


def dsir_stats_sql(feats: str) -> str:
    """Per-bucket target/raw counts over a feature stream (dialect-free)."""
    return (
        "SELECT b, CAST(SUM(is_target) AS BIGINT) AS ct, COUNT(*) AS cr "
        f"FROM {feats} GROUP BY b"
    )


def dsir_from_feats_sql(
    d: str,
    feats: str,
) -> str:
    """DSIR scoring over a prepared feature stream ``feats`` (a CTE/view
    name with columns doc_id, b, is_target).

    Laplace-smoothed bucket distributions (B = DSIR_BUCKETS):
    p_t(b) = (ct_b + 1)/(Tt + B),
    p_r(b) = (cr_b + 1)/(Tr + B).  Per-doc importance log-weight in exact
    micro-nats:

      lw = sum_f [qln(ct_b + 1) - qln(cr_b + 1)] + n_feats * [qln(Tr + B) - qln(Tt + B)]

    Resampling key adds deterministic Gumbel noise g = -ln(-ln(u)) with
    u = (md5(doc_id) mod 2^20 + 0.5) / 2^20 (Gumbel-top-k sampling without
    replacement == DSIR's importance resampling); ``sampled`` marks the
    top-DSIR_TOP_K keys via ORDER BY + LIMIT (TakeOrdered in Spark: no global
    sort)."""
    seed = "'dsir:' || CAST(doc_id AS STRING)"
    u = f"(CAST({X.md5_int(d, seed)} % 1048576 AS DOUBLE) + 0.5) / 1048576.0"
    gumbel = f"CAST(floor(-ln(-ln({u})) * 1.0E6 + 0.5) AS BIGINT)"
    return f"""
stats AS ({dsir_stats_sql(feats)}),
tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr
  FROM stats
),
lr AS (
  SELECT b, {qln_micro("ct + 1")} - {qln_micro("cr + 1")} AS qlr FROM stats
),
norm AS (
  SELECT {qln_micro(f"tr + {DSIR_BUCKETS}")} - {qln_micro(f"tt + {DSIR_BUCKETS}")} AS qnorm
  FROM tot
),
docw AS (
  -- scalar subquery for the 1-row normalization term, not a CROSS JOIN:
  -- Spark plans the latter as a BroadcastNestedLoopJoin (plan-guard
  -- anti-pattern); the subquery becomes a precomputed literal
  SELECT f.doc_id,
    COUNT(*) AS n_feats,
    CAST(SUM(l.qlr) AS BIGINT) + COUNT(*) * (SELECT qnorm FROM norm) AS lw_micro
  FROM {feats} f
  JOIN lr l ON l.b = f.b
  GROUP BY f.doc_id
),
keyed AS (
  SELECT doc_id, n_feats, lw_micro, lw_micro + {gumbel} AS sel_key_micro
  FROM docw
),
topk AS (
  SELECT doc_id FROM keyed ORDER BY sel_key_micro DESC, doc_id LIMIT {DSIR_TOP_K}
)
SELECT k.doc_id, k.n_feats,
  CAST(k.lw_micro AS DOUBLE) / 1.0E6 AS log_weight,
  k.sel_key_micro,
  CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END AS sampled
FROM keyed k LEFT JOIN topk t ON t.doc_id = k.doc_id
"""


def dsir_sql(d: str, table: str = "documents") -> str:
    """Single-statement oracle form (DuckDB auto-materializes the
    multiply-referenced ``feats`` CTE; the Spark engine side uses
    ``dsir_df``, which stages ``feats`` once instead — Spark inlines CTEs,
    and ``feats`` is referenced twice)."""
    return (
        f"WITH feats AS ({dsir_feats_sql(d, table)}),\n"
        + dsir_from_feats_sql(d, "feats")
    )


def dsir_df(spark, table: str = "documents"):
    """Engine form: checkpoint the feature stream AND the 1024-row bucket
    stats once each, then run the scoring query (CTE-inlining guard — the
    SOAK round-4 lesson: any multiply-referenced CTE re-runs its whole
    pipeline per reference on Spark; stats feeds both lr and the norm
    scalar, feats feeds both stats and the per-doc sum)."""
    from .staging import staged_views

    d = X.SPARK
    with staged_views(spark, feats=spark.sql(dsir_feats_sql(d, table))) as v1:
        with staged_views(spark, stats=spark.sql(dsir_stats_sql(v1.feats))) as v2:
            body = dsir_from_feats_sql(d, v1.feats)
            body = body.replace(
                f"stats AS ({dsir_stats_sql(v1.feats)})",
                f"stats AS (SELECT b, ct, cr FROM {v2.stats})",
            )
            return spark.sql("WITH " + body)


# ---------------------------------------------------------------------------
# Token entropy / type-token ratio
# ---------------------------------------------------------------------------


def token_entropy_sql(d: str, table: str = "documents") -> str:
    """Per-document Shannon entropy (nats) of the word-frequency
    distribution plus type-token ratio.

    H = ln(n) - (1/n) * sum_w c_w ln(c_w), computed as the exact integer
    numerator  n * qln(n) - sum_w c_w * qln(c_w)  in micro-nats, divided
    once at the end (both engines round the identical BIGINT/DOUBLE
    division identically)."""
    toks = X.split_tokens(d, "lower(text)")
    tok = X.explode_tokens(d, toks)
    return f"""
WITH wc AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, {tok} AS tok FROM {table}) t
  GROUP BY doc_id, tok
),
agg AS (
  SELECT doc_id,
    CAST(SUM(c) AS BIGINT) AS n,
    COUNT(*) AS n_types,
    CAST(SUM(c * {qln_micro("c")}) AS BIGINT) AS sum_c_qln
  FROM wc GROUP BY doc_id
)
SELECT doc_id, n AS n_tokens, n_types,
  {X.fround(f"CAST(n * {qln_micro('n')} - sum_c_qln AS DOUBLE) / (CAST(n AS DOUBLE) * 1.0E6)", 6)} AS entropy_nats,
  {X.fround("CAST(n_types AS DOUBLE) / CAST(n AS DOUBLE)", 6)} AS type_token_ratio
FROM agg
"""


# ---------------------------------------------------------------------------
# BPE merge-pair statistics + iterative trainer
# ---------------------------------------------------------------------------

BPE_TOP_PAIRS = 20


def bpe_merge_pairs_sql(d: str, table: str = "documents") -> str:
    """First BPE iteration's pair statistics: adjacent character-pair
    counts weighted by corpus word frequency, top BPE_TOP_PAIRS merge candidates
    (count desc, pair asc — the deterministic tiebreak ``bpe_train`` uses).

    The explode runs over the DISTINCT-word vocabulary (sublinear in corpus
    size), one row per character boundary."""
    toks = X.split_tokens(d, "lower(text)")
    tok = X.explode_tokens(d, toks)
    vocab = (
        f"(SELECT tok, COUNT(*) AS freq FROM "
        f"(SELECT {tok} AS tok FROM {table}) t "
        f"WHERE length(tok) >= 2 GROUP BY tok)"
    )
    pos = X.positions_from(d, vocab, "tok, freq", "length(tok) - 1")
    return f"""
SELECT substr(tok, i, 1) AS left_sym,
  substr(tok, i + 1, 1) AS right_sym,
  CAST(SUM(freq) AS BIGINT) AS pair_count
FROM {pos} p
GROUP BY substr(tok, i, 1), substr(tok, i + 1, 1)
ORDER BY pair_count DESC, left_sym, right_sym
LIMIT {BPE_TOP_PAIRS}
"""


def bpe_train(spark, docs_df, n_merges: int = 8) -> list[tuple[str, str, int]]:
    """Greedy BPE trainer: ``n_merges`` rounds of (count adjacent symbol
    pairs over the vocab, merge the argmax pair everywhere).  Returns the
    learned merge list [(left, right, count), ...] in merge order.

    The batched trainer at ``batch=1``: each round keeps only the top
    pair, which is exactly the greedy schedule (the pure-Python greedy
    trainer in ``tests/bpe_reference.py`` pins it independently)."""
    return bpe_train_batched(spark, docs_df, n_merges, batch=1)


def _pick_nonconflicting(
    ranked: list[tuple[str, str, int]], want: int
) -> list[tuple[str, str, int]]:
    """Greedy batch selection over (cnt desc, a, b)-ranked pairs: keep a
    pair iff neither symbol (nor its merged token) touches an already-kept
    pair — kept merges can then be applied sequentially in one rewrite with
    counts that were all valid when the round started.  THE one definition
    both the Spark trainer and its Python test oracle use."""
    used: set[str] = set()
    out: list[tuple[str, str, int]] = []
    for a, b, cnt in ranked:
        if cnt < 2:
            break
        if a in used or b in used or (a + b) in used:
            continue
        out.append((a, b, cnt))
        used.update((a, b, a + b))
        if len(out) == want:
            break
    return out


def bpe_train_batched(
    spark, docs_df, n_merges: int = 8, batch: int = 4
) -> list[tuple[str, str, int]]:
    """Batched greedy BPE: each round counts pairs ONCE, then folds up to
    ``batch`` non-conflicting top pairs (no shared symbols, so every
    accepted count was exact at round start) in a single chained rewrite.

    Job-count knob for production merge budgets: greedy (``bpe_train``,
    batch=1) launches ~2 Spark jobs per merge (pair-count argmax +
    checkpoint), so 32k merges
    is ~64k jobs; the batched schedule is ~2 jobs per ROUND — measured on
    the sf0.001 fixture: 8 merges = 16 jobs greedy vs 4 jobs at batch=4
    (2 rounds, `last_rounds` attribute).  At batch=256 a 32k-merge build is
    ~250 rounds.  The schedule can differ from strict greedy when a merge
    would have created a new pair outranking a batch-mate (standard
    batched-BPE trade; parity is pinned against the batched Python
    reference; batch=1 IS the greedy schedule, ``bpe_train``)."""
    from pyspark.sql import functions as F

    vocab = (
        docs_df.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .where(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.expr("transform(split(tok, ''), x -> x)").alias("syms"), "freq")
        .localCheckpoint()
    )
    merges: list[tuple[str, str, int]] = []
    rounds = 0
    while len(merges) < n_merges:
        # headroom: conflicts skip ranked pairs, so fetch more than `batch`
        ranked = [
            (r["a"], r["b"], int(r["cnt"]))
            for r in (
                vocab.where(F.size("syms") >= 2)
                .select(
                    F.expr(
                        "explode(transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b)))"
                    ).alias("p"),
                    "freq",
                )
                .where(F.col("p.a").isNotNull() & F.col("p.b").isNotNull())
                .groupBy("p.a", "p.b")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.desc("cnt"), "a", "b")
                .limit(batch * 4)
                .collect()
            )
        ]
        rounds += 1
        chosen = _pick_nonconflicting(ranked, min(batch, n_merges - len(merges)))
        if not chosen:
            break
        merges.extend(chosen)
        expr = "syms"
        for a, b, _cnt in chosen:
            expr = _merge_fold_expr(expr, a, b)
        vocab = vocab.select(F.expr(expr).alias("syms"), "freq").localCheckpoint()
    bpe_train_batched.last_rounds = rounds
    return merges


# ---------------------------------------------------------------------------
# Fit/score split — the streaming-ingest form.  ``dsir_fit`` runs once over
# a reference corpus and returns a constant-size model (1024 bucket
# log-ratios + the normalization constant, plain Python values so it can
# cross into foreachBatch's cloned sessions); ``dsir_score`` applies it to
# any document batch.  At 100 TB the model is the thing you'd persist and
# broadcast — per-batch cost is one feature explode + one broadcast join +
# one keyed aggregation.
# ---------------------------------------------------------------------------


def dsir_fit(
    spark, ref_docs, n_buckets: int = DSIR_BUCKETS
) -> tuple[list[tuple[int, int]], int, int]:
    """Fit the DSIR bucket model on a reference corpus: returns
    ([(bucket, qlr_micro)...], qnorm_micro, n_buckets).  Target membership
    inside the reference pool is ``DSIR_TARGET_PRED``; the returned list has
    exactly the buckets observed in the reference (absent buckets score 0 —
    both smoothed counts are 1 and the qlns cancel).  ``n_buckets`` rides in
    the model so scoring hashes features into the SAME bucket space it was
    fitted in — a non-default fit applied with the default at score time
    silently produced wrong log-weights."""
    from .staging import staged_views

    view = "__dsir_fit_docs"
    ref_docs.createOrReplaceTempView(view)
    try:
        with staged_views(
            spark, fit_feats=spark.sql(dsir_feats_sql(X.SPARK, view, n_buckets))
        ) as sv:
            fview = sv.fit_feats
            lr_rows = spark.sql(f"""
SELECT b, {qln_micro("ct + 1")} - {qln_micro("cr + 1")} AS qlr
FROM (
  SELECT b, CAST(SUM(is_target) AS BIGINT) AS ct, COUNT(*) AS cr
  FROM {fview} GROUP BY b
)
""").collect()
            tt, tr = spark.sql(
                f"SELECT CAST(SUM(is_target) AS BIGINT) AS tt, COUNT(*) AS tr FROM {fview}"
            ).first()
            if not tr:
                raise ValueError(
                    "dsir_fit: reference corpus produced no features "
                    "(empty docs?) — cannot fit a model"
                )
    finally:
        spark.catalog.dropTempView(view)
    import math

    qnorm = math.floor(math.log(int(tr) + n_buckets) * 1e6 + 0.5) - math.floor(
        math.log(int(tt) + n_buckets) * 1e6 + 0.5
    )
    return [(int(r["b"]), int(r["qlr"])) for r in lr_rows], qnorm, n_buckets


def dsir_score(spark, docs_df, model: tuple[list[tuple[int, int]], int, int]):
    """Score documents against a fitted model: (doc_id, n_feats,
    lw_micro, log_weight).  The model arrives as plain Python values and is
    rebuilt as a broadcast-joined n_buckets-row DataFrame inside whatever
    session ``docs_df`` belongs to (foreachBatch clones sessions; a
    DataFrame fitted on the main session cannot join a batch DataFrame).
    Buckets unseen at fit time contribute 0 (Laplace counts 1/1).  The
    score-time feature hash uses the model's OWN n_buckets (2-tuple models
    from before the field existed default to DSIR_BUCKETS)."""
    from pyspark.sql import functions as F

    lr_rows, qnorm, n_buckets = model if len(model) == 3 else (*model, DSIR_BUCKETS)
    sess = docs_df.sparkSession
    lr = sess.createDataFrame(lr_rows or [(0, 0)], "b long, qlr long")
    view = "__dsir_score_docs"
    docs_df.createOrReplaceTempView(view)
    try:
        # score-time stream: target_pred FALSE so batches without the
        # fit-only `source` column score fine
        feats = sess.sql(
            dsir_feats_sql(X.SPARK, view, n_buckets, target_pred="FALSE")
        )
    finally:
        sess.catalog.dropTempView(view)
    return (
        feats.join(F.broadcast(lr), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            (
                F.sum(F.coalesce(F.col("qlr"), F.lit(0)))
                + F.count(F.lit(1)) * F.lit(qnorm)
            ).cast("long").alias("lw_micro"),
        )
        .withColumn("log_weight", F.col("lw_micro").cast("double") / 1.0e6)
    )


def _sql_str(s: str) -> str:
    """Escape a symbol for embedding in a Spark SQL string literal: Spark
    treats backslash as an escape inside literals (a bare ``\\`` is a parse
    error or a silent escape), and ``'`` doubles."""
    return s.replace("\\", "\\\\").replace("'", "''")


def _merge_fold_expr(syms_col: str, a: str, b: str) -> str:
    """One merge pass as an aggregate-HOF fold (shared by the trainer and
    the encoder so train/encode cannot drift)."""
    qa, qb = _sql_str(a), _sql_str(b)
    return (
        f"aggregate({syms_col}, CAST(array() AS ARRAY<STRING>), (acc, x) -> "
        f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{qa}' AND x = '{qb}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array('{qa}{qb}')) "
        "ELSE concat(acc, array(x)) END)"
    )


def bpe_encode(spark, docs_df, merges: list[tuple[str, str, int]]):
    """Tokenize a corpus with a learned merge list — the apply half of BPE
    tokenizer training.  Segmentation is computed ONCE PER DISTINCT WORD
    (the merge folds chain over the vocabulary, sublinear in corpus size)
    and hash-joined back to the token stream; the corpus itself is touched
    by exactly one explode + one join + one keyed re-aggregation.  Returns
    (doc_id, n_words, n_subwords, subwords) with the doc's full subword
    sequence in word order.

    At 100 TB the vocab side broadcasts (a few MB for any real vocab) and
    the join is map-side; here it stays a hash join under AQE's choice."""
    from pyspark.sql import functions as F

    toks = docs_df.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "tok"),
    )
    vocab = toks.select("tok").distinct()
    expr = "transform(split(tok, ''), x -> x)"
    for a, b, _ in merges:
        expr = _merge_fold_expr(expr, a, b)
    seg = vocab.select("tok", F.expr(expr).alias("syms")).select(
        "tok", "syms", F.size("syms").alias("n_syms")
    )
    return (
        toks.join(F.broadcast(seg), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_subwords"),
            F.expr(
                "flatten(transform(array_sort(collect_list(struct(pos, syms))), s -> s.syms))"
            ).alias("subwords"),
        )
    )
