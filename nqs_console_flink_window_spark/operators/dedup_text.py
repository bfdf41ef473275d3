"""Document deduplication operators: exact, MinHash+LSH, SimHash, and n-gram
Jaccard — the training-data-pipeline dedup family (BASELINE.json north star).

All variants are expressed as SQL templates rendered for both engines
(functions/dialect.py), so each has a value-exact DuckDB oracle — including
the MinHash signatures, because the underlying 60-bit md5 hash is
cross-engine identical.

Scale design (100 TB):
- exact: one hash-groupBy shuffle on the digest — minimal.
- MinHash: shingling is a per-row lateral explode (no shuffle); signatures
  are one groupBy(doc) with map-side partial MIN combine; LSH banding turns
  the quadratic all-pairs problem into equi-joins on band keys (shuffle is
  proportional to candidates, not pairs).  Band count / rows-per-band are
  the precision/recall knobs.
- SimHash: same shape, integer bit aggregation; near-dup = bit_count(xor)
  on 64-bit ints — a cheap candidate filter.
- n-gram Jaccard: exact pairwise on shingle equi-join; the quadratic
  verifier — at scale it runs only on LSH candidate pairs, never all pairs.
"""

from __future__ import annotations

from ..functions import dialect as X

SHINGLE_LEN = 8
SHINGLE_STEP = 4
NUM_PERM = 8
BAND_ROWS = 2  # 4 bands x 2 rows


def shingles_cte(d: str, table: str = "documents") -> str:
    """doc_id + distinct positional character shingles."""
    src = X.positions_from(
        d, table, "doc_id, text", f"length(text) - {SHINGLE_LEN - 1}", SHINGLE_STEP
    )
    return (
        f"SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), {SHINGLE_LEN}) AS sh "
        f"FROM {src} p"
    )


# Universal-hash permutation family over one base md5 hash: h_k = (a_k *
# (h mod P) + b_k) mod P.  One md5 per shingle instead of NUM_PERM — the
# standard MinHash construction (a_k,b_k fixed odd constants, P Mersenne
# prime 2^31-1).  Intermediate products stay < 2^63 (no overflow: DuckDB
# errors on bigint overflow rather than wrapping).
_P = 2_147_483_647


def _perm(k: int, hv: str) -> str:
    a = 2 * k + 3
    b = 1_000_003 * k + 12_345
    return f"(({a} * ({hv} % {_P}) + {b}) % {_P})"


def minhash_min_exprs() -> list[str]:
    """NUM_PERM permuted min-hash aggregates over the per-shingle base hash
    column ``hv`` (dialect-independent integer arithmetic)."""
    return [f"MIN({_perm(k, 'hv')}) AS m{k}" for k in range(NUM_PERM)]


def minhash_signatures_sql(d: str, table: str = "documents") -> str:
    mins = ",\n  ".join(minhash_min_exprs())
    base = X.md5_int(d, "sh")
    return f"""
WITH sh AS ({shingles_cte(d, table)}),
hashed AS (SELECT doc_id, {base} AS hv FROM sh)
SELECT doc_id,
  {mins}
FROM hashed GROUP BY doc_id
"""


def _band_key_sql(b: int) -> str:
    """LSH band ``b``'s key: md5 of its BAND_ROWS signature slots."""
    return "md5({})".format(" || '_' || ".join(
        f"CAST(m{b * BAND_ROWS + r} AS STRING)" for r in range(BAND_ROWS)
    ))


def minhash_band_selects(d: str) -> list[str]:
    """One SELECT per LSH band: (doc_id, band_id, band_key)."""
    return [
        f"SELECT doc_id, {b} AS band_id, {_band_key_sql(b)} AS band_key FROM sig"
        for b in range(NUM_PERM // BAND_ROWS)
    ]


def minhash_bands_from_sig_spark(sig: str = "sig") -> str:
    """ONE-PASS (doc_id, band_id, band_key) over relation ``sig`` — Spark
    engine side only.  The UNION ALL form (``minhash_band_selects``)
    references ``sig`` once per band, and Spark INLINES repeated CTEs, so
    a 4-band UNION re-runs the whole upstream pipeline (shingles -> md5 ->
    signature GROUP BY, plus whatever produced the input docs) 4x inside
    one job — measured 4.9 s vs 1.2 s on the sf0.1 web-curate batch.  A
    LATERAL VIEW ``inline`` over an array of per-band structs emits the
    same 4 rows per signature from a single ``sig`` subtree.  Row-set
    identical to the UNION ALL form by construction (same band_id
    literals, same md5 key expression); the ORACLES keep the UNION ALL —
    DuckDB materializes multiply-referenced CTEs, so it never had the
    problem."""
    structs = ", ".join(
        f"named_struct('band_id', {b}, 'band_key', {_band_key_sql(b)})"
        for b in range(NUM_PERM // BAND_ROWS)
    )
    return (
        f"SELECT doc_id, band_id, band_key FROM {sig} "
        f"LATERAL VIEW inline(array({structs})) t AS band_id, band_key"
    )


def minhash_lsh_pairs_sql(d: str, table: str = "documents") -> str:
    """Candidate near-dup pairs: docs sharing at least one LSH band."""
    bands = "\nUNION ALL\n".join(minhash_band_selects(d))
    return f"""
WITH sig AS ({minhash_signatures_sql(d, table)}),
bands AS ({bands})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


SIMHASH_BITS = 60  # full md5_int width; 15-bit bands at max_dist=3


def simhash_sql(d: str, table: str = "documents") -> str:
    """Per-doc SimHash over distinct lowercase tokens (SIMHASH_BITS wide).

    Scale shape (round-4 soak lesson): the naive formulation fans each
    (doc, token) row out ``SIMHASH_BITS`` times before aggregating — a 60x
    row explosion ahead of the shuffle.  Instead each bit's counter is its
    own aggregate expression in ONE ``GROUP BY doc_id`` pass (60 SUMs,
    map-side partial aggregation, zero fanout), and the fingerprint is
    assembled from the 60 signs in the same projection.  16-bit
    fingerprints were also the quadratic bomb in band joins: 4-bit bands
    have only 16 distinct values, so every bucket holds n/16 docs; 60 bits
    give 15-bit bands (32k values) and bucket sizes driven by real near-dup
    structure, not keyspace exhaustion."""
    tok_hash = X.md5_int(d, "tok")
    if d == X.SPARK:
        toks = (
            f"SELECT DISTINCT doc_id, tok FROM {table} "
            f"LATERAL VIEW explode(split(lower(text), ' ')) t AS tok"
        )
    else:
        toks = (
            f"SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS tok "
            f"FROM {table}"
        )
    sums = ",\n    ".join(
        f"SUM(CASE WHEN (hv >> {j}) % 2 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS ({toks}),
hashed AS (SELECT doc_id, {tok_hash} AS hv FROM toks),
agg AS (
  SELECT doc_id,
    {sums}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash
FROM agg
"""


def _simhash_bands_sql(d: str, max_dist: int) -> str:
    """(doc_id, simhash, i, bv) over relation ``sig``: each fingerprint
    split into ``max_dist + 1`` bands of equal width, ``bv`` band i's
    value — the pigeonhole split both simhash_hamming_hist forms join
    on."""
    bands = max_dist + 1
    width = (SIMHASH_BITS + bands - 1) // bands
    if d == X.SPARK:
        return (
            "SELECT doc_id, simhash, i, "
            f"(simhash >> (i * {width})) % {1 << width} AS bv "
            f"FROM sig LATERAL VIEW explode(sequence(0, {bands - 1})) g AS i"
        )
    return (
        f"SELECT doc_id, simhash, g.i, "
        f"(simhash >> (g.i * {width})) % {1 << width} AS bv "
        f"FROM sig, generate_series(0, {bands - 1}) g(i)"
    )


def simhash_hamming_hist_sql(d: str, max_dist: int, table: str = "documents") -> str:
    """Histogram of pairwise Hamming distances <= max_dist via banded
    candidate generation — NOT an all-pairs self-join.

    Pigeonhole: splitting the fingerprint into ``max_dist + 1`` bands, any
    pair within Hamming distance ``max_dist`` must agree exactly on at least
    one whole band, so candidates come from per-band equi-joins (shuffle is
    proportional to band-bucket collisions, the same trick as MinHash-LSH)
    and the exact bit_count check runs only on candidates.  Result is
    provably identical to the all-pairs form for distances <= max_dist —
    tests/test_extensions.py asserts that equivalence.
    """
    ham = X.xor(d, "CAST(simhash AS BIGINT)", "CAST(simhash_b AS BIGINT)")
    return f"""
WITH sig AS ({simhash_sql(d, table)}),
bands AS ({_simhash_bands_sql(d, max_dist)}),
cand AS (
  SELECT DISTINCT a.doc_id AS da, a.simhash, b.doc_id AS db, b.simhash AS simhash_b
  FROM bands a JOIN bands b ON a.i = b.i AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT bit_count({ham}) AS hamming,
       COUNT(*) AS n_pairs
FROM cand
WHERE bit_count({ham}) <= {max_dist}
GROUP BY 1
"""


def ngram_jaccard_pairs_sql(d: str, threshold: float, table: str = "documents") -> str:
    """Exact n-gram (character shingle) Jaccard similarity pairs >= threshold.

    All-pairs-on-shingle-collisions — the brute-force form, kept as the
    verification baseline for the LSH-scoped verifier below."""
    return f"""
WITH sh AS ({shingles_cte(d, table)}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS both_n
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
{_jaccard_select(threshold)}"""


def _jaccard_select(threshold: float) -> str:
    """The Jaccard verifiers' SELECT over ``inter`` and ``sizes``: pairs
    whose exact shingle Jaccard reaches ``threshold``."""
    jac = "CAST(both_n AS DOUBLE) / (na.n + nb.n - both_n)"
    return f"""SELECT doc_a, doc_b, {X.fround(jac, 6)} AS jaccard
FROM inter
JOIN sizes na ON doc_a = na.doc_id
JOIN sizes nb ON doc_b = nb.doc_id
WHERE {jac} >= {threshold!r}
"""


def _lsh_verify_with(
    d: str,
    table: str,
    est: bool = False,
    inter: bool = True,
    capped: bool = False,
) -> str:
    """THE WITH clause of the LSH-scoped verifiers' oracles: ``cand`` (the
    MinHash-LSH candidate pairs); with ``capped``, the degree cap over it
    (``capped_cand_sql``); with ``est``, the signature-match Jaccard
    estimate ``est`` (doc_a, doc_b, ej = matching slots / NUM_PERM); the
    shingle sets ``sh`` and their ``sizes`` (doc_id, n); and with
    ``inter``, the exact intersection counts ``inter`` (doc_a, doc_b,
    both_n) over the capped or the plain candidates.  DuckDB
    auto-materializes the shared CTEs; the Spark engine side uses the
    staged parts instead."""
    ctes = [f"cand AS ({minhash_lsh_pairs_sql(d, table)})"]
    if capped:
        ctes.append(capped_cand_sql(d, "cand").strip())
    if est:
        matches = " + ".join(
            f"(CASE WHEN sa.m{k} = sb.m{k} THEN 1 ELSE 0 END)"
            for k in range(NUM_PERM)
        )
        ctes += [
            f"sig AS ({minhash_signatures_sql(d, table)})",
            f"""est AS (
  SELECT c.doc_a, c.doc_b, CAST(({matches}) AS DOUBLE) / {NUM_PERM}.0 AS ej
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
)""",
        ]
    ctes += [
        f"sh AS ({shingles_cte(d, table)})",
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)",
    ]
    if inter:
        ctes.append(f"""inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS both_n
  FROM {"capped" if capped else "cand"} c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY 1, 2
)""")
    return "\nWITH " + ",\n".join(ctes) + "\n"


# the audited estimators' FROM: every estimated pair, its exact
# intersection count when the shingle sets meet at all, and both sizes
_EST_FROM = """FROM est e
LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
JOIN sizes na ON e.doc_a = na.doc_id
JOIN sizes nb ON e.doc_b = nb.doc_id
"""


def ngram_jaccard_on_lsh_sql(d: str, threshold: float, table: str = "documents") -> str:
    """Exact Jaccard verification scoped to MinHash-LSH candidate pairs —
    the 100 TB composition: the shingle self-join runs only on pairs that
    already collided in an LSH band (shuffle proportional to candidates),
    never on all shingle collisions corpus-wide."""
    return _lsh_verify_with(d, table) + _jaccard_select(threshold)


# ---------------------------------------------------------------------------
# Incremental dedup — the production shape at 100 TB.  A corpus ingests in
# batches; re-LSH-ing the whole history per batch is O(corpus) per day.
# Instead the band table (doc_id, band_id, band_key) persists as the dedup
# INDEX: each new batch computes only its own bands, semi-joins them against
# the index (shuffle ~ batch + index, both bucketable on band_key), drops
# collisions, and appends the survivors' bands.  The reference's analogue is
# ReplacingMergeTree doing last-write dedup at merge time — this is the
# ingest-time, index-backed form.
#
# Semantics: direct-collision dedup — a new doc is dropped if any of its
# bands matches the index or a SMALLER-id doc in the same batch.  Chain-
# transitive merging (A~B, B~C, A!~C) is the job of dedup_cluster.connected
# _components over the accumulated pairs; direct collision is the standard
# conservative ingest-time rule.
# ---------------------------------------------------------------------------


def band_table(spark, docs, view_name: str | None = None):
    """(doc_id, band_id, band_key) for a batch of documents (doc_id, text).

    With the default uuid view name, the view exists only long enough to
    render the signature SQL against a stable name; it is dropped before
    returning (a long-lived ingest session would otherwise accumulate one
    catalog entry per batch), and the returned DataFrame is
    localCheckpoint()ed so the drop cannot invalidate its lineage.  A
    caller passing an explicit ``view_name`` owns the view's lifecycle and
    gets the LAZY plan — they must keep the view alive until they have
    consumed (or checkpointed) the result."""
    drop_after = view_name is None
    if view_name is None:
        import uuid

        view_name = f"__inc_dedup_{uuid.uuid4().hex[:12]}"
    docs.createOrReplaceTempView(view_name)
    # one-pass band generation: the UNION ALL form inlined the signature
    # pipeline (and the caller's whole upstream plan) once per band
    out = spark.sql(
        f"WITH sig AS ({minhash_signatures_sql(X.SPARK, view_name)})\n"
        + minhash_bands_from_sig_spark("sig")
    )
    if drop_after:
        out = out.localCheckpoint()
        spark.catalog.dropTempView(view_name)
    return out


def incremental_dedup(spark, new_docs, index):
    """Dedup ``new_docs`` against the persisted band ``index`` (may be None
    for the first batch) and within the batch.  Returns ``(kept_docs,
    kept_bands)`` — append ``kept_bands`` to the index to ingest the batch.
    """
    from pyspark.sql import functions as F

    nb = band_table(spark, new_docs)  # checkpointed inside; bands used 3x below
    dup_ids = None
    if index is not None:
        # join DIRECTION matters at scale: the old nb-left-semi-index form
        # builds/shuffles on the INDEX side (left-semi can only broadcast
        # its right side, and the standing band index is corpus-scale), so
        # every micro-batch paid an index-wide shuffle.  Broadcasting the
        # BATCH bands and streaming the index scan through one broadcast
        # hash join yields the identical id set — a batch doc_id appears
        # iff >= 1 of its band keys matches >= 1 index row; DISTINCT
        # collapses the per-collision multiplicity the semi-join never
        # emitted — with the index side never shuffled or built into a
        # hash table (guide §3.1).
        vs_index = (
            index.select("band_id", "band_key")
            .join(
                F.broadcast(nb.select("band_id", "band_key", "doc_id")),
                ["band_id", "band_key"],
            )
            .select("doc_id")
            .distinct()
        )
        dup_ids = vs_index
    a, b = nb.alias("a"), nb.alias("b")
    in_batch = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    dup_ids = in_batch if dup_ids is None else dup_ids.unionByName(in_batch).distinct()
    # materialize the survivors ONCE before fanning out: ``kept``'s plan
    # carries the caller's whole upstream chain (web_curate passes the
    # un-checkpointed DSIR + quality + LM scoring output as new_docs),
    # and every caller consumes BOTH returns — without this the survivor
    # landing, the band semi-join and any downstream reuse each re-run
    # that chain (measured 19 -> 28 s on the web_curate row when the
    # round-12 read-back fold exposed it)
    kept = new_docs.join(dup_ids, "doc_id", "left_anti").localCheckpoint()
    kept_bands = nb.join(kept.select("doc_id"), "doc_id", "left_semi")
    return kept, kept_bands


# ---------------------------------------------------------------------------
# Corpus-level repeated-span removal ("line dedup").  The C4 / Lee et al.
# 2022 ("Deduplicating Training Data Makes Language Models Better") pipeline
# stage the document-level family above cannot express: boilerplate SPANS
# (navigation chrome, license headers, repeated sentences) recur across
# thousands of otherwise-distinct pages, so the unit of dedup is the span,
# and the output is a REWRITTEN document, not a drop decision.
#
# Spans here are non-overlapping k-word segments (the word-aligned analogue
# of C4's newline-delimited lines — the fixture corpus is single-line).  A
# segment whose document frequency reaches ``min_df`` is removed everywhere
# and the surviving segments are re-joined in order.
#
# Scale design (100 TB): segmenting is a per-row lateral explode (no
# shuffle); the df table is one groupBy(seg) with map-side partial combine;
# the df lookup is an equi shuffle join on seg (the df table is corpus-wide
# — too big to broadcast — but heavy-hitter segs are exactly the ones
# removed, so the join output is bounded); the rebuild re-groups by doc_id,
# co-partitioned with the source if the corpus is bucketed on doc_id.  No
# step is quadratic and nothing touches the driver.
# ---------------------------------------------------------------------------

SPAN_WORDS = 5
SPAN_MIN_DF = 3


def _span_segs_sql(d: str, table: str) -> str:
    """(doc_id, i, seg): each document's i-th non-overlapping
    SPAN_WORDS-word segment — the segmenting both span_dedup forms run."""
    toks = X.split_tokens(d, "text")
    n_segs = X.idiv(
        d, f"{X.arr_size(d, 'toks')} + {SPAN_WORDS - 1}", str(SPAN_WORDS)
    )
    seg = X.arr_join(
        d, X.arr_slice(d, "toks", f"(i - 1) * {SPAN_WORDS} + 1", SPAN_WORDS)
    )
    src = X.positions_from(
        d, f"(SELECT doc_id, {toks} AS toks FROM {table})", "doc_id, toks", n_segs
    )
    return f"SELECT doc_id, i, {seg} AS seg FROM {src} p"


def span_dedup_sql(
    d: str,
    table: str = "documents",
) -> str:
    """Per-doc rewrite removing every SPAN_WORDS-word segment whose corpus
    document frequency >= SPAN_MIN_DF.  Output: doc_id, n_segs, n_removed, cleaned_text
    (original text when nothing was removed; '' when everything was)."""
    kept = X.ordered_join(d, f"CASE WHEN f.df < {SPAN_MIN_DF} THEN s.seg END", "s.i")
    return f"""
WITH segs AS (
  {_span_segs_sql(d, table)}
),
df AS (
  SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg
)
SELECT s.doc_id,
  COUNT(*) AS n_segs,
  CAST(SUM(CASE WHEN f.df >= {SPAN_MIN_DF} THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
  COALESCE({kept}, '') AS cleaned_text
FROM segs s JOIN df f ON s.seg = f.seg
GROUP BY s.doc_id
"""


def minhash_jaccard_estimate_sql(d: str, table: str = "documents") -> str:
    """Signature-based Jaccard ESTIMATION on LSH candidate pairs — est =
    (matching signature slots) / NUM_PERM, side by side with the exact
    shingle Jaccard and the absolute error.

    At 100 TB this is the similarity you can actually afford corpus-wide:
    after the LSH join, estimation touches only the two 8-slot signatures
    (already materialized in the band index), while exact Jaccard re-joins
    both documents' full shingle sets.  The est/exact/error triple makes
    the standard MinHash unbiased-estimator property an observable query
    output rather than a belief."""
    jac = (
        "CAST(COALESCE(i.both_n, 0) AS DOUBLE) "
        "/ (na.n + nb.n - COALESCE(i.both_n, 0))"
    )
    return _lsh_verify_with(d, table, est=True) + f"""SELECT e.doc_a, e.doc_b, e.ej AS est_jaccard,
  {X.fround(jac, 6)} AS jaccard,
  {X.fround(f"ABS(e.ej - {jac})", 6)} AS abs_err
{_EST_FROM}"""


def _staged_minhash_parts(
    spark, table: str = "documents", light: bool | str = False
):
    """Checkpointed shared stages of the MinHash pipeline — (sh, sig, cand,
    sizes).  Spark INLINES repeated CTEs, so any SQL that references the
    shingle/signature/candidate CTEs more than once re-runs the whole
    pipeline per reference (the 10x soak measured the estimator's 4
    references at 20x wall — SOAK.md round-4 batch 2); DuckDB
    auto-materializes multiply-referenced CTEs, so the ORACLES keep the
    plain SQL.  Engine-side queries assemble from these instead.

    ``light=True`` is for the callers that consume only ``sig``/``cand``
    (candidate pairs, the graph family): the shingle table is NOT
    checkpointed — the signature aggregation runs directly over the lazy
    shingle chain in ONE job, skipping the materialization of the
    |corpus|-scale shingle rows whose only consumers would have been the
    ``sh``/``sizes`` returns (returned as None in this mode).  Same sig
    and cand rows by construction.

    ``light="sizes"`` (round 12) additionally folds the per-doc shingle
    COUNT into the SAME signature aggregation (both are groupBy(doc_id)
    over the identical shingle rows), so a caller that needs sig + cand
    + sizes but never the raw shingles (containment_estimate_fast) gets
    all three from ONE corpus pass with nothing shingle-scale ever
    materialized; ``sh`` returns None.  Exact-audit callers (the
    intersection joins) keep the full mode."""
    from pyspark.sql import functions as F

    d = X.SPARK
    sized = light == "sizes"
    sh = spark.sql(shingles_cte(d, table))
    if not light:
        sh = sh.localCheckpoint()
    hv = sh.select("doc_id", F.expr(X.md5_int(d, "sh")).alias("hv"))
    aggs = [
        F.expr(e.replace(f" AS m{k}", "")).alias(f"m{k}")
        for k, e in enumerate(minhash_min_exprs())
    ]
    if sized:
        aggs.append(F.count(F.lit(1)).alias("n"))
    sig = hv.groupBy("doc_id").agg(*aggs).localCheckpoint()
    sizes = None
    if sized:
        sizes = sig.select("doc_id", "n")
        sig = sig.select("doc_id", *[f"m{k}" for k in range(NUM_PERM)])

    n_bands = NUM_PERM // BAND_ROWS
    bands = None
    for b in range(n_bands):
        key = F.md5(
            F.concat_ws("_", *[
                F.col(f"m{b * BAND_ROWS + r}").cast("string")
                for r in range(BAND_ROWS)
            ])
        )
        part = sig.select("doc_id", F.lit(b).alias("band_id"), key.alias("band_key"))
        bands = part if bands is None else bands.unionByName(part)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .localCheckpoint()
    )
    if sized:
        return None, sig, cand, sizes
    if light:
        return None, sig, cand, None
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return sh, sig, cand, sizes


def _staged_intersections(cand, sh):
    """Per-candidate exact shingle intersection counts."""
    from pyspark.sql import functions as F

    return (
        cand.join(sh.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(
            sh.alias("sb"),
            (F.col("sb.doc_id") == F.col("doc_b"))
            & (F.col("sb.sh") == F.col("sa.sh")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("both_n"))
    )


def _with_sizes(pairs, sizes):
    """``pairs`` (doc_a, doc_b, ...) joined to both documents' shingle-set
    sizes, as ``na_n`` and ``nb_n``."""
    from pyspark.sql import functions as F

    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na_n"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb_n"))
    return pairs.join(na, "doc_a").join(nb, "doc_b")


def _staged_estimate(cand, sig, name: str):
    """(doc_a, doc_b, ``name``): each candidate pair's signature-match
    Jaccard estimate, matching signature slots / NUM_PERM."""
    from pyspark.sql import functions as F

    matches = sum(
        F.when(F.col(f"sa.m{k}") == F.col(f"sb.m{k}"), 1).otherwise(0)
        for k in range(NUM_PERM)
    )
    return (
        cand.join(sig.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sig.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            (matches.cast("double") / float(NUM_PERM)).alias(name),
        )
    )


def _audited_estimate(spark, table: str, name: str):
    """The audited estimators' frame: every candidate pair's estimate
    (column ``name``), its exact intersection count ``both0`` (0 when the
    shingle sets never meet) and both sizes."""
    from pyspark.sql import functions as F

    sh, sig, cand, sizes = _staged_minhash_parts(spark, table)
    est = _staged_estimate(cand, sig, name)
    inter = _staged_intersections(cand, sh)
    return _with_sizes(
        est.join(inter, ["doc_a", "doc_b"], "left"), sizes
    ).withColumn("both0", F.coalesce(F.col("both_n"), F.lit(0)))


def ngram_jaccard_on_lsh_df(spark, threshold: float, table: str = "documents"):
    """Staged engine form of ``ngram_jaccard_on_lsh_sql`` (the tier-1
    ngram_jaccard_pairs implementation) — same output, pipeline runs once."""
    from pyspark.sql import functions as F

    from ..functions.dialect import fround

    sh, _sig, cand, sizes = _staged_minhash_parts(spark, table)
    jac = "CAST(both_n AS DOUBLE) / (na_n + nb_n - both_n)"
    return (
        _with_sizes(_staged_intersections(cand, sh), sizes)
        .filter(F.expr(f"{jac} >= {threshold!r}"))
        .select("doc_a", "doc_b", F.expr(fround(jac, 6)).alias("jaccard"))
    )


def minhash_jaccard_estimate_df(spark, table: str = "documents"):
    """Staged engine form of ``minhash_jaccard_estimate_sql`` — same
    output, pipeline runs once (see ``_staged_minhash_parts``)."""
    from pyspark.sql import functions as F

    from ..functions.dialect import fround

    jac = "CAST(both0 AS DOUBLE) / (na_n + nb_n - both0)"
    return _audited_estimate(spark, table, "est_jaccard").select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        F.expr(fround(jac, 6)).alias("jaccard"),
        F.expr(fround(f"ABS(est_jaccard - {jac})", 6)).alias("abs_err"),
    )


def simhash_hamming_hist_df(spark, max_dist: int, table: str = "documents"):
    """Staged engine form of ``simhash_hamming_hist_sql``: the bands CTE is
    self-joined, so under Spark's CTE inlining the whole 60-aggregate
    SimHash pipeline ran twice; checkpoint the banded fingerprints once."""
    from pyspark.sql import functions as F

    d = X.SPARK
    banded = spark.sql(
        f"WITH sig AS ({simhash_sql(d, table)}) "
        + _simhash_bands_sql(d, max_dist)
    ).localCheckpoint()
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("a.simhash").alias("simhash"),
            F.col("b.doc_id").alias("db"),
            F.col("b.simhash").alias("simhash_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.expr(X.xor(d, "CAST(simhash AS BIGINT)", "CAST(simhash_b AS BIGINT)")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_dist)
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def span_dedup_df(spark, table: str = "documents"):
    """Staged engine form of ``span_dedup_sql``: the segs CTE feeds both the
    df aggregate and the rebuild join — checkpoint it so the document scan
    and the split/slice segmenting run once."""
    from pyspark.sql import functions as F

    segs = spark.sql(_span_segs_sql(X.SPARK, table)).localCheckpoint()
    df_tab = segs.groupBy("seg").agg(F.count_distinct("doc_id").alias("df"))
    joined = segs.join(df_tab, "seg")
    kept = X.ordered_join(X.SPARK, f"CASE WHEN df < {SPAN_MIN_DF} THEN seg END", "i")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum(F.when(F.col("df") >= SPAN_MIN_DF, 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.expr(f"COALESCE({kept}, '')").alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# Containment — the partial-overlap signal Jaccard misses.  C(A,B) =
# |A∩B| / |A| is near 1 when doc A is (mostly) embedded inside doc B even
# though Jaccard is small (the quote/boilerplate/near-superset case —
# Broder 1997 distinguishes "resemblance" from "containment").  Scoped to
# LSH candidates like the Jaccard verifier: shuffle ~ candidates.
# ---------------------------------------------------------------------------

CONTAIN_THRESHOLD = 0.5

# THE directional-containment SELECT of the oracles (over ``inter`` and
# ``sizes``): both directions plus the dominant one, kept when the pair's
# larger containment reaches CONTAIN_THRESHOLD
_CONTAIN_SELECT = f"""SELECT doc_a, doc_b,
  {X.fround("CAST(both_n AS DOUBLE) / na.n", 6)} AS contain_ab,
  {X.fround("CAST(both_n AS DOUBLE) / nb.n", 6)} AS contain_ba,
  CASE WHEN na.n <= nb.n THEN doc_a ELSE doc_b END AS contained_doc
FROM inter
JOIN sizes na ON doc_a = na.doc_id
JOIN sizes nb ON doc_b = nb.doc_id
WHERE CAST(both_n AS DOUBLE) / LEAST(na.n, nb.n) >= {CONTAIN_THRESHOLD!r}
"""


def containment_on_lsh_sql(
    d: str, table: str = "documents"
) -> str:
    """Directional containment on MinHash-LSH candidate pairs: both
    directions plus the dominant one, kept when max(C_ab, C_ba) >=
    CONTAIN_THRESHOLD.  Same CTE skeleton as ``ngram_jaccard_on_lsh_sql``; DuckDB
    auto-materializes the shared CTEs, the Spark engine side uses the
    staged form.

    Recall caveat (honest scale note): the candidate generator is the
    shared MinHash band index, whose collision probability tracks
    RESEMBLANCE (Jaccard) — a tiny doc fully contained in a huge one has
    high containment but low Jaccard and can miss every band.  This
    operator therefore surfaces the *moderate-size-ratio* containment
    pairs (quotes, boilerplate, near-supersets up to a few x).  Catching
    extreme-ratio containment needs a dedicated candidate generator
    (per-shingle inverted index or suffix-based bands) — out of scope;
    span_dedup covers the corpus-frequent-substring half of that case."""
    return _lsh_verify_with(d, table) + _CONTAIN_SELECT


def _containment_tail(pairs, sh, sizes, threshold: float):
    """THE engine containment verification over candidate ``pairs``: exact
    shingle intersections, both sizes, the directional containments and
    the contained doc, kept when the larger containment reaches
    ``threshold``."""
    from pyspark.sql import functions as F

    from ..functions.dialect import fround

    return (
        _with_sizes(_staged_intersections(pairs, sh), sizes)
        .filter(F.expr(f"CAST(both_n AS DOUBLE) / LEAST(na_n, nb_n) >= {threshold!r}"))
        .select(
            "doc_a",
            "doc_b",
            F.expr(fround("CAST(both_n AS DOUBLE) / na_n", 6)).alias("contain_ab"),
            F.expr(fround("CAST(both_n AS DOUBLE) / nb_n", 6)).alias("contain_ba"),
            F.expr("CASE WHEN na_n <= nb_n THEN doc_a ELSE doc_b END").alias(
                "contained_doc"
            ),
        )
    )


def containment_on_lsh_df(
    spark, threshold: float = CONTAIN_THRESHOLD, table: str = "documents"
):
    """Staged engine form of ``containment_on_lsh_sql`` — rides the shared
    checkpointed MinHash parts so the shingle/band pipeline runs once."""
    sh, _sig, cand, sizes = _staged_minhash_parts(spark, table)
    return _containment_tail(cand, sh, sizes, threshold)


# ---------------------------------------------------------------------------
# Bounded-degree candidate verification — the safety valve for the pairwise
# family when near-dup density explodes.  Exact verification costs work
# proportional to candidate EDGES; on a pathological corpus (mirror floods,
# template spam) a single doc can collide with millions of others and the
# per-edge stage, while linear in edges, is quadratic in that doc's dup
# count.  Capping each doc's verified-candidate degree at max_deg bounds
# worst-case work at max_deg * corpus while keeping dedup recall: a doc in
# a giant duplicate group only needs ONE surviving edge into the group for
# connected-components to merge it.  Selection is deterministic (md5 of the
# pair), so reruns verify the same edges.
# ---------------------------------------------------------------------------

CAND_MAX_DEGREE = 20


def cap_candidate_degree(cand, max_deg: int = CAND_MAX_DEGREE):
    """Bounded-degree candidate filter: rank each edge within its doc_a and
    doc_b partitions by deterministic pair-hash order, keep edges ranked
    <= max_deg on BOTH ends (a doc_b-heavy hub is capped too), and ALWAYS
    keep each node's minimum-id-neighbor edge regardless of rank.

    Guarantees (each pytest-asserted):
    - TOTAL kept edges <= (max_deg + 1) * n_docs — every node contributes
      at most max_deg double-capped edges as doc_a plus one exempted
      min-edge — so pairwise-verification work is linear in the corpus,
      never quadratic in a flood's duplicate count.  (The PER-NODE degree
      of a flood's minimum is the flood size — it is the hub of the
      exempted star — which is why the bound that matters is the total.)
    - A duplicate CLIQUE stays ONE component: capping both endpoint
      budgets alone can split it (measured — a 60-doc flood at cap 3 split
      in two), but with the exemption every clique member keeps its edge
      to the clique minimum, so connected components still merges the
      whole flood through that star.  (General non-clique graphs keep
      every node attached to its min neighbor — not a global-connectivity
      proof, but the flood shape IS a clique.)

    Three keyed passes over the edge list: two rank windows + one
    min-neighbor aggregate."""
    from pyspark.sql import Window as W_
    from pyspark.sql import functions as F

    h = F.expr(
        "conv(substr(md5(concat('deg:', CAST(doc_a AS STRING), ':', "
        "CAST(doc_b AS STRING))), 1, 15), 16, 10)"
    ).cast("long")
    # min neighbor per node over the UNCAPPED graph (doc_a < doc_b, so a
    # node's min neighbor is min(min doc_a over its doc_b edges, min doc_b
    # over its doc_a edges) — for doc_b nodes the doc_a side suffices here:
    # the exempted edge is (minNbr(x), x), whose doc_a IS the min neighbor)
    min_nbr = (
        cand.groupBy("doc_b").agg(F.min("doc_a").alias("__mn"))
        .withColumnRenamed("doc_b", "__n")
    )
    ranked = (
        cand.withColumn("__h", h)
        .withColumn(
            "__ra",
            F.row_number().over(
                W_.partitionBy("doc_a").orderBy(F.col("__h"), F.col("doc_b"))
            ),
        )
        .withColumn(
            "__rb",
            F.row_number().over(
                W_.partitionBy("doc_b").orderBy(F.col("__h"), F.col("doc_a"))
            ),
        )
        .join(min_nbr, F.col("doc_b") == F.col("__n"), "left")
    )
    return (
        ranked.filter(
            ((F.col("__ra") <= max_deg) & (F.col("__rb") <= max_deg))
            | (F.col("doc_a") == F.col("__mn"))
        )
        .drop("__h", "__ra", "__rb", "__n", "__mn")
    )


def containment_on_lsh_capped_df(
    spark,
    max_deg: int = CAND_MAX_DEGREE,
    table: str = "documents",
):
    """Degree-capped containment verification: identical per-edge math to
    ``containment_on_lsh_df``, but over the bounded-degree candidate set —
    the form you run when the corpus is flood-shaped.  The registered
    ``containment_capped`` query runs this form."""
    sh, _sig, cand, sizes = _staged_minhash_parts(spark, table)
    capped = cap_candidate_degree(cand, max_deg).localCheckpoint()
    return _containment_tail(capped, sh, sizes, CONTAIN_THRESHOLD)


def containment_estimate_sql(d: str, table: str = "documents") -> str:
    """Signature-based containment ESTIMATION on LSH candidates — the
    corpus-wide-affordable twin of ``containment_on_lsh_sql``, mirroring
    the Jaccard estimator's scale story.  From the MinHash signature
    Jaccard estimate j and the (already materialized) shingle-set sizes:

        |A∩B| = j * (|A| + |B|) / (1 + j)      (identity from j = i/(a+b-i))
        C(A,B) = |A∩B| / |A|

    so estimated containment needs only the 8-slot signatures plus the
    sizes table — NO per-pair shingle re-join (the 10x soak's 12x entry
    becomes signature-table work).  Exact containment and the absolute
    error ride beside it, same observable-estimator convention as
    minhash_jaccard_estimate."""
    est_c = "e.ej * (na.n + nb.n) / (1.0 + e.ej) / na.n"
    contain = "CAST(COALESCE(i.both_n, 0) AS DOUBLE) / na.n"
    return _lsh_verify_with(d, table, est=True) + f"""SELECT e.doc_a, e.doc_b,
  {X.fround(est_c, 6)} AS est_contain_ab,
  {X.fround(contain, 6)} AS contain_ab,
  {X.fround(f"ABS({est_c} - {contain})", 6)} AS abs_err
{_EST_FROM}"""


def containment_estimate_df(spark, table: str = "documents"):
    """Staged engine form of ``containment_estimate_sql`` (shared
    checkpointed MinHash parts; exact-intersection audit column included —
    in a pure production run you would project only the estimate and skip
    the shingle join entirely)."""
    from pyspark.sql import functions as F

    from ..functions.dialect import fround

    est_c = "ej * (na_n + nb_n) / (1.0 + ej) / na_n"
    return _audited_estimate(spark, table, "ej").select(
        "doc_a",
        "doc_b",
        F.expr(fround(est_c, 6)).alias("est_contain_ab"),
        F.expr(fround("CAST(both0 AS DOUBLE) / na_n", 6)).alias("contain_ab"),
        F.expr(fround(f"ABS({est_c} - CAST(both0 AS DOUBLE) / na_n)", 6)).alias("abs_err"),
    )


def capped_cand_sql(d: str, cand: str) -> str:
    """SQL twin of ``cap_candidate_degree`` over a candidate relation
    ``cand`` (columns doc_a, doc_b): pair-hash rank windows on both ends +
    the min-neighbor exemption, as plain window SQL both engines run
    identically."""
    h = X.md5_int(
        d, "'deg:' || CAST(doc_a AS STRING) || ':' || CAST(doc_b AS STRING)"
    )
    return f"""
ranked AS (
  SELECT doc_a, doc_b,
    ROW_NUMBER() OVER (PARTITION BY doc_a ORDER BY {h}, doc_b) AS ra,
    ROW_NUMBER() OVER (PARTITION BY doc_b ORDER BY {h}, doc_a) AS rb
  FROM {cand}
),
min_nbr AS (
  SELECT doc_b AS n, MIN(doc_a) AS mn FROM {cand} GROUP BY doc_b
),
capped AS (
  SELECT r.doc_a, r.doc_b
  FROM ranked r
  LEFT JOIN min_nbr m ON m.n = r.doc_b
  WHERE (r.ra <= {CAND_MAX_DEGREE} AND r.rb <= {CAND_MAX_DEGREE}) OR r.doc_a = m.mn
)"""


def containment_capped_sql(
    d: str,
    table: str = "documents",
) -> str:
    """Oracle form of the degree-capped containment verifier: LSH
    candidates -> SQL degree cap (``capped_cand_sql``) -> the same
    directional-containment math as ``containment_on_lsh_sql``."""
    return _lsh_verify_with(d, table, capped=True) + _CONTAIN_SELECT


def containment_estimate_fast_sql(d: str, table: str = "documents") -> str:
    """The production projection of ``containment_estimate_sql``: estimate
    only, NO exact-intersection audit join — candidate pairs touch just the
    8-slot signatures and the sizes table.  This is the form whose cost is
    signature-table work at any duplicate density (the audit form's 10x
    soak ratio is entirely its exact shingle join)."""
    est = "e.ej * (na.n + nb.n) / (1.0 + e.ej)"
    return _lsh_verify_with(d, table, est=True, inter=False) + f"""SELECT e.doc_a, e.doc_b,
  {X.fround(f"{est} / na.n", 6)} AS est_contain_ab,
  {X.fround(f"{est} / nb.n", 6)} AS est_contain_ba
FROM est e
JOIN sizes na ON e.doc_a = na.doc_id
JOIN sizes nb ON e.doc_b = nb.doc_id
"""


def containment_estimate_fast_df(spark, table: str = "documents"):
    """Staged engine form — signatures/candidates/sizes from the shared
    checkpointed parts (the one-pass ``light="sizes"`` mode: the per-doc
    shingle count rides the signature aggregation, so nothing
    shingle-scale is ever materialized); no shingle re-join anywhere."""
    from pyspark.sql import functions as F

    from ..functions.dialect import fround

    _sh, sig, cand, sizes = _staged_minhash_parts(spark, table, light="sizes")
    e = "ej * (na_n + nb_n) / (1.0 + ej)"
    return _with_sizes(_staged_estimate(cand, sig, "ej"), sizes).select(
        "doc_a",
        "doc_b",
        F.expr(fround(f"{e} / na_n", 6)).alias("est_contain_ab"),
        F.expr(fround(f"{e} / nb_n", 6)).alias("est_contain_ba"),
    )


# ---------------------------------------------------------------------------
# Substring-level duplicated-span detection (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" — the k-gram approximation)
# ---------------------------------------------------------------------------

DUP_SPAN_WORDS = 8  # sliding k-gram width (stride 1 — runs need exactness)
DUP_SPAN_MIN_TOKENS = 16  # a duplicated span this long flags the doc
assert DUP_SPAN_MIN_TOKENS > DUP_SPAN_WORDS - 1  # keeps the flag NULL-safe


def dup_span_grams_sql(d: str, table: str = "documents") -> str:
    """(doc_id, i, gram_h): every stride-1 word DUP_SPAN_WORDS-gram
    position.  Unlike
    ``span_dedup``'s disjoint segments (the C4 line-level rewrite), the
    sliding window is what lets consecutive duplicated positions reconstruct
    SPAN length — the Lee-et-al substring granularity."""
    from .decontaminate import gram_at

    toks = X.split_tokens(d, "lower(text)")
    sub = f"(SELECT doc_id, {toks} AS toks FROM {table})"
    sized = (
        f"(SELECT doc_id, toks, {X.arr_size(d, 'toks')} AS nt FROM {sub} t "
        f"WHERE {X.arr_size(d, 'toks')} >= {DUP_SPAN_WORDS})"
    )
    pos = X.positions_from(d, sized, "doc_id, toks", f"nt - {DUP_SPAN_WORDS - 1}")
    return (
        f"SELECT doc_id, i, "
        f"{X.md5_int(d, gram_at(d, 'toks', 'i', DUP_SPAN_WORDS))} AS gram_h "
        f"FROM {pos} p"
    )


def dup_span_flag_sql(g: str) -> str:
    """(doc_id, i, dup): a position is duplicated when its gram occurs >= 2
    times GLOBALLY (covers cross-doc duplication and within-doc repeats in
    one rule).  Dialect-free; ``g`` may be a staged view (engine) or a CTE
    name (oracle) — the double reference is safe on both."""
    return (
        f"SELECT g.doc_id, g.i, (c.n_occ >= 2) AS dup FROM {g} g "
        f"JOIN (SELECT gram_h, COUNT(*) AS n_occ FROM {g} GROUP BY gram_h) c "
        f"ON g.gram_h = c.gram_h"
    )


def _dup_span_score_ctes(flag: str) -> str:
    """CTE-list + final SELECT (no leading WITH): gaps-and-islands over the
    duplicated positions — island id = i - row_number() per doc, longest
    island + DUP_SPAN_WORDS-1 = the longest duplicated SPAN in tokens.  Window functions
    partition by doc_id only (per-doc bounded state, never a corpus sort)."""
    return f"""
isl AS (
  SELECT doc_id, i,
         i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS island
  FROM {flag} WHERE dup
),
runs AS (SELECT doc_id, island, COUNT(*) AS run_len FROM isl GROUP BY doc_id, island),
longest AS (SELECT doc_id, MAX(run_len) AS max_run FROM runs GROUP BY doc_id),
perdoc AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
  FROM {flag} GROUP BY doc_id
)
SELECT p.doc_id, p.n_grams, p.n_dup,
  CAST(COALESCE(l.max_run, 0) AS BIGINT) AS max_run,
  CAST(CASE WHEN l.max_run IS NULL THEN 0 ELSE l.max_run + {DUP_SPAN_WORDS - 1} END AS BIGINT)
    AS dup_span_tokens,
  {X.fround("CAST(p.n_dup AS DOUBLE) / p.n_grams", 6)} AS dup_frac,
  (CAST(COALESCE(l.max_run, 0) AS BIGINT) + {DUP_SPAN_WORDS - 1} >= {DUP_SPAN_MIN_TOKENS})
    AS has_long_dup
FROM perdoc p LEFT JOIN longest l ON p.doc_id = l.doc_id
"""


def dup_spans_sql(d: str, table: str = "documents") -> str:
    """Oracle form: plain CTEs."""
    return (
        f"WITH g AS ({dup_span_grams_sql(d, table)}), "
        f"flag AS ({dup_span_flag_sql('g')}), "
        + _dup_span_score_ctes("flag")
    )


def dup_spans_df(spark, table: str = "documents"):
    """Engine side: the gram table feeds the global occurrence count AND the
    per-position flag join (staged once); the flag table feeds the island
    chain AND the per-doc totals (staged once).  The only corpus-scale
    shuffle is the gram groupBy (token-stream class, same as tf/minhash);
    everything after is per-doc bounded."""
    from .staging import staged_views

    g_df = spark.sql(dup_span_grams_sql(X.SPARK, table))
    with staged_views(spark, g=g_df) as v1:
        flag_df = spark.sql(dup_span_flag_sql(v1.g))
        with staged_views(spark, flag=flag_df) as v2:
            return spark.sql(f"WITH {_dup_span_score_ctes(v2.flag)}")
