"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference surface (BASELINE.json north star): language ID
(stopword-hit heuristic), quality scoring (length/stopword ratios), token
counting, and document fingerprinting — all as pure SQL expressions rendered
for both engines (functions/dialect.py), so every operator has a DuckDB
oracle and runs JVM-side in Spark (no Python on the hot path).

Scale notes (100 TB): every operator here is a per-row projection or a
groupBy with map-side partial aggregation — no shuffles beyond the final
aggregate, no driver-side collection, no UDFs.
"""

from __future__ import annotations

from ..functions import dialect as X

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "de", "que", "y", "los"),
}


def tokens_expr(d: str, text: str = "text") -> str:
    return X.split_tokens(d, f"lower({text})")


def token_count_expr(d: str, text: str = "text") -> str:
    """Whitespace token count (BPE-ish subword estimate = chars/4 is a
    separate column in text_stats)."""
    return X.arr_size(d, tokens_expr(d, text))


def stopword_hits_from(d: str, lang: str, arr: str) -> str:
    """Stopword hit count against a precomputed token-array column (compute
    the split once per row, not once per language)."""
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return X.arr_size(d, X.arr_filter(d, arr, f"x -> x IN ({words})"))


def stopword_hits_expr(d: str, lang: str, text: str = "text") -> str:
    return stopword_hits_from(d, lang, tokens_expr(d, text))


def lang_guess_from(en: str, de: str, es: str) -> str:
    """argmax of stopword hits, ties broken en > de > es, zero hits -> 'und'."""
    return (
        f"(CASE WHEN {en} = 0 AND {de} = 0 AND {es} = 0 THEN 'und' "
        f"WHEN {en} >= {de} AND {en} >= {es} THEN 'en' "
        f"WHEN {de} >= {es} THEN 'de' ELSE 'es' END)"
    )


def avg_token_len_from(d: str, arr: str) -> str:
    total = X.arr_sum_bigint(d, X.arr_transform(d, arr, "x -> CAST(length(x) AS BIGINT)"))
    n = X.arr_size(d, arr)
    return f"(CASE WHEN {n} = 0 THEN 0.0 ELSE CAST({total} AS DOUBLE) / {n} END)"


def quality_score_from(hits_en: str, n_tokens: str, n_chars: str = "n_chars") -> str:
    """0-100 quality heuristic: stopword density + length saturation.

    Mirrors the shape of the reference's weighted metric scoring (Q3/Q4) —
    weighted ratio terms, clamped and rounded.
    """
    stop_ratio = (
        f"(CASE WHEN {n_tokens} = 0 THEN 0.0 ELSE CAST({hits_en} AS DOUBLE) / {n_tokens} END)"
    )
    from ..functions.dialect import fround

    len_score = f"LEAST(CAST({n_chars} AS DOUBLE) / 500.0, 1.0)"
    return fround(f"100.0 * (0.5 * {stop_ratio} + 0.5 * {len_score})", 4)


def quality_score_expr(d: str, text: str = "text", n_chars: str = "n_chars") -> str:
    return quality_score_from(
        stopword_hits_expr(d, "en", text), token_count_expr(d, text), n_chars
    )


def fingerprint_expr(d: str, text: str = "text") -> str:
    """Deterministic document fingerprint (content-defined identity for
    dedup): md5 of the whitespace-normalized lowercased text."""
    return f"md5(trim(lower({text})))"


# ---------------------------------------------------------------------------
# PII scrubbing — the redaction pass every training-data pipeline runs before
# anything else sees the text.  Regexes are deliberately backslash-free
# ([0-9] classes, never \d) so one pattern string renders identically inside
# Spark and DuckDB SQL literals (see dialect.regex_replace_all).  Order
# matters: the most specific shapes (email, SSN) redact before the greedy
# ones (phone) so a phone-ish substring inside an email never fires first.
# ---------------------------------------------------------------------------

PII_PATTERNS = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}",
    "ssn": "[0-9]{3}-[0-9]{2}-[0-9]{4}",
    "ipv4": "([0-9]{1,3}[.]){3}[0-9]{1,3}",
    "phone": "[+]?[0-9][0-9() -]{6,}[0-9]",
}


def pii_count_expr(d: str, kind: str, text: str = "text") -> str:
    return X.regex_count(d, text, PII_PATTERNS[kind])


def pii_redact_expr(d: str, text: str = "text") -> str:
    """Chain of global regexp_replace — one projection, JVM-side in Spark,
    vectorized in DuckDB; at 100 TB this is a pure map stage, no shuffle."""
    expr = text
    for kind, pat in PII_PATTERNS.items():
        expr = X.regex_replace_all(d, expr, pat, f"<{kind.upper()}>")
    return expr


WINNOW_SHINGLE = 8
WINNOW_STEP = 4


def winnow_fingerprint_expr(d: str, text: str = "text") -> str:
    """Winnowing-style rolling-hash fingerprint: the minimum 60-bit hash over
    the document's character shingles — robust to local edits (an edit
    changes only the shingles it touches, and the min survives unless the
    minimal shingle itself was hit), unlike the whole-document md5 above.

    Expressed as a per-row higher-order-function chain (sequence →
    transform(md5) → array_min): stays JVM-side in Spark / vectorized in
    DuckDB, no explode and no shuffle."""
    n = f"greatest(length({text}) - {WINNOW_SHINGLE - 1}, 1)"
    if d == X.SPARK:
        seq = f"sequence(1, {n}, {WINNOW_STEP})"
        hashed = X.arr_transform(
            d, seq, f"i -> {X.md5_int(d, f'substr({text}, i, {WINNOW_SHINGLE})')}"
        )
        return f"array_min({hashed})"
    seq = f"range(1, {n} + 1, {WINNOW_STEP})"
    hashed = X.arr_transform(
        d, seq, f"i -> {X.md5_int(d, f'substr({text}, i, {WINNOW_SHINGLE})')}"
    )
    return f"list_min({hashed})"


# ---------------------------------------------------------------------------
# Model-free document embeddings — feature hashing + signed random
# projection in pure SQL (the "hashing trick", Weinberger et al. 2009).
# embedding[j] = sum over token occurrences of sign(md5(tok, j)), i.e. a
# +-1 random projection of the hashed bag of words, L2-normalized.  Same
# one-pass GROUP BY shape as SimHash (EMB_DIM aggregate expressions,
# map-side partials, zero fanout); deterministic, so DuckDB recomputes it
# exactly — the bridge that makes the vector operators (cosine/ANN/
# SemDeDup) runnable on the text corpus without any model artifact.
# ---------------------------------------------------------------------------

EMB_DIM = 16


def text_embed_sql(d: str, table: str = "documents") -> str:
    """Per-doc dense embedding (array<double>, L2-normalized) from signed
    hashed token projections.  One token explode + one GROUP BY doc_id with
    EMB_DIM integer SUMs; normalization is a single sqrt over exact integer
    sums, identically rounded on both engines."""
    tok_hash = X.md5_int(d, f"tok || ':' || CAST(j.j AS STRING)")
    if d == X.SPARK:
        toks = (
            f"SELECT doc_id, tok FROM {table} "
            "LATERAL VIEW explode(split(lower(text), ' ')) t AS tok"
        )
        dims = f"LATERAL VIEW explode(sequence(0, {EMB_DIM - 1})) j AS j"
        src = f"(SELECT doc_id, tok FROM ({toks}) b) s {dims}"
    else:
        toks = (
            f"SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok "
            f"FROM {table}"
        )
        src = f"({toks}) s, (SELECT unnest(range({EMB_DIM})) AS j) j"
    sums = ",\n    ".join(
        f"CAST(SUM(CASE WHEN j = {k} THEN sgn ELSE 0 END) AS BIGINT) AS s{k}"
        for k in range(EMB_DIM)
    )
    comps = ", ".join(f"s{k}" for k in range(EMB_DIM))
    sq = " + ".join(f"CAST(s{k} * s{k} AS DOUBLE)" for k in range(EMB_DIM))
    # long form (doc_id, j, comp): the value-hash gate canonicalizes scalar
    # cells only (array cells are unhashable — the multimodal lesson), and
    # the long form is also the join-ready shape for SQL-side cosines
    return f"""
WITH proj AS (
  SELECT doc_id, j.j AS j,
    CASE WHEN {tok_hash} % 2 = 0 THEN 1 ELSE -1 END AS sgn
  FROM {src}
),
agg AS (
  SELECT doc_id, {sums}
  FROM proj GROUP BY doc_id
),
normed AS (
  SELECT doc_id, {comps}, sqrt({sq}) AS nrm FROM agg
)
{text_embed_union("normed")}
"""


def text_embed_normed_sql(d: str, table: str = "documents") -> str:
    """The pipeline up to the ``normed`` stage (doc_id, s0..s{{EMB_DIM-1}}, nrm)
    as a standalone statement — the Spark engine side stages THIS once
    (the union tail references normed EMB_DIM times; Spark's CTE inlining
    would recompute the whole explode+aggregate per branch; DuckDB
    auto-materializes, so the oracle keeps the single statement)."""
    full = text_embed_sql(d, table)
    head, _, _tail = full.partition(")\n" + text_embed_union("normed"))
    return head + ")\nSELECT * FROM normed"


def text_embed_union(normed: str) -> str:
    """The long-form projection tail over a prepared ``normed`` relation."""
    return "\nUNION ALL\n".join(
        f"SELECT doc_id, {k} AS j, "
        f"(CASE WHEN nrm = 0.0 THEN 0.0 ELSE CAST(s{k} AS DOUBLE) / nrm END) AS comp "
        f"FROM {normed}"
        for k in range(EMB_DIM)
    )
