"""Property-based retrieval/LM tests: for arbitrary small corpora the
shared SQL arithmetic (evaluated by DuckDB, the oracle engine) must equal
a pure-Python recompute of the integer-quantized formulas — BM25's
doubled-idf + scaled-BIGINT saturation and the LM's micro-nat nll sums —
including empty-match, all-OOV, single-doc and duplicate-heavy cases.
Spark-vs-DuckDB parity is covered by the registry gate; the engine under
test here is the arithmetic itself."""

from __future__ import annotations

import math

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from nqs_console_flink_window_spark.operators import retrieval as RT

# vocabulary includes the default query terms so matches actually occur
VOCAB = ["query", "window", "dup", "filler", "zz"]

corpus = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=1, max_size=20),
    min_size=1,
    max_size=25,
)


def _con(docs: list[list[str]]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)",
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
    )
    return con


def _qln(k: int) -> int:
    return math.floor(math.log(k) * 1e6 + 0.5)


@settings(max_examples=40, deadline=None)
@given(corpus)
def test_bm25_sql_matches_pure_python(docs: list[list[str]]) -> None:
    got = _con(docs).execute(RT.bm25_topk_sql("duck")).fetchdf()

    n = len(docs)
    dl = {i: len(ws) for i, ws in enumerate(docs)}
    t = sum(dl.values())
    tf: dict[tuple[int, str], int] = {}
    for i, ws in enumerate(docs):
        for w in ws:
            if w in RT.BM25_QUERY:
                tf[(i, w)] = tf.get((i, w), 0) + 1
    df: dict[str, int] = {}
    for (_i, w) in tf:
        df[w] = df.get(w, 0) + 1
    scores: dict[int, int] = {}
    terms: dict[int, int] = {}
    for (i, w), f in tf.items():
        idf = _qln(2 * n + 2) - _qln(2 * df[w] + 1)
        contrib = (
            float(idf)
            * (22.0 * t * f)
            / (10.0 * t * f + 3.0 * t + 9.0 * dl[i] * n)
        )
        scores[i] = scores.get(i, 0) + math.floor(contrib + 0.5)
        terms[i] = terms.get(i, 0) + 1
    want = sorted(scores.items(), key=lambda p: (-p[1], p[0]))[: RT.BM25_K]

    assert len(got) == len(want)
    for row, (doc, micro) in zip(got.itertuples(), want):
        assert row.doc_id == doc
        assert row.score_micro == micro
        assert row.n_terms == terms[doc]
        assert row.score_bm25 == micro / 1.0e6


@settings(max_examples=40, deadline=None)
@given(corpus)
def test_lm_sql_matches_pure_python(docs: list[list[str]]) -> None:
    got = _con(docs).execute(RT.lm_perplexity_sql("duck")).fetchdf()

    tgt: dict[str, int] = {}
    for i, ws in enumerate(docs):
        if i % 7 == 0:
            for w in ws:
                tgt[w] = tgt.get(w, 0) + 1
    qln_tv1 = _qln(sum(tgt.values()) + len(tgt) + 1)
    assert len(got) == len(docs)
    for row in got.itertuples():
        ws = docs[row.doc_id]
        n_tok = len(ws)
        nll = n_tok * qln_tv1 - sum(_qln(tgt.get(w, 0) + 1) for w in ws)
        assert row.n_tok == n_tok
        assert row.nll_micro == nll
        want_avg = math.floor(nll / (n_tok * 1.0e6) * 1e6 + 0.5) / 1e6
        assert row.avg_nll_nats == want_avg
        band = (
            "head"
            if nll < RT.LM_HEAD_MICRO * n_tok
            else ("middle" if nll < RT.LM_TAIL_MICRO * n_tok else "tail")
        )
        assert row.ppl_band == band
        assert bool(row.keep) == (nll < RT.LM_TAIL_MICRO * n_tok)


# (query_id, terms) sets over VOCAB plus a term no document holds; every
# drawn set also carries three fixed queries: one with a term absent from
# the corpus, one repeating a term, and one matching a single document
# (SOLO is planted in exactly one doc below)
SOLO = "solo"
queryset = st.dictionaries(
    st.integers(min_value=1, max_value=6),
    st.lists(st.sampled_from(VOCAB + ["absent"]), min_size=1, max_size=4).map(
        tuple
    ),
    min_size=1,
    max_size=4,
).map(
    lambda qs: {
        **qs,
        7: ("absent", "window"),
        8: ("query", "dup", "query"),
        9: (SOLO, "absent"),
    }
)


def _hybrid_multi_sql(fragment, queries, leg_k: int, k: int) -> str:
    return (
        f"WITH tok AS ({RT.tok_cte('duck', 'documents')}), "
        f"qt AS ({RT.bm25_queryset_sql(queries)}), "
        f"tfq AS ({RT.bm25_tf_sql('tok', RT.bm25_queryset_terms(queries))}), "
        f"dlt AS ({RT.bm25_dl_sql('tok')}), "
        + fragment("duck", "tfq", "dlt", "qt", "documents", leg_k=leg_k, k=k)
    )


@settings(max_examples=40, deadline=None)
@given(
    corpus,
    queryset,
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=8),
)
def test_fused_hybrid_fragment_matches_oracle_fragment(
    docs: list[list[str]], queries, leg_k: int, k: int
) -> None:
    """The engine's one-pass RRF fusion (``_hybrid_rrf_fused_ctes``)
    returns exactly the rows of the oracle's leg-by-leg fragment
    (``_hybrid_rrf_multi_ctes``), with leg and fused cuts small enough to
    bind on these corpora."""
    con = _con(docs[:-1] + [docs[-1] + [SOLO]])
    want = con.execute(
        _hybrid_multi_sql(RT._hybrid_rrf_multi_ctes, queries, leg_k, k)
    ).fetchall()
    got = con.execute(
        _hybrid_multi_sql(RT._hybrid_rrf_fused_ctes, queries, leg_k, k)
    ).fetchall()
    assert got == want
    # the fixed single-doc query surfaces its one doc, in both legs
    assert [r[1:6] for r in want if r[0] == 9] == [
        (len(docs) - 1, 2 * (RT.RRF_SCALE // (RT.RRF_K + 1)), 1, 1, 2)
    ]
