"""Python value oracles for the seeded k-means ANN family.

``ann_ivf_topk`` / ``ann_pq_topk`` / ``ann_ivfpq_topk`` were the registry's
last substantive rows-only queries: a k-means quantizer has no SQL twin.
But the quantizer IS deterministic — seeded numpy Lloyd's on a canonically
vec_id-ordered bounded sample (operators/similarity.lloyd_fit) — so a local
Python recompute reproduces centroids, codebooks, cell routing, ADC
estimates and the exact-decimal cosine re-rank bit-for-bit, and
tools/check_oracle.py can value-check the full output row.

What this checks and what it shares: the fit (``lloyd_fit``) and its
constants are imported from the operator module — the fit itself is
pytest-gated (recall/determinism), not cross-checked here.  Everything the
Spark ENGINE adds on top is recomputed independently and verified exactly:
parquet loading, the Arrow assignment/encode kernels, probe-cell routing,
the JVM element_at ADC gathers, the DECIMAL(30,15) cosine path, ordering
and limits.  Same standard as ann_topk's SQL twin (which shares the
md5-sign SPEC with the engine by construction).

Cross-engine float discipline:
- Spark casts DOUBLE -> DECIMAL(30,15) through the double's shortest
  decimal repr (BigDecimal.valueOf semantics) with HALF_UP; the twin is
  ``Decimal(repr(v)).quantize(1e-15, ROUND_HALF_UP)`` — Python repr is the
  same shortest round-trip string.
- The ADC estimate sums 8 float64 lookup terms left-associatively (the SQL
  ``t1 + t2 + ...`` parse); the twin adds in the same order.
- All matrices are float64 built from the parquet float32 values (exact
  widening), rows in vec_id order — the same canonical order
  ``similarity._train_matrix`` collects.
"""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

from ..operators import similarity as SIM

_Q15 = Decimal(1).scaleb(-15)


def _load(con) -> tuple[np.ndarray, np.ndarray]:
    """(vec_ids int64, matrix float64) for the whole embeddings table,
    vec_id ascending."""
    df = con.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchdf()
    ids = df["vec_id"].to_numpy(dtype=np.int64)
    mat = np.asarray(
        [np.asarray(e, dtype=np.float64) for e in df["embedding"]]
    )
    return ids, mat


def _corpus_and_query(con):
    ids, mat = _load(con)
    qmask = ids == 0
    q = mat[qmask][0]
    return ids[~qmask], mat[~qmask], q


def _train_rows(ids: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """Twin of similarity._train_matrix's bounded sample: over budget,
    keep the IVF_TRAIN_SAMPLE rows with the smallest (md5(str(vec_id)),
    vec_id), then restore vec_id order."""
    if len(ids) <= SIM.IVF_TRAIN_SAMPLE:
        return mat
    keys = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )[: SIM.IVF_TRAIN_SAMPLE]
    keep = sorted(keys, key=lambda i: ids[i])
    return mat[keep]


def _dec_dot(a: np.ndarray, b: np.ndarray) -> float:
    """Twin of similarity.dot_spark: each float64 product rounded HALF_UP
    to 15 decimals via its shortest repr, exact decimal sum, cast back to
    double."""
    s = Decimal(0)
    for x, y in zip(a, b):
        s += Decimal(repr(x * y)).quantize(_Q15, rounding=ROUND_HALF_UP)
    return float(s)


def _cosine(a: np.ndarray, b: np.ndarray) -> float:
    """Twin of similarity.cosine_spark (incl. the fround-8 half-up)."""
    na = _dec_dot(a, a)
    nb = _dec_dot(b, b)
    if na == 0.0 or nb == 0.0:
        return 0.0
    c = _dec_dot(a, b) / (math.sqrt(na) * math.sqrt(nb))
    return math.floor(c * 1.0e8 + 0.5) / 1.0e8


def _ivf_fit(ids, mat):
    """(centers, cells per corpus row) — THE oracle-side coarse-quantizer
    recompute (lloyd_fit on the bounded sample, argmin over
    ||c||^2 - 2 x.c), one definition for every IVF-family oracle."""
    centers = SIM.lloyd_fit(
        _train_rows(ids, mat), SIM.IVF_CLUSTERS, np.random.RandomState(SIM.IVF_SEED)
    )
    return centers, _assign_np(mat, centers)


def _assign_np(rows: np.ndarray, centers: np.ndarray) -> np.ndarray:
    c_sq = (centers**2).sum(axis=1)
    return (c_sq[None, :] - 2.0 * (rows @ centers.T)).argmin(axis=1)


def _probe_set(
    centers: np.ndarray, q: np.ndarray, nprobe: int | None = None
) -> set[int]:
    qd2 = ((centers - q) ** 2).sum(axis=1)
    return {
        int(c)
        for c in np.argsort(qd2)[: SIM.IVF_NPROBE if nprobe is None else nprobe]
    }


def _ivf_query_ranks(centers, cells, cids, cmat, q, k):
    """Per-query IVF ranked rows [(doc_id, cosine, rn)]: probe-cell
    candidates, exact-decimal cosine, (cosine desc, vec_id) order — the
    shared dense-leg rule (ann_ivf_multi + the ANN hybrid's dense leg)."""
    probe = _probe_set(centers, q)
    rows = [
        (int(cids[i]), _cosine(cmat[i], q))
        for i in range(len(cids))
        if int(cells[i]) in probe
    ]
    rows.sort(key=lambda r: (-r[1], r[0]))
    return [(d, c, rn + 1) for rn, (d, c) in enumerate(rows[:k])]


def _ivf_cells(ids, mat, q):
    """(cells per corpus row, probe-cell set) — legacy 2-tuple wrapper."""
    centers, cells = _ivf_fit(ids, mat)
    return cells, _probe_set(centers, q)


def ann_ivf_topk_oracle(con, sf_dir: str) -> pd.DataFrame:
    ids, mat, q = _corpus_and_query(con)
    cells, probe = _ivf_cells(ids, mat, q)
    rows = [
        (int(ids[i]), int(cells[i]), _cosine(mat[i], q))
        for i in range(len(ids))
        if int(cells[i]) in probe
    ]
    rows.sort(key=lambda r: (-r[2], r[0]))
    return pd.DataFrame(rows[:10], columns=["vec_id", "cell", "cosine"])


def ann_ivf_multi_oracle(con, sf_dir: str, nq: int = 8, k: int = 10) -> pd.DataFrame:
    """Twin of similarity.ivf_multi: one quantizer fit on the vec_id >= nq
    corpus, per-query probe-cell routing (np.argsort of centroid d2, same
    call as the engine), exact-decimal cosine re-rank, per-query
    (cosine desc, vec_id) top-k with 1-based rank."""
    ids, mat = _load(con)
    qmask = ids < nq
    qids, qmat = ids[qmask], mat[qmask]
    cids, cmat = ids[~qmask], mat[~qmask]
    centers, cells = _ivf_fit(cids, cmat)
    cell_of = {int(cids[i]): int(cells[i]) for i in range(len(cids))}
    out = []
    for qi in range(len(qids)):
        out += [
            (int(qids[qi]), d, cell_of[d], c, rn)
            for d, c, rn in _ivf_query_ranks(
                centers, cells, cids, cmat, qmat[qi], k
            )
        ]
    return pd.DataFrame(
        out, columns=["query_id", "vec_id", "cell", "cosine", "rank"]
    )


def _pq_books(ids, mat):
    dim = mat.shape[1]
    dsub = dim // SIM.PQ_M
    tm = _train_rows(ids, mat)
    rng = np.random.RandomState(SIM.PQ_SEED)  # ONE rng, subspaces in order
    books = np.empty((SIM.PQ_M, SIM.PQ_K, dsub))
    for m in range(SIM.PQ_M):
        books[m] = SIM.lloyd_fit(tm[:, m * dsub : (m + 1) * dsub], SIM.PQ_K, rng)
    return books, dsub


def _pq_rows(ids, mat, q, books, dsub):
    """Twin of similarity.pq_topk (k=10) over (ids, mat): codes ->
    left-assoc ADC estimate -> top PQ_RERANK*10 by (est desc, vec_id) ->
    exact-cosine top 10."""
    n = len(ids)
    codes = np.empty((n, SIM.PQ_M), dtype=np.int64)
    for m in range(SIM.PQ_M):
        sub = mat[:, m * dsub : (m + 1) * dsub]
        d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(-1)
        codes[:, m] = d2.argmin(1)
    lut = np.empty((SIM.PQ_M, SIM.PQ_K))
    for m in range(SIM.PQ_M):
        lut[m] = books[m] @ q[m * dsub : (m + 1) * dsub]
    est = []
    for i in range(n):
        acc = float(lut[0][codes[i, 0]])
        for m in range(1, SIM.PQ_M):
            acc = acc + float(lut[m][codes[i, m]])
        est.append(acc)
    short = sorted(range(n), key=lambda i: (-est[i], ids[i]))[: SIM.PQ_RERANK * 10]
    rows = [(int(ids[i]), est[i], _cosine(mat[i], q)) for i in short]
    rows.sort(key=lambda r: (-r[2], r[0]))
    return rows[:10]


def ann_pq_topk_oracle(con, sf_dir: str) -> pd.DataFrame:
    ids, mat, q = _corpus_and_query(con)
    books, dsub = _pq_books(ids, mat)
    return pd.DataFrame(
        _pq_rows(ids, mat, q, books, dsub),
        columns=["vec_id", "est_dot", "cosine"],
    )


def ann_ivfpq_topk_oracle(
    con, sf_dir: str, k: int = 10, rerank: int = 4, nprobe: int | None = None
) -> pd.DataFrame:
    """Twin of similarity.ivfpq_topk, RESIDUAL form (round 9): centers via
    the shared Lloyd fit; residual codebooks (ONE rng, subspaces in order)
    on the train rows' residuals against their assigned cells; candidates
    = probe-cell rows, codes from THEIR residuals; ADC estimate =
    q.c_cell + left-assoc subspace gathers (the engine's _adc_cell_expr
    parse order); exact-cosine top k of the rerank*k short list."""
    ids, mat, q = _corpus_and_query(con)
    centers, cells = _ivf_fit(ids, mat)
    dim = mat.shape[1]
    dsub = dim // SIM.PQ_M
    tm = _train_rows(ids, mat)
    tres = tm - centers[_assign_np(tm, centers)]
    rng = np.random.RandomState(SIM.PQ_SEED)
    books = np.empty((SIM.PQ_M, SIM.PQ_K, dsub))
    for m in range(SIM.PQ_M):
        books[m] = SIM.lloyd_fit(tres[:, m * dsub : (m + 1) * dsub], SIM.PQ_K, rng)

    probe = _probe_set(centers, q, nprobe=nprobe)
    keep = [i for i in range(len(ids)) if int(cells[i]) in probe]

    res = mat[keep] - centers[cells[keep]]
    n = len(keep)
    codes = np.empty((n, SIM.PQ_M), dtype=np.int64)
    for m in range(SIM.PQ_M):
        sub = res[:, m * dsub : (m + 1) * dsub]
        d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(-1)
        codes[:, m] = d2.argmin(1)
    lut = np.empty((SIM.PQ_M, SIM.PQ_K))
    for m in range(SIM.PQ_M):
        lut[m] = books[m] @ q[m * dsub : (m + 1) * dsub]
    qc = centers @ q
    est = []
    for j in range(n):
        acc = float(qc[cells[keep[j]]])
        for m in range(SIM.PQ_M):
            acc = acc + float(lut[m][codes[j, m]])
        est.append(acc)
    short = sorted(range(n), key=lambda j: (-est[j], ids[keep[j]]))[: rerank * k]
    rows = [
        (int(ids[keep[j]]), est[j], _cosine(mat[keep[j]], q)) for j in short
    ]
    rows.sort(key=lambda r: (-r[2], r[0]))
    return pd.DataFrame(
        rows[:k], columns=["vec_id", "est_dot", "cosine"]
    )


def ann_recall_audit_oracle(con, sf_dir: str) -> pd.DataFrame:
    """recall@10 of each approximate index family vs brute-force exact
    cosine — the index-quality audit row.  Exact top-10 comes from the
    SAME DuckDB twin the hash-green ``cosine_topk`` registration trusts
    (cosine_duck_cte); each approximate set is the family's own
    deterministic oracle recompute, so the audit is value-checkable
    end-to-end with no new modeling surface."""
    exact_sql = (
        f"WITH scored AS ({SIM.cosine_duck_cte('embeddings', 'vec_id = 0')}) "
        "SELECT vec_id FROM scored WHERE vec_id <> 0 "
        "ORDER BY cosine DESC, vec_id LIMIT 10"
    )
    exact = {int(v) for (v,) in con.execute(exact_sql).fetchall()}
    # the SRP-LSH set via the deterministic SQL twin of ann_lsh_topk
    # (bucket equi-join candidates, exact-cosine re-rank)
    lsh_sql = f"""
{SIM.lsh_ranked_duck_cte('embeddings')}
SELECT vec_id FROM lsh_ranked WHERE rn <= 10
"""
    lsh_ids = pd.DataFrame(
        {"vec_id": [int(v) for (v,) in con.execute(lsh_sql).fetchall()]}
    )
    # the nprobe-8 sweep row: same fit/assign, wider probe set
    ids, mat, q = _corpus_and_query(con)
    centers, cells = _ivf_fit(ids, mat)
    probe8 = _probe_set(centers, q, nprobe=8)
    ivf8 = pd.DataFrame(
        {
            "vec_id": [
                d
                for d, _c, _rn in sorted(
                    (
                        (int(ids[i]), _cosine(mat[i], q), 0)
                        for i in range(len(ids))
                        if int(cells[i]) in probe8
                    ),
                    key=lambda r: (-r[1], r[0]),
                )[:10]
            ]
        }
    )
    rows = []
    ivfpq = ann_ivfpq_topk_oracle(con, sf_dir)
    for method, odf in (
        ("ivf", ann_ivf_topk_oracle(con, sf_dir)),
        ("ivf_nprobe8", ivf8),
        ("ivfpq", ivfpq),
        # the persisted codes path is bit-identical to the online form by
        # construction — the audit row exists to catch index/recompute
        # drift on the ENGINE side, so the oracle reuses the recompute
        ("ivfpq_indexed", ivfpq),
        # the residual-IVF-PQ nprobe sweep (round 10): the knob's
        # monotonicity for the COMPRESSED family, floor-pinned like ivf's
        ("ivfpq_nprobe8", ann_ivfpq_topk_oracle(con, sf_dir, nprobe=8)),
        ("lsh", lsh_ids),
        ("pq", ann_pq_topk_oracle(con, sf_dir)),
    ):
        hits = len({int(v) for v in odf["vec_id"]} & exact)
        rows.append((method, 10, hits, hits / 10.0))
    # round-10 end-to-end fusion row: fused ANN-hybrid output vs the
    # exact hybrid on the same query set, hits by (query_id, doc_id)
    # pair, denominator = the exact hybrid's own output size — the twin
    # of the engine's left-join agg
    from ..functions import dialect as X
    from ..operators import retrieval as RT

    ann_pairs = {
        (int(q), int(d))
        for q, d in hybrid_dense_sparse_ann_oracle(con, sf_dir)[
            ["query_id", "doc_id"]
        ].itertuples(index=False)
    }
    exact_h = con.execute(RT.hybrid_dense_sparse_multi_sql(X.DUCK)).fetchdf()
    exact_pairs = {
        (int(q), int(d))
        for q, d in exact_h[["query_id", "doc_id"]].itertuples(index=False)
    }
    h_hits = len(ann_pairs & exact_pairs)
    rows.append(
        ("hybrid_ann", RT.HYBRID_K, h_hits, h_hits / len(exact_pairs))
    )
    return pd.DataFrame(
        rows, columns=["method", "k", "hits", "recall_at_k"]
    ).astype({"k": "int64", "hits": "int64"})


def hybrid_dense_sparse_ann_oracle(
    con, sf_dir: str, corpus_min: int = 8
) -> pd.DataFrame:
    """Twin of the FULLY-indexed hybrid (retrieval.
    hybrid_dense_sparse_ann_indexed over the registry's standing
    indexes): the dense leg is the deterministic IVF recompute
    (ann_ivf_multi_oracle's machinery — quantizer on the vec_id >=
    corpus_min corpus, per-query nprobe routing, exact-decimal cosine,
    (cosine desc, vec_id) ranks cut at HYBRID_LEG_K); the sparse leg is
    the pure-Python integer BM25 the hypothesis suite pins (doubled-idf
    micro-nats, scaled-BIGINT saturation, floor(contrib + 0.5) per-term
    rounding) ranked per query; fusion is the exact-integer rrf_pico rule
    with the engine's tie orders and the fround-9 score."""
    from ..operators import retrieval as RT

    leg_k, k = RT.HYBRID_LEG_K, RT.HYBRID_K
    qids = sorted(RT.BM25_QUERYSET)

    # dense leg: IVF ranks per query over the vec_id >= corpus_min corpus
    ids, mat = _load(con)
    cmask = ids >= corpus_min
    cids, cmat = ids[cmask], mat[cmask]
    centers, cells = _ivf_fit(cids, cmat)
    dense: dict[tuple[int, int], int] = {}
    by_id = {int(v): i for i, v in enumerate(ids)}
    for qid in qids:
        for doc, _c, rn in _ivf_query_ranks(
            centers, cells, cids, cmat, mat[by_id[qid]], leg_k
        ):
            dense[(qid, doc)] = rn

    # sparse leg: integer-exact BM25 per query (the hypothesis twin)
    docs = con.execute(
        "SELECT doc_id, text FROM documents ORDER BY doc_id"
    ).fetchall()
    toks = {int(d): (t or "").lower().split(" ") for d, t in docs}
    n = len(docs)
    dl = {d: len(ws) for d, ws in toks.items()}
    t_tok = sum(dl.values())
    union_terms = set(RT.bm25_queryset_terms(RT.BM25_QUERYSET))
    tf: dict[tuple[int, str], int] = {}
    for d, ws in toks.items():
        for w in ws:
            if w in union_terms:
                tf[(d, w)] = tf.get((d, w), 0) + 1
    df: dict[str, int] = {}
    for (_d, w) in tf:
        df[w] = df.get(w, 0) + 1

    def _qln(x: int) -> int:
        return math.floor(math.log(x) * 1e6 + 0.5)

    sparse: dict[tuple[int, int], int] = {}
    for qid in qids:
        scores: dict[int, int] = {}
        for d in toks:
            s = 0
            hit = False
            for w in RT.BM25_QUERYSET[qid]:
                f = tf.get((d, w), 0)
                if f == 0:
                    continue
                hit = True
                idf = _qln(2 * n + 2) - _qln(2 * df[w] + 1)
                contrib = (
                    float(idf)
                    * (22.0 * t_tok * f)
                    / (10.0 * t_tok * f + 3.0 * t_tok + 9.0 * dl[d] * n)
                )
                s += math.floor(contrib + 0.5)
            if hit:
                scores[d] = s
        ranked = sorted(scores.items(), key=lambda p: (-p[1], p[0]))
        for rn, (d, _s) in enumerate(ranked[:leg_k], start=1):
            sparse[(qid, d)] = rn

    # fusion: exact-integer RRF, engine tie orders, fround-9 score
    out = []
    for qid in qids:
        cand = {d for (q2, d) in list(sparse) + list(dense) if q2 == qid}
        rowset = []
        for d in cand:
            srn = sparse.get((qid, d), 0)
            drn = dense.get((qid, d), 0)
            pico = 0
            legs = 0
            for rn in (srn, drn):
                if rn:
                    pico += RT.RRF_SCALE // (RT.RRF_K + rn)
                    legs += 1
            rowset.append((d, pico, srn, drn, legs))
        rowset.sort(key=lambda r: (-r[1], r[0]))
        for rk, (d, pico, srn, drn, legs) in enumerate(rowset[:k], start=1):
            score = math.floor(pico / 1.0e12 * 1.0e9 + 0.5) / 1.0e9
            out.append((qid, d, pico, srn, drn, legs, rk, score))
    return pd.DataFrame(
        out,
        columns=[
            "query_id",
            "doc_id",
            "rrf_pico",
            "bm25_rank",
            "dense_rank",
            "n_legs",
            "rk",
            "rrf_score",
        ],
    )
