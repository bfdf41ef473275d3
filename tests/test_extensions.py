"""Extension-operator tests that go beyond the query/oracle gate: ANN recall
vs brute force, multimodal plumbing, cross-engine dialect parity."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from nqs_console_flink_window_spark.config import SMOKE_SF_DIR
from nqs_console_flink_window_spark.functions import dialect as X
from nqs_console_flink_window_spark.operators import multimodal as MM
from nqs_console_flink_window_spark.operators import similarity as SIM
from nqs_console_flink_window_spark.sources.batch import load_table
from tests import bpe_reference as BPE_REF


def test_dialect_md5_int_parity(spark) -> None:
    con = duckdb.connect()
    for probe in ("abc", "the quick brown fox", "你好"):
        s = spark.sql(f"SELECT {X.md5_int(X.SPARK, repr(probe))} AS v").collect()[0].v
        d = con.execute(f"SELECT {X.md5_int(X.DUCK, repr(probe))} AS v").fetchone()[0]
        assert s == d


def test_dialect_bitops_and_hash_parity(spark) -> None:
    """The remaining equivalences the dialect docstring claims: bit_count,
    octet_length, sha256 hex, shiftleft, xor."""
    con = duckdb.connect()
    for n in (0, 1, 255, 2**40 + 12345):
        s = spark.sql(f"SELECT bit_count(CAST({n} AS BIGINT)) AS v").collect()[0].v
        d = con.execute(f"SELECT bit_count(CAST({n} AS BIGINT)) AS v").fetchone()[0]
        assert s == d, f"bit_count({n})"
        s = spark.sql(f"SELECT {X.shiftleft(X.SPARK, '1', str(n % 62))} AS v").collect()[0].v
        d = con.execute(f"SELECT {X.shiftleft(X.DUCK, '1', str(n % 62))} AS v").fetchone()[0]
        assert s == d, f"shiftleft(1, {n % 62})"
        s = spark.sql(f"SELECT {X.xor(X.SPARK, str(n), '12345')} AS v").collect()[0].v
        d = con.execute(f"SELECT {X.xor(X.DUCK, str(n), '12345')} AS v").fetchone()[0]
        assert s == d, f"xor({n}, 12345)"
    for probe in ("abc", "the quick brown fox", "你好"):
        s = spark.sql(f"SELECT octet_length({probe!r}) AS v").collect()[0].v
        d = con.execute(f"SELECT octet_length(encode({probe!r})) AS v").fetchone()[0]
        assert s == d, f"octet_length({probe!r})"
        s = spark.sql(f"SELECT {X.sha256_hex(X.SPARK, repr(probe))} AS v").collect()[0].v
        d = con.execute(f"SELECT {X.sha256_hex(X.DUCK, repr(probe))} AS v").fetchone()[0]
        assert s == d, f"sha256({probe!r})"


def test_ann_recall_vs_brute_force(spark) -> None:
    """Multi-table hyperplane LSH must recover most of the exact top-10."""
    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    brute = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.expr(SIM.cosine_spark("embedding", "qe")).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )
    exact_ids = {r.vec_id for r in brute.collect()}

    with_b = SIM.with_lsh_buckets(emb)
    query = with_b.filter(F.col("vec_id") == 0)
    ann_ids = {r.vec_id for r in SIM.ann_topk(with_b, query, k=10).collect()}
    recall = len(exact_ids & ann_ids) / 10
    assert recall >= 0.5, f"LSH recall@10 too low: {recall} ({ann_ids} vs {exact_ids})"


def test_multimodal_feature_extraction(spark) -> None:
    docs = load_table(spark, SMOKE_SF_DIR, "documents").limit(50)
    media = MM.documents_as_media(docs)
    # simpleString ignores nullability flags, which differ for derived cols
    assert media.schema.simpleString() == MM.MEDIA_SCHEMA.simpleString()
    feats = MM.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.feature) == MM.FEATURE_DIM
        assert r.decode_ok
        assert abs(sum(r.feature) - 1.0) < 1e-6  # normalized histogram

    # determinism: same payload -> same feature
    again = {r.media_id: r.feature for r in MM.extract_features(media).collect()}
    for r in rows:
        assert again[r.media_id] == r.feature


def test_multimodal_real_wav_and_ppm_decode_through_arrow(spark) -> None:
    """The decode dispatch runs REAL stdlib decoders for WAV (PCM16) and
    PPM (P6) payloads through the same Arrow mapInPandas plumbing, and the
    features match a local recompute; unrecognized payloads keep the
    deterministic histogram stub (fixture oracle behavior unchanged)."""
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(1)
    w.setsampwidth(2)
    w.setframerate(8000)
    w.writeframes(
        struct.pack("<200h", *[int(3000 * math.sin(i / 7)) for i in range(200)])
    )
    w.close()
    wav = buf.getvalue()
    ppm = b"P6\n# c\n3 2\n255\n" + bytes(range(18))
    blob = b"not a media file"
    # real decoders are gated on the DECLARED mime (audio/*, image/*); a
    # payload that merely looks like P6 under octet-stream must stub
    rows = [
        (1, wav, "audio/wav"),
        (2, ppm, "image/x-portable-pixmap"),
        (3, blob, "application/octet-stream"),
        (4, ppm, "application/octet-stream"),  # coincidental-parse guard
    ]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary, mime string"
    ).select(
        "media_id",
        "payload",
        F.struct(
            F.col("mime").alias("mime"),
            F.lit(0).cast("int").alias("width"),
            F.lit(0).cast("int").alias("height"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    got = {r.media_id: list(r.feature) for r in MM.extract_features(media).collect()}
    want = {mid: MM.decode_features(p, m) for mid, p, m in rows}
    for mid, feats in want.items():
        assert len(got[mid]) == MM.FEATURE_DIM
        # feature column is float32; local recompute is float64
        assert all(abs(a - b) < 1e-6 for a, b in zip(got[mid], feats)), mid
    # WAV row carries real audio stats: 1 channel, 8 kHz, nonzero rms/zcr
    wavf = got[1]
    assert wavf[0] == 1.0 and abs(wavf[1] - 0.08) < 1e-6
    assert wavf[4] > 0.0 and wavf[6] > 0.0
    # PPM row: maxval 255 -> 1.0, luma mean in (0, 1)
    ppmf = got[2]
    assert ppmf[2] == 1.0 and 0.0 < ppmf[6] < 1.0
    # unknown payload: still the normalized byte histogram
    assert abs(sum(got[3]) - 1.0) < 1e-6
    # P6 bytes declared octet-stream: mime gate keeps the stub path (the
    # fixture oracle always recomputes the stub, so coincidental parses
    # would hash-mismatch) — histogram, not image stats
    assert abs(sum(got[4]) - 1.0) < 1e-6
    assert got[4] != got[2]


def test_multimodal_metadata_prunes_before_python(spark) -> None:
    """Metadata predicates must not force payload decode: the filtered plan
    should read only matching rows into the Arrow stage."""
    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    media = MM.documents_as_media(docs).filter(F.col("meta.n_bytes") > 300)
    n_media = media.count()
    feats = MM.extract_features(media)
    assert feats.count() == n_media


def test_frame_sample_shapes(spark) -> None:
    docs = load_table(spark, SMOKE_SF_DIR, "documents").limit(5)
    media = MM.documents_as_media(docs)
    out = MM.frame_sample(media, every_n_bytes=64).collect()
    for r in out:
        assert len(r.frames) >= 1
        for f in r.frames[:-1]:
            assert len(f) == 8


def test_decode_stub_raises_on_missing_payload() -> None:
    with pytest.raises(NotImplementedError):
        MM._decode_stub(None)


def test_ivf_recall_vs_brute_force(spark) -> None:
    """IVF with nprobe=4/16 cells must recover a solid share of exact top-10."""
    from nqs_console_flink_window_spark.operators import similarity as S

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    corpus = emb.filter(F.col("vec_id") != 0)

    q_lit = "array(" + ", ".join(f"CAST({x!r} AS FLOAT)" for x in qvec) + ")"
    brute = (
        corpus.withColumn("cosine", F.expr(S.cosine_spark("embedding", q_lit)))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )
    exact_ids = {r.vec_id for r in brute.collect()}
    ivf_ids = {r.vec_id for r in S.ivf_topk(corpus, qvec, k=10).collect()}
    recall = len(exact_ids & ivf_ids) / 10
    assert recall >= 0.4, f"IVF recall@10 too low: {recall}"


def test_per_user_trend_matches_closed_form(spark) -> None:
    """applyInPandas slope ~= the closed-form least-squares from exact SQL."""
    from nqs_console_flink_window_spark.operators.stateful import per_key_trend

    ev = load_table(spark, SMOKE_SF_DIR, "events").withColumn(
        "x", F.unix_timestamp("ts").cast("double")
    )
    got = {r.user_id: r.slope for r in per_key_trend(ev, "user_id", "x", "value").collect()}
    ref = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("value").alias("sy"),
        F.sum(F.col("x") * F.col("value")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    for r in ref.collect():
        denom = r.n * r.sxx - r.sx * r.sx
        want = (r.n * r.sxy - r.sx * r.sy) / denom if denom else 0.0
        assert abs(got[r.user_id] - want) < 1e-6 * max(1.0, abs(want)), r.user_id


def test_simhash_banded_equals_all_pairs() -> None:
    """The banded candidate generation (pigeonhole over max_dist+1 bands) is
    provably complete for Hamming distance <= max_dist: its histogram must
    equal the brute-force all-pairs histogram."""
    import duckdb

    from nqs_console_flink_window_spark.config import SMOKE_SF_DIR
    from nqs_console_flink_window_spark.functions import dialect as X
    from nqs_console_flink_window_spark.operators import dedup_text as DD

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF_DIR}/documents.parquet')"
    )
    banded = con.execute(
        DD.simhash_hamming_hist_sql(X.DUCK, max_dist=3)
    ).fetchall()
    all_pairs_sql = f"""
WITH sig AS ({DD.simhash_sql(X.DUCK)})
SELECT bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT))) AS hamming,
       COUNT(*) AS n_pairs
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT))) <= 3
GROUP BY 1
"""
    brute = con.execute(all_pairs_sql).fetchall()
    assert sorted(banded) == sorted(brute)


def test_ivf_quantizer_cached_across_calls(spark) -> None:
    """The IVF coarse quantizer is an index-build artifact: two queries over
    the same corpus must reuse the fitted model, not re-fit per call."""
    from nqs_console_flink_window_spark.config import SMOKE_SF_DIR
    from nqs_console_flink_window_spark.operators import similarity as SIM
    from nqs_console_flink_window_spark.sources.batch import load_table

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings").filter("vec_id <> 0")
    SIM._IVF_MODELS.clear()
    dim = len(emb.select("embedding").first()[0])
    SIM.ivf_topk(emb, [0.1] * dim, k=5)
    assert len(SIM._IVF_MODELS) == 1
    centers_id = id(next(iter(SIM._IVF_MODELS.values())))
    SIM.ivf_topk(emb, [0.9] * dim, k=5)
    assert len(SIM._IVF_MODELS) == 1
    assert id(next(iter(SIM._IVF_MODELS.values()))) == centers_id


def test_connected_components_multi_hop_chain(spark) -> None:
    """Min-label propagation must traverse multi-hop chains (label travels
    the diameter, not one hop) and keep isolated nodes as singletons."""
    from nqs_console_flink_window_spark.operators.dedup_cluster import (
        connected_components,
    )

    # chain 1-2-3-4-5, pair 10-11, isolated 20
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src bigint, dst bigint"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 20]], "id bigint"
    )
    got = {r["id"]: r["lbl"] for r in connected_components(edges, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_long_chain_within_round_bound(spark) -> None:
    """A corpus-scale chain converges well inside max_rounds (round 11:
    the 10x spectral-audio soak found a real graph that exhausted the old
    20-round / single-compression form — low-entropy fingerprints chain
    across the corpus; the second compression pass shrinks label distance
    ~4x per round, measured 9 rounds on a 50,000-node chain).  5,000
    nodes here: labels exact end to end, min at the far end (worst case)."""
    from pyspark.sql import functions as F

    from nqs_console_flink_window_spark.operators.dedup_cluster import (
        connected_components,
    )

    n = 5000
    nodes = spark.range(n).select("id")
    e1 = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    edges = e1.unionByName(
        e1.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    got = connected_components(edges, nodes)
    assert got.filter(F.col("lbl") != 0).count() == 0  # one component, min=0
    assert got.count() == n


def test_dedup_clusters_cluster_invariants(spark) -> None:
    """Component invariants on the fixture: cluster_id is the min doc_id of
    its members, sizes are consistent, every LSH pair lands in one cluster
    (pairs are edges, so endpoints must share a component)."""
    from nqs_console_flink_window_spark.config import SMOKE_SF_DIR
    from nqs_console_flink_window_spark.operators import dedup_text as DD
    from nqs_console_flink_window_spark.plans.queries_ext import dedup_clusters

    rows = dedup_clusters(spark, SMOKE_SF_DIR).collect()
    cluster_of = {r["doc_id"]: r["cluster_id"] for r in rows}
    members: dict = {}
    for r in rows:
        members.setdefault(r["cluster_id"], []).append(r["doc_id"])
        assert r["is_canonical"] == (r["doc_id"] == r["cluster_id"])
    for cid, docs in members.items():
        assert cid == min(docs)
    sizes = {r["doc_id"]: r["cluster_size"] for r in rows}
    for r in rows:
        assert sizes[r["doc_id"]] == len(members[r["cluster_id"]])
    pairs = spark.sql(DD.minhash_lsh_pairs_sql("spark")).collect()
    assert pairs, "fixture should produce candidate pairs"
    for p in pairs:
        assert cluster_of[p["doc_a"]] == cluster_of[p["doc_b"]]


def test_training_sample_pipeline_invariants(spark) -> None:
    """Stage invariants: per-source cap respected, quality floor enforced,
    and the hash-sample is deterministic (same rows on a re-run)."""
    from nqs_console_flink_window_spark.config import SMOKE_SF_DIR
    from nqs_console_flink_window_spark.operators import sampling as SMP
    from nqs_console_flink_window_spark.plans.queries_ext import training_sample

    rows = training_sample(spark, SMOKE_SF_DIR).collect()
    assert rows
    per_source: dict = {}
    for r in rows:
        per_source[r["source"]] = per_source.get(r["source"], 0) + 1
        assert r["quality_score"] >= SMP.MIN_QUALITY
        assert r["sample_pct"] == SMP.LANG_PCT.get(r["lang"], SMP.DEFAULT_PCT)
    assert max(per_source.values()) <= SMP.CAP_PER_SOURCE
    again = {r["doc_id"] for r in training_sample(spark, SMOKE_SF_DIR).collect()}
    assert again == {r["doc_id"] for r in rows}


def test_ivf_persisted_index_prunes_partitions(spark, tmp_path) -> None:
    """The stored IVF index must (a) return the same top-k as the in-memory
    search and (b) physically read only the nprobe probed cell partitions —
    partition pruning at the file-listing level, the on-disk 100 TB path."""
    from nqs_console_flink_window_spark.config import SMOKE_SF_DIR
    from nqs_console_flink_window_spark.operators import similarity as SIM
    from nqs_console_flink_window_spark.sources.batch import load_table

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    qvec = [0.25] * dim
    idx = str(tmp_path / "ivf_idx")
    SIM.build_ivf_index(emb, idx)
    indexed = SIM.ivf_topk_indexed(spark, idx, qvec, k=10)
    got = [(r["vec_id"], round(r["cosine"], 9)) for r in indexed.collect()]
    want = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in SIM.ivf_topk(emb, qvec, k=10).collect()
    ]
    assert got == want
    # recompute the nprobe cells exactly as the indexed search does, then
    # check the pruned scan lists only those cell directories
    import numpy as np

    cent = {
        r["cell"]: np.asarray(r["centroid"])
        for r in spark.read.parquet(f"{idx}.centroids").collect()
    }
    qa = np.asarray(qvec)
    d2 = {c: float(((v - qa) ** 2).sum()) for c, v in cent.items()}
    probe = sorted(d2, key=d2.get)[: SIM.IVF_NPROBE]
    import contextlib
    import io

    pruned = spark.read.parquet(idx).filter(F.col("cell").isin(probe))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1].splitlines()[0], plan
    # the pruned frame physically contains only probed-cell rows
    assert {r["cell"] for r in pruned.select("cell").distinct().collect()} <= set(probe)
    assert {r["cell"] for r in indexed.collect()} <= set(probe)


def test_ngram_jaccard_lsh_scoped_vs_all_pairs() -> None:
    """The LSH-scoped verifier returns a subset of the brute-force pairs
    (candidates only), and on the fixture the LSH bands recover nearly all
    high-Jaccard pairs (recall of the banding scheme)."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF_DIR}/documents.parquet')"
    )
    from nqs_console_flink_window_spark.operators import dedup_text as DD

    scoped = set(
        (a, b) for a, b, _ in con.execute(
            DD.ngram_jaccard_on_lsh_sql(X.DUCK, threshold=0.8)
        ).fetchall()
    )
    brute = set(
        (a, b) for a, b, _ in con.execute(
            DD.ngram_jaccard_pairs_sql(X.DUCK, threshold=0.8)
        ).fetchall()
    )
    assert scoped <= brute
    assert brute, "fixture should contain high-Jaccard pairs"
    recall = len(scoped) / len(brute)
    assert recall >= 0.9, f"LSH banding recall too low: {recall}"


def test_resize_stub_shapes_and_determinism(spark) -> None:
    """Resize plumbing: payload shrinks to <= ~target bytes through the Arrow
    kernel, metadata is rebuilt to the target dims, and the kernel is
    deterministic."""
    docs = load_table(spark, SMOKE_SF_DIR, "documents").limit(20)
    media = MM.documents_as_media(docs)
    out = MM.resize(media, target_bytes=64).collect()
    assert len(out) == 20
    for r in out:
        # stride decimation: len//stride + (0 or 1); bounded by 2x target
        assert r.meta.n_bytes <= 2 * 64
        assert len(r.payload) == r.meta.n_bytes
        assert r.meta.width == 8 and r.meta.height == 8
    again = {r.media_id: bytes(r.payload) for r in MM.resize(media, target_bytes=64).collect()}
    for r in out:
        assert again[r.media_id] == bytes(r.payload)


def test_winnow_fingerprint_edit_robustness(spark) -> None:
    """The rolling-hash min-fingerprint must survive a local edit that the
    whole-document md5 cannot: append a char to the end — winnow_fp usually
    unchanged, md5 always changes."""
    from nqs_console_flink_window_spark.operators import text as TX

    rows = spark.sql(
        f"SELECT {TX.winnow_fingerprint_expr(X.SPARK, 'txt')} AS fp, "
        f"{TX.fingerprint_expr(X.SPARK, 'txt')} AS md5fp "
        "FROM (SELECT 'the quick brown fox jumps over the lazy dog' AS txt "
        "UNION ALL SELECT 'the quick brown fox jumps over the lazy dogX')"
    ).collect()
    fps = [r["fp"] for r in rows]
    md5s = [r["md5fp"] for r in rows]
    assert fps[0] == fps[1], "local tail edit should not move the shingle min"
    assert md5s[0] != md5s[1]


def test_connected_components_random_graph_vs_union_find(spark) -> None:
    """Randomized cross-check: the DataFrame min-label operator must match a
    plain union-find on a seeded random graph (long chains + isolated nodes
    included by construction)."""
    import random

    from nqs_console_flink_window_spark.operators.dedup_cluster import (
        connected_components,
    )

    rng = random.Random(7)
    n = 200
    pairs = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(150)})
    # force one long chain so diameter > a few hops
    chain = [(i, i + 1) for i in range(n - 20, n - 1)]
    pairs = sorted(set(pairs + chain))

    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    want = {}
    for x in range(n):
        root = find(x)
        want.setdefault(root, []).append(x)
    want_label = {x: min(members) for members in want.values() for x in members}

    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src bigint, dst bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
    got = {r["id"]: r["lbl"] for r in connected_components(edges, nodes, max_rounds=40).collect()}
    assert got == want_label


def test_connected_components_stats_stay_bounded_across_rounds(spark) -> None:
    """Regression guard for the round-11 Catalyst-stats blowup: a
    ``localCheckpoint`` inside an iterative self-join loop inherits the
    optimized plan's ESTIMATED ``sizeInBytes``, each join multiplies the two
    sides' stats, and the checkpoint carries the product forward — so the
    stat's digit count grows ~4x per round (measured 34 -> 152 -> 623 ->
    2506 -> 10039 digits), driver-side BigInteger math comes to dominate
    wall time from ~round 8, and ``java.math.BigInteger`` overflows at
    ~round 13.  The plan guard can't see this (it inspects single plans,
    not a loop's stat trajectory), so this test drives the REAL two-pass
    compression loop shape for 15 rounds — past the old crash horizon —
    and asserts the round-boundary stat stays flat."""
    from nqs_console_flink_window_spark.operators.dedup_cluster import (
        _checkpoint_with_real_stats,
    )

    labels = (
        spark.range(500)
        .select("id", F.col("id").alias("lbl"))
        .localCheckpoint()
    )
    digit_counts = []
    for _round in range(15):
        for _c in range(2):
            lookup = labels.select(
                F.col("id").alias("l_id"), F.col("lbl").alias("l_lbl")
            )
            joined = labels.join(
                lookup, labels["lbl"] == lookup["l_id"], "left"
            ).select(
                labels["id"],
                F.least(
                    labels["lbl"], F.coalesce("l_lbl", labels["lbl"])
                ).alias("lbl"),
            )
            if _c == 0:
                labels = joined.localCheckpoint()
            else:
                labels = _checkpoint_with_real_stats(joined)
        stat = labels._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        digit_counts.append(len(str(stat)))
    # real size of a 500-row (id, lbl) table is ~4-5 digits of bytes; the
    # defect form reaches >10,000 digits by round 5 — any compounding at
    # all would blow past this bound within the 15 rounds
    assert max(digit_counts) < 12, f"sizeInBytes stat compounding: {digit_counts}"


def test_dialect_idiv_and_explode_parity(spark) -> None:
    """idiv: Spark DIV == DuckDB // exactly (the / + CAST round-trip they
    replace diverges: Spark truncates the double, DuckDB rounds).  Also
    explode_tokens: explode == unnest ordering and multiplicity."""
    con = duckdb.connect()
    for a, b in ((7, 2), (18645, 2), (2**50 + 3, 7), (0, 5), (12345678901, 4)):
        s = spark.sql(f"SELECT {X.idiv(X.SPARK, str(a), str(b))} AS v").collect()[0].v
        d = con.execute(f"SELECT {X.idiv(X.DUCK, str(a), str(b))} AS v").fetchone()[0]
        assert s == d == a // b, (a, b, s, d)
    arr_spark = "array('x', 'y', 'x')"
    arr_duck = "['x','y','x']"
    s = [r.v for r in spark.sql(
        f"SELECT {X.explode_tokens(X.SPARK, arr_spark)} AS v").collect()]
    d = [r[0] for r in con.execute(
        f"SELECT {X.explode_tokens(X.DUCK, arr_duck)} AS v").fetchall()]
    assert s == d == ["x", "y", "x"]


def test_mixture_allocation_invariants(spark) -> None:
    from nqs_console_flink_window_spark.plans import all as _all  # noqa: F401
    from nqs_console_flink_window_spark.plans.registry import REGISTRY

    rows = (
        REGISTRY["mixture_allocation"]
        .spark(spark, SMOKE_SF_DIR)
        .toPandas()
        .to_dict("records")
    )
    budget = rows[0]["budget"]
    assert all(r["budget"] == budget for r in rows)
    for r in rows:
        assert 0 <= r["alloc_tokens"] <= r["tokens"]  # never over-sample a source
    # full allocation never exceeds the budget; the single redistribution
    # round gets within n_sources tokens of it (floor slack only)
    total_alloc = sum(r["alloc_tokens"] for r in rows)
    assert total_alloc <= budget
    uncapped = sum(1 for r in rows if r["alloc_tokens"] < r["tokens"])
    assert budget - total_alloc <= max(uncapped, 1) * 2

def test_pii_redaction_parity_and_semantics(spark) -> None:
    """PII regex chain: Spark and DuckDB must redact crafted PII-bearing
    strings identically, and the redaction must actually fire (the parquet
    fixture contains no PII, so its 0==0 parity proves nothing)."""
    from nqs_console_flink_window_spark.operators import text as TX

    probes = [
        "contact me at jane.doe+spam@example.co.uk for details",
        "server 192.168.001.1 and 10.0.0.255 are internal",
        "ssn 123-45-6789 leaked",
        "call +1 (555) 123-4567 or 555 867 5309 now",
        "no pii here at all",
        "edge: a@b.io.",
    ]
    con = duckdb.connect()
    for p in probes:
        lit = "'" + p.replace("'", "''") + "'"
        s_red = spark.sql(
            "SELECT " + TX.pii_redact_expr(X.SPARK, lit) + " AS v"
        ).collect()[0].v
        d_red = con.execute(
            "SELECT " + TX.pii_redact_expr(X.DUCK, lit) + " AS v"
        ).fetchone()[0]
        assert s_red == d_red, (p, s_red, d_red)
        for kind in TX.PII_PATTERNS:
            s_n = spark.sql(
                "SELECT " + TX.pii_count_expr(X.SPARK, kind, lit) + " AS v"
            ).collect()[0].v
            d_n = con.execute(
                "SELECT " + TX.pii_count_expr(X.DUCK, kind, lit) + " AS v"
            ).fetchone()[0]
            assert s_n == d_n, (p, kind, s_n, d_n)

    def redact(p: str) -> str:
        lit = "'" + p.replace("'", "''") + "'"
        return spark.sql(
            "SELECT " + TX.pii_redact_expr(X.SPARK, lit) + " AS v"
        ).collect()[0].v

    assert "<EMAIL>" in redact(probes[0]) and "@" not in redact(probes[0])
    assert redact(probes[1]).count("<IPV4>") == 2
    assert "<SSN>" in redact(probes[2]) and "123-45-6789" not in redact(probes[2])
    assert "<PHONE>" in redact(probes[3])
    assert redact(probes[4]) == probes[4]


def test_chunk_documents_covers_text_exactly(spark) -> None:
    """Chunking invariants: dense stride-aligned chunk ids, each chunk is
    exactly the text slice it claims, and the union of chunks covers every
    character of every document."""
    from nqs_console_flink_window_spark.plans import all as _all  # noqa: F401
    from nqs_console_flink_window_spark.plans.queries_ext import (
        CHUNK_OVERLAP,
        CHUNK_SIZE,
    )
    from nqs_console_flink_window_spark.plans.registry import REGISTRY

    stride = CHUNK_SIZE - CHUNK_OVERLAP
    out = REGISTRY["chunk_documents"].spark(spark, SMOKE_SF_DIR)
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SMOKE_SF_DIR, "documents").collect()
    }
    by_doc: dict = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = r["chunk_text"]
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        text = docs[doc_id]
        ids = sorted(chunks)
        assert ids == list(range(len(ids))), doc_id  # dense chunk ids
        covered = 0
        for i in ids:
            start = i * stride
            assert chunks[i] == text[start : start + CHUNK_SIZE], (doc_id, i)
            covered = max(covered, start + len(chunks[i]))
        assert covered == len(text), (doc_id, covered, len(text))


def test_srp_buckets_bit_identical_across_engines(spark) -> None:
    """The deterministic-SRP hash family is the reason ann_topk can be
    value-oracled at all: the numpy pandas-UDF path and the DuckDB SQL twin
    must produce the SAME (vec_id, table, bucket) triples, bit for bit."""
    import duckdb

    from nqs_console_flink_window_spark.operators import similarity as SIM

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    spark_b = {
        (r.vec_id, t, b)
        for r in SIM.with_lsh_buckets(emb).collect()
        for t, b in enumerate(r.lsh_buckets)
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF_DIR}/embeddings.parquet')"
    )
    duck_b = {tuple(r) for r in con.execute(SIM.srp_buckets_duck_sql()).fetchall()}
    assert spark_b == duck_b


def test_span_dedup_rewrite_invariants(spark) -> None:
    """Corpus repeated-span removal: rewritten docs keep exactly the
    segments whose corpus df < threshold, in original order."""
    from nqs_console_flink_window_spark.operators import dedup_text as DD
    from nqs_console_flink_window_spark.sources.batch import register_temp_views

    register_temp_views(spark, SMOKE_SF_DIR, ("documents",))
    out = {
        r["doc_id"]: r
        for r in spark.sql(DD.span_dedup_sql(X.SPARK)).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SMOKE_SF_DIR, "documents").collect()
    }
    assert set(out) == set(docs)

    # pure-Python recomputation of the same rule
    k, min_df = DD.SPAN_WORDS, DD.SPAN_MIN_DF
    segs_by_doc = {}
    df_count: dict[str, set] = {}
    for doc_id, text in docs.items():
        toks = text.split(" ")
        segs = [
            " ".join(toks[i : i + k]) for i in range(0, len(toks), k)
        ]
        segs_by_doc[doc_id] = segs
        for s in set(segs):
            df_count.setdefault(s, set()).add(doc_id)

    n_removed_total = 0
    for doc_id, segs in segs_by_doc.items():
        kept = [s for s in segs if len(df_count[s]) < min_df]
        removed = len(segs) - len(kept)
        n_removed_total += removed
        row = out[doc_id]
        assert row["n_segs"] == len(segs)
        assert row["n_removed"] == removed
        assert row["cleaned_text"] == " ".join(kept)
        if removed == 0:
            assert row["cleaned_text"] == docs[doc_id]
    assert n_removed_total > 0  # fixture actually exercises the removal path


def test_pack_sequences_scalable_matches_sql_form(spark) -> None:
    """The distributed-prefix-sum packing == the global-window SQL form,
    and the packing invariants hold: every window except the last is
    exactly full, and each doc's slices cover it exactly."""
    from nqs_console_flink_window_spark.operators import packing as PK
    from nqs_console_flink_window_spark.sources.batch import register_temp_views

    register_temp_views(spark, SMOKE_SF_DIR, ("documents",))
    sql_rows = sorted(
        (tuple(r) for r in spark.sql(PK.pack_sequences_sql(X.SPARK)).collect())
    )
    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    sc_rows = sorted(
        (tuple(r) for r in PK.pack_sequences_scalable(docs, partitions=5).collect())
    )
    assert sql_rows == sc_rows

    L = PK.WINDOW_TOKENS
    by_window: dict[int, int] = {}
    by_doc: dict[int, int] = {}
    for window_id, doc_id, tok_from, n_in_win, win_off in sql_rows:
        assert 0 < n_in_win <= L
        assert 0 <= win_off < L
        by_window[window_id] = by_window.get(window_id, 0) + n_in_win
        by_doc[doc_id] = by_doc.get(doc_id, 0) + n_in_win
    last = max(by_window)
    for w, tot in by_window.items():
        assert tot == L or w == last
    n_toks = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n")
        ).collect()
    }
    assert by_doc == n_toks


def test_semdedup_table_count_scales_with_corpus() -> None:
    """The SRP table count derives from corpus size (round-4 watch item:
    a constant count makes in-cluster pair work quadratic in the corpus).
    Expected cluster size n/16^t must stay <= target at every derived t,
    and t must step up as the corpus grows 16x."""
    c = SIM.SEMDEDUP_TARGET_CLUSTER
    assert SIM.semdedup_tables_for(1) == 1
    assert SIM.semdedup_tables_for(c * 16) == 1
    assert SIM.semdedup_tables_for(c * 16 + 1) == 2
    assert SIM.semdedup_tables_for(500) == 2  # fixture scale, = round-4 value
    for n in (10, 1000, 10**6, 10**9, 10**12):
        t = SIM.semdedup_tables_for(n)
        assert 1 <= t <= SIM.SEMDEDUP_MAX_TABLES
        if t < SIM.SEMDEDUP_MAX_TABLES:
            assert n <= c * (1 << (t * SIM.LSH_PLANES))
        if t > 1:  # minimal: one fewer table would overshoot the target
            assert n > c * (1 << ((t - 1) * SIM.LSH_PLANES))


def test_semdedup_prune_semantics(spark) -> None:
    """SemDeDup greedy keep-min: the lowest id of every cluster is kept, and
    a numpy recomputation of the prune rule (quantized-integer cosine, the
    operator's exact arithmetic) agrees exactly."""
    import numpy as np

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    out = SIM.semdedup_prune(emb).collect()
    vecs = {
        r["vec_id"]: np.floor(
            np.asarray(r["embedding"], dtype=np.float64) * float(SIM.SRP_SCALE) + 0.5
        ).astype(np.int64)
        for r in emb.collect()
    }
    clusters: dict[int, list[int]] = {}
    for r in out:
        clusters.setdefault(r["cluster"], []).append(r["vec_id"])
    kept = {r["vec_id"]: r["is_kept"] for r in out}

    def cos(a, b):
        na, nb = np.sqrt(float(a @ a)), np.sqrt(float(b @ b))
        if na == 0.0 or nb == 0.0:
            return 0.0
        return np.floor(float(a @ b) / (na * nb) * 1e8 + 0.5) / 1e8

    for cluster, ids in clusters.items():
        ids.sort()
        assert kept[ids[0]], "lowest id in a cluster must always be kept"
        for i, vid in enumerate(ids):
            expect_pruned = any(
                cos(vecs[lo], vecs[vid]) >= SIM.SEMDEDUP_TAU for lo in ids[:i]
            )
            assert kept[vid] == (not expect_pruned), (cluster, vid)
    assert sum(not v for v in kept.values()) > 0  # fixture exercises pruning


def test_dialect_slice_join_ordered_parity(spark) -> None:
    """arr_slice (incl. overshoot + clamp-at-end), arr_join, ordered_join
    (NULL-val rows skipped, order restored after shuffle), explode_range
    (inclusive bounds) agree across engines."""
    con = duckdb.connect()
    arr_s, arr_d = "array('a','b','c','d','e')", "['a','b','c','d','e']"
    for start, length in ((1, 2), (4, 5), (5, 1)):
        s = spark.sql(
            f"SELECT {X.arr_join(X.SPARK, X.arr_slice(X.SPARK, arr_s, str(start), length), '-')} AS v"
        ).collect()[0].v
        d = con.execute(
            f"SELECT {X.arr_join(X.DUCK, X.arr_slice(X.DUCK, arr_d, str(start), length), '-')} AS v"
        ).fetchone()[0]
        assert s == d, (start, length, s, d)

    # ordered_join over a shuffled group with a NULL-gated value
    rows = [(1, 3, "c"), (1, 1, "a"), (1, 2, None), (1, 4, "d"), (2, 1, "z")]
    spark.createDataFrame(rows, "g int, o int, v string").createOrReplaceTempView(
        "oj_t"
    )
    con.execute("CREATE TABLE oj_t (g INT, o INT, v VARCHAR)")
    con.executemany("INSERT INTO oj_t VALUES (?, ?, ?)", rows)
    q = lambda d: f"SELECT g, {X.ordered_join(d, 'v', 'o', '|')} AS j FROM oj_t GROUP BY g"  # noqa: E731
    s = {r.g: r.j for r in spark.sql(q(X.SPARK)).collect()}
    d = dict(con.execute(q(X.DUCK)).fetchall())
    assert s == d == {1: "a|c|d", 2: "z"}

    # explode_range inclusive bounds
    s = sorted(
        r.w for r in spark.sql(
            f"SELECT w FROM {X.explode_range(X.SPARK, '(SELECT 1 AS x)', 'x', '2', '5')} t"
        ).collect()
    )
    d = sorted(
        r[0] for r in con.execute(
            f"SELECT w FROM {X.explode_range(X.DUCK, '(SELECT 1 AS x)', 'x', '2', '5')} t"
        ).fetchall()
    )
    assert s == d == [2, 3, 4, 5]


def test_minhash_jaccard_estimate_properties(spark) -> None:
    """Signature-slot Jaccard estimation: est is k/NUM_PERM, abs_err is
    consistent, and (near-)identical pairs estimate 1.0 — identical shingle
    sets produce identical signatures by construction."""
    from nqs_console_flink_window_spark.operators import dedup_text as DD
    from nqs_console_flink_window_spark.sources.batch import register_temp_views

    register_temp_views(spark, SMOKE_SF_DIR, ("documents",))
    rows = spark.sql(DD.minhash_jaccard_estimate_sql(X.SPARK)).collect()
    assert rows
    valid = {k / DD.NUM_PERM for k in range(DD.NUM_PERM + 1)}
    for r in rows:
        assert r["est_jaccard"] in valid
        # abs_err rounds the error of the UNROUNDED jaccard; recomputing it
        # from the rounded column can differ by one ulp-of-rounding (2e-6)
        assert abs(r["abs_err"] - abs(r["est_jaccard"] - r["jaccard"])) <= 2e-6
        if r["jaccard"] >= 0.999:
            assert r["est_jaccard"] == 1.0


def test_vocab_topk_and_score_drift_properties(spark) -> None:
    """vocab_topk: ranks dense, counts non-increasing, cumulative coverage
    non-decreasing and ending at 1.0 when k exceeds the vocab.  score_drift:
    shares sum to 1 per half, TV in [0, 1], chi2 parts non-negative."""
    from nqs_console_flink_window_spark.plans.queries_ext import (
        _score_drift_sql,
        _vocab_topk_sql,
    )
    from nqs_console_flink_window_spark.sources.batch import register_temp_views

    register_temp_views(spark, SMOKE_SF_DIR, ("documents", "events"))
    vocab = sorted(
        (r["rank"], r["cnt"], r["cum_coverage"])
        for r in spark.sql(_vocab_topk_sql(X.SPARK)).collect()
    )
    assert [r[0] for r in vocab] == list(range(1, len(vocab) + 1))
    cnts = [r[1] for r in vocab]
    assert cnts == sorted(cnts, reverse=True)
    covs = [r[2] for r in vocab]
    assert covs == sorted(covs)
    assert abs(covs[-1] - 1.0) < 1e-8  # fixture vocab is smaller than k

    drift = spark.sql(_score_drift_sql(X.SPARK)).collect()
    assert drift
    assert abs(sum(r["p_share"] for r in drift) - 1.0) < 1e-6
    assert abs(sum(r["q_share"] for r in drift) - 1.0) < 1e-6
    tv = sum(r["tv_part"] for r in drift)
    assert 0.0 <= tv <= 1.0
    assert all(r["chi2_part"] >= 0.0 for r in drift)


def test_hard_negatives_semantics(spark) -> None:
    """Hard-negative mining: the emitted negative is the argmax
    different-label cluster-mate by quantized cosine (numpy recompute),
    every vector with an other-label mate gets exactly one row, and no
    emitted pair shares a label."""
    import numpy as np

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    out = SIM.hard_negatives(emb).collect()
    assert out
    rows = {r["vec_id"]: r for r in out}
    assert len(rows) == len(out)  # one row per vec

    meta = {
        r["vec_id"]: (
            r["label"],
            np.floor(
                np.asarray(r["embedding"], dtype=np.float64) * float(SIM.SRP_SCALE)
                + 0.5
            ).astype(np.int64),
        )
        for r in emb.collect()
    }
    # recompute clusters exactly as the operator does (incl. the
    # corpus-size-derived SRP table count)
    signs = SIM._srp_signs(64).T
    n_tables = SIM.semdedup_tables_for(len(meta))

    clusters: dict[int, list[int]] = {}
    for vid, (_lbl, q) in meta.items():
        bits = (q @ signs >= 0).reshape(SIM.LSH_TABLES, SIM.LSH_PLANES)
        ids = (bits * (2 ** np.arange(SIM.LSH_PLANES))).sum(axis=1)
        cl = int(sum(int(ids[t]) << (t * SIM.LSH_PLANES) for t in range(n_tables)))
        clusters.setdefault(cl, []).append(vid)

    def qcos(a, b):
        na, nb = np.sqrt(float(a @ a)), np.sqrt(float(b @ b))
        if na == 0.0 or nb == 0.0:
            return 0.0
        return np.floor(float(a @ b) / (na * nb) * 1e8 + 0.5) / 1e8

    for cl, ids in clusters.items():
        for vid in ids:
            lbl, q = meta[vid]
            cands = [
                (qcos(q, meta[o][1]), o)
                for o in ids
                if o != vid and meta[o][0] != lbl
            ]
            if not cands:
                assert vid not in rows
                continue
            best = max(cands, key=lambda t: (t[0], -t[1]))
            r = rows[vid]
            assert r["neg_label"] != lbl
            assert (r["cosine"], r["neg_id"]) == (best[0], best[1]), vid


def test_quality_upsample_invariants(spark) -> None:
    """Quality upsampling: copy rows are dense 1..n_copies per doc, total
    copies lands near the target (hash-coin rounding), and higher-quality
    docs never get fewer expected copies than lower-quality ones."""
    from nqs_console_flink_window_spark.plans.queries_ext import (
        _quality_upsample_sql,
    )
    from nqs_console_flink_window_spark.sources.batch import register_temp_views

    register_temp_views(spark, SMOKE_SF_DIR, ("documents",))
    rows = spark.sql(_quality_upsample_sql(X.SPARK)).collect()
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    total = 0
    weights = {}
    for doc_id, rs in by_doc.items():
        n = rs[0]["n_copies"]
        assert sorted(r["copy_idx"] for r in rs) == list(range(1, n + 1))
        assert all(r["n_copies"] == n for r in rs)
        # floor(w) <= n_copies <= floor(w) + 1
        w = rs[0]["weight"]
        assert int(w) <= n <= int(w) + 1
        weights[doc_id] = (rs[0]["quality"], w)
        total += n
    # E[total] = 600; binomial noise across ~500 coins stays well within 10%
    assert 520 <= total <= 680, total
    # weight is monotone in quality (w = c * q^2 with one global constant)
    ordered = sorted(weights.values())
    for (q1, w1), (q2, w2) in zip(ordered, ordered[1:]):
        if q2 > q1:
            assert w2 >= w1


def test_bpe_train_matches_python_reference(spark) -> None:
    """The iterative Spark BPE trainer (aggregate-HOF merge rewrite) learns
    the same merge sequence, with the same counts, as a pure-Python BPE on
    the same word frequencies — including multi-char symbols from chained
    merges and the count-desc/pair-asc tiebreak."""
    from collections import Counter

    from nqs_console_flink_window_spark.operators import selection as SEL

    docs = load_table(spark, SMOKE_SF_DIR, "documents").limit(60)
    merges = SEL.bpe_train(spark, docs, n_merges=6)

    freqs = Counter()
    for r in docs.select("text").collect():
        for w in r["text"].lower().split(" "):
            if len(w) >= 2:
                freqs[w] += 1
    expected = BPE_REF.bpe_train_reference(dict(freqs), n_merges=6)
    assert merges == expected

    # chained merges on a corpus built to force them: 'abab' dominates, so
    # merge 1 = (a,b) and merge 2 must reuse the multi-char symbol 'ab'
    chain = spark.createDataFrame(
        [(1, "abab abab abab ab xy")], "doc_id long, text string"
    )
    chained = SEL.bpe_train(spark, chain, n_merges=3)
    freqs2 = {"abab": 3, "ab": 1, "xy": 1}
    assert chained == BPE_REF.bpe_train_reference(freqs2, n_merges=3)
    assert any(len(a) > 1 or len(b) > 1 for a, b, _ in chained)


def test_dsir_importance_semantics(spark) -> None:
    """DSIR invariants: target-domain docs score higher on average than the
    rest (the weights point toward the target distribution), the sampled
    set is exactly top-k by selection key, and n_feats = 2*len-1 per doc
    (unigrams + bigrams)."""
    from nqs_console_flink_window_spark.plans import all as _all  # noqa: F401
    from nqs_console_flink_window_spark.plans.registry import REGISTRY

    rows = REGISTRY["dsir_importance"].spark(spark, SMOKE_SF_DIR).collect()
    docs = {
        r["doc_id"]: (r["source"], len(r["text"].lower().split(" ")))
        for r in load_table(spark, SMOKE_SF_DIR, "documents")
        .select("doc_id", "source", "text")
        .collect()
    }
    tgt = [r["log_weight"] for r in rows if docs[r["doc_id"]][0] in ("src0", "src1", "src2", "src3")]
    rest = [r["log_weight"] for r in rows if docs[r["doc_id"]][0] not in ("src0", "src1", "src2", "src3")]
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)
    for r in rows:
        assert r["n_feats"] == 2 * docs[r["doc_id"]][1] - 1
    k = sum(r["sampled"] for r in rows)
    threshold = sorted((r["sel_key_micro"] for r in rows), reverse=True)[k - 1]
    for r in rows:
        assert r["sampled"] == (1 if r["sel_key_micro"] >= threshold else 0)


def test_token_entropy_bounds(spark) -> None:
    """0 <= H <= ln(n_types) (uniform bound), and a doc of repeated tokens
    has H == 0 while distinct tokens hit the uniform maximum."""
    import math

    from nqs_console_flink_window_spark.operators import selection as SEL
    from nqs_console_flink_window_spark.plans import all as _all  # noqa: F401
    from nqs_console_flink_window_spark.plans.registry import REGISTRY

    for r in REGISTRY["token_entropy"].spark(spark, SMOKE_SF_DIR).collect():
        assert -1e-6 <= r["entropy_nats"] <= math.log(r["n_types"]) + 1e-6
        assert 0 < r["type_token_ratio"] <= 1.0

    probe = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d")], "doc_id long, text string"
    )
    probe.createOrReplaceTempView("documents")
    got = {
        r["doc_id"]: r["entropy_nats"]
        for r in spark.sql(SEL.token_entropy_sql(X.SPARK)).collect()
    }
    assert got[1] == 0.0
    assert abs(got[2] - math.log(4)) < 1e-5


def test_containment_catches_subset_docs(spark) -> None:
    """A doc embedded inside a near-superset has containment ~1 from the
    small side while Jaccard stays well below it — the partial-overlap
    case the Jaccard threshold misses."""
    from nqs_console_flink_window_spark.operators import dedup_text as DD

    small = "alpha beta gamma delta epsilon zeta eta theta " * 4
    # non-repeating filler: distinct shingles must actually grow (periodic
    # filler saturates the DISTINCT shingle set and Jaccard stops dropping).
    # Size 4 keeps the pair inside LSH band-collision range — candidate
    # recall tracks RESEMBLANCE, so extreme-containment/low-Jaccard pairs
    # fall outside plain MinHash banding (see containment_on_lsh_sql doc)
    big = small + " ".join(f"filler{i:03d} extra{i:03d}" for i in range(4))
    spark.createDataFrame(
        [(1, small.strip()), (2, big.strip()), (3, "totally different words here " * 8)],
        "doc_id long, text string",
    ).createOrReplaceTempView("documents")
    rows = DD.containment_on_lsh_df(spark, threshold=0.5).collect()
    pair = {(r["doc_a"], r["doc_b"]): r for r in rows}
    assert (1, 2) in pair
    r = pair[(1, 2)]
    assert r["contain_ab"] >= 0.9          # small side almost fully contained
    assert r["contained_doc"] == 1
    jac = r["contain_ab"] * r["contain_ba"] / (
        r["contain_ab"] + r["contain_ba"] - r["contain_ab"] * r["contain_ba"]
    )
    assert jac < 0.6                        # resemblance alone would miss it
    assert not any(3 in (a, b) for (a, b) in pair)


def test_dsir_score_uses_models_own_bucket_count(spark) -> None:
    """A model fitted with a non-default n_buckets must be scored in the
    same bucket space (regression: dsir_score used to hash score-time
    features with the default 1024 regardless of the fit)."""
    from nqs_console_flink_window_spark.operators import selection as SEL

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    m = SEL.dsir_fit(spark, docs, n_buckets=64)
    assert m[2] == 64
    assert all(0 <= b < 64 for b, _ in m[0])
    scored = {r["doc_id"]: r["lw_micro"] for r in SEL.dsir_score(spark, docs, m).collect()}
    # self-scoring a pure-reference fit: is_target false at score time, so
    # weights reflect the fit's target/reference ratios; the invariant that
    # matters here is bucket-space agreement — recompute one doc's features
    # in the 64-bucket space and check its qlr-sum matches.
    lr = dict(m[0])
    docs.createOrReplaceTempView("__b64_docs")
    try:
        from nqs_console_flink_window_spark.functions import dialect as X

        f = spark.sql(
            SEL.dsir_feats_sql(X.SPARK, "__b64_docs", 64, target_pred="FALSE")
        ).collect()
    finally:
        spark.catalog.dropTempView("__b64_docs")
    got: dict[int, int] = {}
    for r in f:  # pure-Python recompute in the 64-bucket space
        got[r["doc_id"]] = got.get(r["doc_id"], 0) + lr.get(r["b"], 0) + m[1]
    assert scored == got


def test_dsir_pure_python_recomputation(spark) -> None:
    """Third-implementation check (beyond Spark==DuckDB): recompute the DSIR
    importance log-weights from first principles in Python — tokenize, hash
    n-grams with the same md5-derived 60-bit hash, build both smoothed
    bucket distributions, quantize each ln at its integer argument — and
    demand exact integer equality with the engine's micro-nat weights."""
    import hashlib
    import math

    from nqs_console_flink_window_spark.operators import selection as SEL
    from nqs_console_flink_window_spark.plans import all as _all  # noqa: F401
    from nqs_console_flink_window_spark.plans.registry import REGISTRY

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def qln(k: int) -> int:
        return math.floor(math.log(k) * 1e6 + 0.5)

    B = SEL.DSIR_BUCKETS
    docs = [
        (r["doc_id"], r["text"].lower().split(" "), r["source"])
        for r in load_table(spark, SMOKE_SF_DIR, "documents").collect()
    ]
    target_srcs = {"src0", "src1", "src2", "src3"}
    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    feats_by_doc: dict[int, list[int]] = {}
    for doc_id, toks, src in docs:
        fs = [h60("u:" + t) % B for t in toks]
        fs += [h60("b:" + a + "_" + b) % B for a, b in zip(toks, toks[1:])]
        feats_by_doc[doc_id] = fs
        for b in fs:
            cr[b] = cr.get(b, 0) + 1
            if src in target_srcs:
                ct[b] = ct.get(b, 0) + 1
    tt, tr = sum(ct.values()), sum(cr.values())
    qnorm = qln(tr + B) - qln(tt + B)
    expected = {
        doc_id: sum(qln(ct.get(b, 0) + 1) - qln(cr[b] + 1) for b in fs)
        + len(fs) * qnorm
        for doc_id, fs in feats_by_doc.items()
    }
    got = {
        r["doc_id"]: round(r["log_weight"] * 1e6)
        for r in REGISTRY["dsir_importance"].spark(spark, SMOKE_SF_DIR).collect()
    }
    assert got == expected


def test_qln_micro_three_way_parity(spark) -> None:
    """The micro-nat foundation: the quantized integer log agrees across
    Spark SQL, DuckDB SQL, and Python math.log for a spread of integer
    arguments covering every magnitude the selection operators feed it
    (counts 1..10^7) — including the adversarial neighborhood of exact
    powers where ln(k)*1e6 comes closest to quantization boundaries."""
    import math

    from nqs_console_flink_window_spark.operators.selection import qln_micro

    ks = (
        list(range(1, 40))
        + [97, 1000, 1001, 54321, 10**6, 10**7]
        + [2**j for j in range(1, 23)]
        + [2**j - 1 for j in range(2, 23)]
        + [int(math.e ** j) for j in range(1, 16)]  # ln lands near integers
    )
    vals = ", ".join(f"({k})" for k in sorted(set(ks)))
    expr = qln_micro("k")
    s = {
        r["k"]: r["q"]
        for r in spark.sql(f"SELECT k, {expr} AS q FROM VALUES {vals} AS t(k)").collect()
    }
    con = duckdb.connect()
    d = {
        k: con.execute(f"SELECT {qln_micro(str(k))}").fetchone()[0]
        for k in sorted(set(ks))
    }
    p = {k: math.floor(math.log(k) * 1e6 + 0.5) for k in sorted(set(ks))}
    assert s == d == p


def test_bpe_encode_matches_reference(spark) -> None:
    """The corpus encoder applies the learned merges exactly like the
    pure-Python encoder: per-doc subword sequences match, and the
    segmentation is consistent (n_subwords == len(subwords), concatenating
    subwords re-spells the document)."""
    from nqs_console_flink_window_spark.operators import selection as SEL

    docs = load_table(spark, SMOKE_SF_DIR, "documents").limit(40)
    merges = SEL.bpe_train(spark, docs, n_merges=5)
    assert merges
    got = {r["doc_id"]: r for r in SEL.bpe_encode(spark, docs, merges).collect()}
    for r in docs.select("doc_id", "text").collect():
        want = BPE_REF.bpe_encode_reference(r["text"], merges)
        g = got[r["doc_id"]]
        assert list(g["subwords"]) == want, r["doc_id"]
        assert g["n_subwords"] == len(want)
        assert "".join(g["subwords"]) == r["text"].lower().replace(" ", "")


def test_cap_candidate_degree_bounds_and_preserves_connectivity(spark) -> None:
    """The degree cap (a) never exceeds max_deg on either side of any doc,
    (b) emits a subset of the uncapped edges, (c) keeps every doc that had
    any edge still attached to at least one edge (connected-components can
    still merge duplicate groups), and (d) is deterministic across runs."""
    from nqs_console_flink_window_spark.operators import dedup_text as DD
    from nqs_console_flink_window_spark.sources.batch import register_temp_views

    register_temp_views(spark, SMOKE_SF_DIR, ("documents",))
    _sh, _sig, cand, _sizes = DD._staged_minhash_parts(spark)
    full = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    cap = 2
    capped_df = DD.cap_candidate_degree(cand, cap)
    capped = {(r["doc_a"], r["doc_b"]) for r in capped_df.collect()}
    assert capped <= full and capped

    from collections import Counter

    # the bound that matters is TOTAL work: <= (cap + 1) edges per doc on
    # average (each node contributes <= cap double-capped edges as doc_a
    # plus at most one exempted min-edge); per-node degree is NOT bounded —
    # a flood's minimum is the hub of the exempted star by design
    n_docs = len({x for e in full for x in e})
    assert len(capped) <= (cap + 1) * n_docs

    # the double-capped (non-exempt) edges respect the per-side cap
    min_nbr: dict[int, int] = {}
    for a, b in full:
        min_nbr[b] = min(min_nbr.get(b, a), a)
    non_exempt = [(a, b) for a, b in capped if min_nbr.get(b) != a]
    dega = Counter(a for a, _ in non_exempt)
    degb = Counter(b for _, b in non_exempt)
    if non_exempt:
        assert max(dega.values()) <= cap and max(degb.values()) <= cap

    touched_full = {x for e in full for x in e}
    touched_capped = {x for e in capped for x in e}
    # docs can lose ALL edges only if every incident edge was trimmed from
    # the OTHER side's budget; with cap=2 on this corpus that must not
    # strand more than a small tail
    assert len(touched_capped) >= 0.8 * len(touched_full)

    again = {(r["doc_a"], r["doc_b"]) for r in DD.cap_candidate_degree(cand, cap).collect()}
    assert again == capped

    # capped containment yields a subset of uncapped containment rows
    full_rows = {
        (r["doc_a"], r["doc_b"]): r["contain_ab"]
        for r in DD.containment_on_lsh_df(spark).collect()
    }
    capped_rows = {
        (r["doc_a"], r["doc_b"]): r["contain_ab"]
        for r in DD.containment_on_lsh_capped_df(spark, max_deg=cap).collect()
    }
    assert set(capped_rows) <= set(full_rows)
    for k, v in capped_rows.items():
        assert v == full_rows[k]


def test_bpe_fold_survives_sql_metacharacters(spark) -> None:
    """Symbols containing backslashes and quotes round-trip through the
    fold expression's SQL literals (backslash is an escape in Spark string
    literals — unescaped it was a parse error)."""
    from nqs_console_flink_window_spark.operators import selection as SEL

    text = r"a\b a\b a\b it's it's it's"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges = SEL.bpe_train(spark, docs, n_merges=3)
    assert merges == BPE_REF.bpe_train_reference({r"a\b": 3, "it's": 3}, n_merges=3)
    enc = SEL.bpe_encode(spark, docs, merges).collect()[0]
    assert list(enc["subwords"]) == BPE_REF.bpe_encode_reference(text, merges)


def test_pq_adc_recall_and_determinism(spark) -> None:
    """Product quantization: the ADC short-list + exact re-rank recovers a
    solid share of the exact top-10; codes are deterministic across calls;
    the code array is PQ_M small ints (the 32x compression claim)."""
    from nqs_console_flink_window_spark.operators import similarity as S

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    corpus = emb.filter(F.col("vec_id") != 0)

    q_lit = "array(" + ", ".join(f"CAST({x!r} AS FLOAT)" for x in qvec) + ")"
    brute = (
        corpus.withColumn("cosine", F.expr(S.cosine_spark("embedding", q_lit)))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )
    exact_ids = {r.vec_id for r in brute.collect()}
    pq_ids = {r.vec_id for r in S.pq_topk(corpus, qvec, k=10).collect()}
    recall = len(exact_ids & pq_ids) / 10
    assert recall >= 0.4, f"PQ recall@10 too low: {recall}"

    c1 = {r["vec_id"]: list(r["pq_code"]) for r in S.pq_encode(corpus).collect()}
    c2 = {r["vec_id"]: list(r["pq_code"]) for r in S.pq_encode(corpus).collect()}
    assert c1 == c2
    for code in c1.values():
        assert len(code) == S.PQ_M
        assert all(0 <= c < S.PQ_K for c in code)


def test_ivfpq_recall(spark) -> None:
    """The IVF-PQ composition (cell routing + ADC + exact re-rank) keeps
    useful recall while touching only nprobe cells' code arrays."""
    from nqs_console_flink_window_spark.operators import similarity as S

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    corpus = emb.filter(F.col("vec_id") != 0)

    q_lit = "array(" + ", ".join(f"CAST({x!r} AS FLOAT)" for x in qvec) + ")"
    exact_ids = {
        r.vec_id
        for r in corpus.withColumn("cosine", F.expr(S.cosine_spark("embedding", q_lit)))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
        .collect()
    }
    got = S.ivfpq_topk(corpus, qvec, k=10).collect()
    recall = len(exact_ids & {r.vec_id for r in got}) / 10
    assert recall >= 0.3, f"IVF-PQ recall@10 too low: {recall}"
    assert len(got) == 10


def test_doc_embeddings_semantics(spark) -> None:
    """Hashed-projection embeddings: unit-norm per doc, and a near-dup pair
    (one doc a light edit of another) lands materially closer in cosine
    than an unrelated pair — the property the vector family needs."""
    from nqs_console_flink_window_spark.operators import text as TX

    base = "the quick brown fox jumps over the lazy dog " * 8
    neardup = base + "extra tail words"
    other = "completely different content about spark shuffles and joins " * 8
    spark.createDataFrame(
        [(1, base.strip()), (2, neardup.strip()), (3, other.strip())],
        "doc_id long, text string",
    ).createOrReplaceTempView("documents")
    rows = spark.sql(TX.text_embed_sql(X.SPARK)).collect()
    import math

    vecs: dict[int, list[float]] = {}
    for r in rows:
        vecs.setdefault(r["doc_id"], [0.0] * TX.EMB_DIM)[r["j"]] = r["comp"]
    for v in vecs.values():
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-9

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    assert cos(vecs[1], vecs[2]) > cos(vecs[1], vecs[3]) + 0.2


def test_degree_cap_flood_still_clusters_whole(spark) -> None:
    """The motivating flood scenario: one document duplicated 60x (a
    mirror/template flood).  Uncapped, the candidate edge count is
    quadratic (~1770 pairs); capped at max_deg=3 it collapses to O(cap*n)
    — yet connected components over the CAPPED edges still merges the
    whole flood into ONE cluster (each doc keeps at least one edge into
    the group)."""
    from nqs_console_flink_window_spark.operators import dedup_cluster as DC
    from nqs_console_flink_window_spark.operators import dedup_text as DD
    from nqs_console_flink_window_spark.sources.batch import register_temp_views

    flood_text = "the same mirrored press release body repeated verbatim " * 6
    rows = [(i, flood_text.strip()) for i in range(60)]
    rows += [(100 + i, f"unique doc {i} " + "filler words here and there " * 5) for i in range(5)]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )
    _sh, _sig, cand, _sizes = DD._staged_minhash_parts(spark)
    n_full = cand.count()
    cap = 3
    capped = DD.cap_candidate_degree(cand, cap)
    n_capped = capped.count()
    assert n_full >= 60 * 59 / 2  # quadratic flood edges
    assert n_capped <= cap * 65   # bounded-degree collapse

    fwd = capped.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nodes = spark.sql("SELECT doc_id AS id FROM documents")
    comp = DC.connected_components(edges, nodes)
    labels = {r["id"]: r["lbl"] for r in comp.collect()}
    flood_labels = {labels[i] for i in range(60)}
    assert len(flood_labels) == 1, f"flood split into {len(flood_labels)} clusters"


def test_ivf_index_append_routes_and_prunes(spark, tmp_path) -> None:
    """Incremental IVF maintenance: vectors appended with the persisted
    centroids (no re-fit) get exactly the assignment the original quantizer
    would give them, a query for an appended vector finds it, and nprobe
    partition pruning still holds over the grown index."""
    emb = load_table(spark, SMOKE_SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    extra = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ivf")
    SIM.build_ivf_index(base, path)
    SIM.ivf_index_append(spark, path, extra)

    # appended assignment matches the original quantizer exactly — the
    # router and ivf_assignments now share ONE rule (assign_cells_udf), so
    # no tie tolerance is needed: identical floats, identical argmin
    centers = SIM._ivf_centers(base, "embedding")
    want = {
        r["vec_id"]: r["cell"]
        for r in extra.withColumn(
            "cell", SIM.assign_cells_udf(centers)(F.col("embedding"))
        ).collect()
    }
    got = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(path)
        .join(extra.select("vec_id"), "vec_id", "left_semi")
        .collect()
    }
    assert got == want

    # a query for an appended vector's own embedding returns it at rank 1
    qvec = [float(x) for x in extra.orderBy("vec_id").first()["embedding"]]
    qid = extra.orderBy("vec_id").first()["vec_id"]
    top = SIM.ivf_topk_indexed(spark, path, qvec, k=3)
    assert top.first()["vec_id"] == qid
    # nprobe pruning still holds over the grown index: PartitionFilters on
    # cell, and results confined to the probed cells (same check as
    # test_ivf_persisted_index_prunes_partitions — inputFiles() reports the
    # unpruned listing, the plan's PartitionFilters is the real evidence)
    import contextlib
    import io

    import numpy as np

    cent = {
        r["cell"]: np.asarray(r["centroid"])
        for r in spark.read.parquet(f"{path}.centroids").collect()
    }
    qa = np.asarray(qvec)
    d2 = {c: float(((v - qa) ** 2).sum()) for c, v in cent.items()}
    probe = sorted(d2, key=d2.get)[: SIM.IVF_NPROBE]
    pruned = spark.read.parquet(path).filter(F.col("cell").isin(probe))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert {r["cell"] for r in top.collect()} <= set(probe)


def test_ann_recall_audit_floor(spark) -> None:
    """The registered recall audit reports sane per-method floors on the
    smoke fixture — an index-quality regression (broken quantizer fit,
    codebook drift, probe routing bug) now fails a pinned number, not
    just the hash gate.  Floors are calibrated to THIS fixture: the
    synthetic embeddings are uniform random (no cluster structure — the
    ANN-hostile worst case), so absolute recall is inherently modest
    (measured ivf 0.7 / pq 0.6 / ivfpq 0.7 / lsh 0.6 at sf0.001 — ivfpq
    rose 0.5 -> 0.7 when round 9 switched to residual encoding, reaching
    the IVF probe ceiling: the gate-visible number the canonical form is
    FOR);
    production embeddings cluster and recall rises with nprobe.  The
    floor sits one notch under measured so only a REGRESSION trips it,
    not fixture noise."""
    from nqs_console_flink_window_spark.plans.queries_ext import ann_recall_audit

    rows = {r["method"]: r for r in ann_recall_audit(spark, SMOKE_SF_DIR).collect()}
    assert set(rows) == {
        "ivf",
        "ivf_nprobe8",
        "pq",
        "ivfpq",
        "ivfpq_indexed",
        "ivfpq_nprobe8",
        "lsh",
        "hybrid_ann",
    }
    # the nprobe knob is monotone for the compressed family too
    assert (
        rows["ivfpq_nprobe8"]["recall_at_k"] >= rows["ivfpq"]["recall_at_k"]
    )
    # the nprobe knob is MONOTONE: probing more cells never loses recall
    # (measured 0.7 -> 0.9 at nprobe 4 -> 8 on the smoke fixture)
    assert (
        rows["ivf_nprobe8"]["recall_at_k"] >= rows["ivf"]["recall_at_k"]
    )
    # the persisted codes path shares the online ivfpq's floor — it is
    # bit-identical by construction, so a LOWER number here means the
    # standing index drifted from the recompute (exactly what the row
    # watches); additionally pin the two rows equal
    assert (
        rows["ivfpq_indexed"]["recall_at_k"] == rows["ivfpq"]["recall_at_k"]
    )
    floors = {
        "ivf": 0.6,
        "ivf_nprobe8": 0.8,  # measured 0.9; the sweep row's own floor
        "pq": 0.5,
        "ivfpq": 0.6,  # residual encoding (round 9): one notch under 0.7
        "ivfpq_indexed": 0.6,
        "ivfpq_nprobe8": 0.7,  # measured 0.8; the sweep row's own floor
        "lsh": 0.5,
    }
    for method, floor in floors.items():
        r = rows[method]
        assert r["k"] == 10 and r["hits"] == round(r["recall_at_k"] * 10)
        assert r["recall_at_k"] >= floor, (method, r["recall_at_k"])
    # round-10 end-to-end fusion floor: the FULLY-indexed hybrid's fused
    # top-k vs the exact hybrid across the whole query set (hits by
    # (query_id, doc_id) pair, denominator = |Q| x k).  Measured 0.533 on
    # the hostile uniform fixture (the sparse leg is shared verbatim, so
    # every miss is the dense probe cut reshuffling fusion ranks); floor
    # one notch under so only a fusion/probe regression trips it
    h = rows["hybrid_ann"]
    assert h["k"] == 10 and h["hits"] >= 1
    assert h["recall_at_k"] >= 0.4, h["recall_at_k"]


def test_ivf_streamed_ingest_matches_rebuild_replays_and_compacts(
    spark, tmp_path
) -> None:
    """The streamed IVF layout (cell/batch_id dynamic-overwrite landings
    routed through pre-fit centroids) serves ivf_topk_indexed identically
    to a full batch build over the same vectors, a replayed micro-batch
    converges (overwrites its own slices — no duplicate vectors), the
    watermark-coupled compaction folds history into batch_id=-1 without
    changing a single result, and nprobe partition pruning holds on the
    deeper layout — the text index's round-7 lifecycle applied to the
    vector index."""
    import contextlib
    import io
    from pathlib import Path

    from nqs_console_flink_window_spark.streaming import jobs as J

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    dim = len(emb.select("embedding").first()[0])
    qvec = [0.25] * dim

    # full batch build = the parity anchor (also fits the quantizer)
    full = str(tmp_path / "ivf_full")
    SIM.build_ivf_index(emb, full)
    want = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in SIM.ivf_topk_indexed(spark, full, qvec, k=10).collect()
    ]

    # streamed build: fit ONLY the quantizer (same corpus sample -> same
    # centroids as the full build), then land 3 micro-batches via the
    # foreachBatch runner
    idx = str(tmp_path / "ivf_stream")
    SIM.ivf_fit_centroids(emb, idx)
    src = str(tmp_path / "vecsrc")
    emb.withColumn("part", F.col("vec_id") % 3).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    J.run_ivf_indexing_stream(spark, stream, idx, str(tmp_path / "cp"))

    def got():
        return [
            (r["vec_id"], round(r["cosine"], 9))
            for r in SIM.ivf_topk_indexed(spark, idx, qvec, k=10).collect()
        ]

    assert got() == want
    # no duplicate vectors across landings
    n = spark.read.parquet(idx).count()
    assert n == emb.count()

    # replay convergence: re-land one batch's EXACT vectors under its
    # batch_id — the dynamic overwrite owns exactly its old slices
    replay_bid = 1
    b1_ids = [
        r["vec_id"]
        for r in spark.read.parquet(idx)
        .filter(F.col("batch_id") == replay_bid)
        .select("vec_id")
        .collect()
    ]
    assert b1_ids
    SIM.ivf_index_ingest_batch(
        spark, emb.filter(F.col("vec_id").isin(b1_ids)), replay_bid, idx
    )
    assert spark.read.parquet(idx).count() == n
    assert got() == want

    # compaction at the committed watermark: results unchanged, history
    # folded to the reserved -1 generation, idempotent second pass
    counts = SIM.compact_streamed_ivf_index(spark, idx, upto_batch_id=10)
    for sub in Path(idx).glob("cell=*/batch_id=*"):
        assert sub.name == "batch_id=-1", sub
    assert got() == want
    assert SIM.compact_streamed_ivf_index(spark, idx, upto_batch_id=10) == counts

    # nprobe pruning on the deeper (cell, batch_id) layout
    import numpy as np

    cent = {
        r["cell"]: np.asarray(r["centroid"])
        for r in spark.read.parquet(f"{idx}.centroids").collect()
    }
    qa = np.asarray(qvec)
    d2 = {c: float(((v - qa) ** 2).sum()) for c, v in cent.items()}
    probe = sorted(d2, key=d2.get)[: SIM.IVF_NPROBE]
    pruned = spark.read.parquet(idx).filter(F.col("cell").isin(probe))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()


def test_ivf_append_compaction_preserves_results(spark, tmp_path) -> None:
    """compact_ivf_index folds the flat-append path's per-append small
    files into ~target-size files per cell without changing any result —
    and a second pass is a no-op (fold-core idempotence)."""
    emb = load_table(spark, SMOKE_SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    dim = len(emb.select("embedding").first()[0])
    qvec = [0.25] * dim
    path = str(tmp_path / "ivf_app")
    SIM.build_ivf_index(emb.filter("vec_id % 4 = 0"), path)
    for m in (1, 2, 3):
        SIM.ivf_index_append(spark, path, emb.filter(f"vec_id % 4 = {m}"))
    want = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in SIM.ivf_topk_indexed(spark, path, qvec, k=10).collect()
    ]
    n_before = spark.read.parquet(path).count()
    counts = SIM.compact_ivf_index(spark, path)
    from pathlib import Path

    for sub, c in counts.items():
        assert c == 1, (sub, c)  # tiny cells fold to one file each
        files = list((Path(path) / sub / "batch_id=-1").glob("*.parquet"))
        assert len(files) == 1 and files[0].name.startswith("compact-")
    assert spark.read.parquet(path).count() == n_before
    assert [
        (r["vec_id"], round(r["cosine"], 9))
        for r in SIM.ivf_topk_indexed(spark, path, qvec, k=10).collect()
    ] == want
    assert SIM.compact_ivf_index(spark, path) == counts


def _png_encode(pixels, channels, filters):
    """Minimal test-side PNG writer: one explicit filter type per scanline
    (applied FORWARD, so the decoder must invert all five), 8-bit."""
    import struct
    import zlib

    height = len(pixels)
    width = len(pixels[0]) // channels
    colort = {1: 0, 2: 4, 3: 2, 4: 6}[channels]

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    raw = bytearray()
    prev = bytes(width * channels)
    bpp = channels
    for y, rowpix in enumerate(pixels):
        f = filters[y % len(filters)]
        raw.append(f)
        row = bytes(rowpix)
        enc = bytearray(row)
        if f == 1:
            for i in range(len(row) - 1, bpp - 1, -1):
                enc[i] = (row[i] - row[i - bpp]) & 0xFF
        elif f == 2:
            for i in range(len(row)):
                enc[i] = (row[i] - prev[i]) & 0xFF
        elif f == 3:
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                enc[i] = (row[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (row[i] - pred) & 0xFF
        raw += enc
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, colort, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_multimodal_png_decode_all_filters(spark) -> None:
    """The stdlib PNG decoder recovers exact pixel stats through every
    scanline filter (None/Sub/Up/Average/Paeth), for RGB, RGBA (alpha
    ignored) and grayscale; unsupported shapes fall back to the stub; and
    the decode runs through the same Arrow mapInPandas plumbing."""
    import random

    rng = random.Random(7)
    w, h = 6, 10
    cases = {}
    for mid, ch in ((1, 3), (2, 4), (3, 1)):
        pixels = [
            [rng.randrange(256) for _ in range(w * ch)] for _ in range(h)
        ]
        cases[mid] = (ch, pixels, _png_encode(pixels, ch, [0, 1, 2, 3, 4]))

    def expect(ch, pixels):
        flat = [b for row in pixels for b in row]
        if ch == 1:
            rs = gs = bs = flat
        elif ch == 4:
            rs, gs, bs = flat[0::4], flat[1::4], flat[2::4]
        else:
            rs, gs, bs = flat[0::3], flat[1::3], flat[2::3]
        npx = w * h
        rm, gm, bm = (sum(c) / npx / 255.0 for c in (rs, gs, bs))
        lumas = [
            (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
            for r, g, b in zip(rs, gs, bs)
        ]
        lm = sum(lumas) / npx
        lv = sum((x - lm) ** 2 for x in lumas) / npx
        return [w / 1e4, h / 1e4, 1.0, rm, gm, bm, lm, lv]

    for mid, (ch, pixels, png) in cases.items():
        got = MM.decode_features(png, "image/png")
        want = expect(ch, pixels)
        assert all(abs(a - b) < 1e-12 for a, b in zip(got, want)), (mid, got)
        assert got[8:] == [0.0] * (MM.FEATURE_DIM - 8)

    # interlaced/16-bit/palette shapes and octet-stream declarations stub
    import struct as _s
    import zlib as _z

    bad_ihdr = _s.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + _s.pack(">I", len(bad_ihdr)) + b"IHDR" + bad_ihdr
        + _s.pack(">I", _z.crc32(b"IHDR" + bad_ihdr))
    )
    assert abs(sum(MM.decode_features(bad, "image/png")) - 1.0) < 1e-6
    png3 = cases[1][2]
    assert abs(sum(MM.decode_features(png3, "application/octet-stream")) - 1.0) < 1e-6

    # through the Arrow plumbing
    rows = [(mid, c[2], "image/png") for mid, c in cases.items()]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary, mime string"
    ).select(
        "media_id",
        "payload",
        F.struct(
            F.col("mime").alias("mime"),
            F.lit(0).cast("int").alias("width"),
            F.lit(0).cast("int").alias("height"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    arrow = {r.media_id: list(r.feature) for r in MM.extract_features(media).collect()}
    for mid, (ch, pixels, png) in cases.items():
        local = MM.decode_features(png, "image/png")
        assert all(abs(a - b) < 1e-6 for a, b in zip(arrow[mid], local)), mid


def test_bpe_train_batched_matches_reference_and_cuts_rounds(spark) -> None:
    """The batched BPE trainer (k non-conflicting top pairs folded per
    round) learns the same schedule as its pure-Python twin, degenerates to
    the strict-greedy schedule at batch=1, and spends n_merges/batch rounds
    (the job-count knob for 32k-merge production builds)."""
    from collections import Counter

    from nqs_console_flink_window_spark.operators import selection as SEL

    docs = load_table(spark, SMOKE_SF_DIR, "documents").limit(60)
    freqs = Counter()
    for r in docs.select("text").collect():
        for w in r["text"].lower().split(" "):
            if len(w) >= 2:
                freqs[w] += 1

    got = SEL.bpe_train_batched(spark, docs, n_merges=8, batch=4)
    assert got == BPE_REF.bpe_train_batched_reference(dict(freqs), n_merges=8, batch=4)
    assert len(got) == 8
    assert SEL.bpe_train_batched.last_rounds == 2  # 8 merges / batch 4

    # batch=1 degenerates to the strict greedy schedule
    solo = SEL.bpe_train_batched(spark, docs, n_merges=4, batch=1)
    assert solo == SEL.bpe_train(spark, docs, n_merges=4)

    # conflict rule: 'abab...' corpus — (a,b) is round-1 top; any batch-mate
    # touching a or b must be deferred, so chained 'ab' merges land in
    # LATER rounds exactly like the reference
    chain = spark.createDataFrame(
        [(1, "abab abab abab ab xy xy xy")], "doc_id long, text string"
    )
    freqs2 = {"abab": 3, "ab": 1, "xy": 3}
    got2 = SEL.bpe_train_batched(spark, chain, n_merges=3, batch=3)
    assert got2 == BPE_REF.bpe_train_batched_reference(freqs2, n_merges=3, batch=3)
    # the chained (ab,ab) merge conflicts with round 1's (a,b) winner, so
    # despite batch=3 covering all 3 merges a second round was required —
    # the conflict rule deferred it rather than fold it on a stale count
    assert ("ab", "ab", 3) in got2
    assert SEL.bpe_train_batched.last_rounds >= 2


def _gif_lzw_encode(min_code_size: int, indices: list[int]) -> bytes:
    """Independent GIF-LZW compressor for the decoder test: standard
    dictionary build, variable-width LSB-first packing, leading CLEAR and
    trailing END."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    table = {(i,): i for i in range(clear)}
    next_code, width = end + 1, min_code_size + 1
    out_bits: list[tuple[int, int]] = [(clear, width)]
    buf: tuple[int, ...] = ()
    for sym in indices:
        cand = buf + (sym,)
        if cand in table:
            buf = cand
            continue
        out_bits.append((table[buf], width))
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # width grows when the entry JUST ADDED lands at index 2^width
            # (the decoder grows when its next slot reaches 2^width — one
            # code later in the stream, which is exactly one entry earlier
            # in table time; see decode's rule)
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        buf = (sym,)
    if buf:
        out_bits.append((table[buf], width))
    out_bits.append((end, width))
    acc = nbits = 0
    data = bytearray()
    for code, w in out_bits:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    return bytes(data)


def _gif_encode(indices: list[int], palette: list[tuple[int, int, int]], w: int, h: int) -> bytes:
    import struct

    bits = max(2, (len(palette) - 1).bit_length())
    n = 1 << bits
    pal = b"".join(bytes(c) for c in palette) + b"\x00\x00\x00" * (n - len(palette))
    lzw = _gif_lzw_encode(bits, indices)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
        + pal
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        + bytes([bits]) + bytes(blocks)
        + b"\x3b"
    )


def _bmp_encode(rows_rgb: list[list[tuple[int, int, int]]]) -> bytes:
    """24-bit uncompressed BMP from top-down RGB rows (stored bottom-up)."""
    import struct

    h, w = len(rows_rgb), len(rows_rgb[0])
    stride = ((w * 3 + 3) // 4) * 4
    raster = bytearray()
    for row in reversed(rows_rgb):
        line = bytearray()
        for r, g, b in row:
            line += bytes([b, g, r])
        line += b"\x00" * (stride - len(line))
        raster += line
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
        + bytes(raster)
    )


def test_multimodal_bmp_and_gif_decode(spark) -> None:
    """The stdlib BMP and GIF decoders recover exact pixel stats — BMP
    against a spec-built fixture, GIF against BOTH an independent LZW
    compressor round-trip AND a canonical real-world artifact (the 1x1
    transparent GIF) — with mime gating and stub fallback intact."""
    import base64
    import random

    # real-world anchor: the ubiquitous 1x1 transparent GIF, pixel (0,0,0)
    gif1 = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
    )
    f = MM.decode_features(gif1, "image/gif")
    assert f[:8] == [1e-4, 1e-4, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0]

    rng = random.Random(11)
    w, h = 7, 5
    palette = [(rng.randrange(256), rng.randrange(256), rng.randrange(256)) for _ in range(16)]
    idx = [rng.randrange(16) for _ in range(w * h)]
    gif = _gif_encode(idx, palette, w, h)
    rows = [[palette[idx[y * w + x]] for x in range(w)] for y in range(h)]
    bmp = _bmp_encode(rows)

    def expect():
        rs = [palette[i][0] for i in idx]
        gs = [palette[i][1] for i in idx]
        bs = [palette[i][2] for i in idx]
        npx = w * h
        rm, gm, bm = (sum(c) / npx / 255.0 for c in (rs, gs, bs))
        lumas = [
            (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
            for r, g, b in zip(rs, gs, bs)
        ]
        lm = sum(lumas) / npx
        lv = sum((x - lm) ** 2 for x in lumas) / npx
        return [w / 1e4, h / 1e4, 1.0, rm, gm, bm, lm, lv]

    want = expect()
    for payload, mime in ((gif, "image/gif"), (bmp, "image/bmp")):
        got = MM.decode_features(payload, mime)
        assert all(abs(a - b) < 1e-12 for a, b in zip(got, want)), mime
        # octet-stream declaration stays on the stub (histogram sums to 1)
        stub = MM.decode_features(payload, "application/octet-stream")
        assert abs(sum(stub) - 1.0) < 1e-6

    # interlaced GIF falls back to the stub (flag bit 0x40 in the image
    # descriptor packed byte — flip it in the encoded fixture)
    desc = gif.index(b"\x2c")
    bad = gif[: desc + 9] + bytes([gif[desc + 9] | 0x40]) + gif[desc + 10 :]
    assert abs(sum(MM.decode_features(bad, "image/gif")) - 1.0) < 1e-6

    # through the Arrow plumbing
    media = spark.createDataFrame(
        [(1, gif, "image/gif"), (2, bmp, "image/bmp")],
        "media_id long, payload binary, mime string",
    ).select(
        "media_id",
        "payload",
        F.struct(
            F.col("mime").alias("mime"),
            F.lit(0).cast("int").alias("width"),
            F.lit(0).cast("int").alias("height"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    arrow = {r.media_id: list(r.feature) for r in MM.extract_features(media).collect()}
    for mid in (1, 2):
        assert all(abs(a - b) < 1e-6 for a, b in zip(arrow[mid], want)), mid


def _jpeg_encode_baseline(rows, gray: bool, sampling=None, restart_interval=0) -> bytes:
    """Independent baseline-JFIF encoder for the decoder test: level shift,
    float FDCT, all-ones quant tables (near-lossless), flat canonical
    Huffman tables (12 DC symbols at length 4; all 162 standard AC symbols
    at length 8), interleaved MCUs with per-component ``sampling`` factors
    (default 1x1 each = 4:4:4; [(2,2),(1,1),(1,1)] = 4:2:0 with box-mean
    chroma downsample), byte stuffing, and optional DRI/RSTn restart
    markers every ``restart_interval`` MCUs (byte-aligned, DC predictors
    reset, marker number cycling D0..D7).  ``rows`` is height x width of
    ints (gray) or (r, g, b) tuples."""
    import math
    import struct

    h, w = len(rows), len(rows[0])
    if gray:
        planes = [[[float(v) for v in row] for row in rows]]
    else:
        y_p, cb_p, cr_p = [], [], []
        for row in rows:
            yr, cbr, crr = [], [], []
            for r, g, b in row:
                yr.append(0.299 * r + 0.587 * g + 0.114 * b)
                cbr.append(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0)
                crr.append(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0)
            y_p.append(yr)
            cb_p.append(cbr)
            cr_p.append(crr)
        planes = [y_p, cb_p, cr_p]
    sampling = sampling or [(1, 1)] * len(planes)
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    if (hmax, vmax) != (1, 1):
        # downsample each plane to its sampled resolution by box mean
        ds = []
        for plane, (sh, sv) in zip(planes, sampling):
            fx, fy = hmax // sh, vmax // sv
            pw = (w + fx - 1) // fx
            ph = (h + fy - 1) // fy
            out = []
            for yy in range(ph):
                row = []
                for xx in range(pw):
                    vals = [
                        plane[min(yy * fy + dy, h - 1)][min(xx * fx + dx, w - 1)]
                        for dy in range(fy)
                        for dx in range(fx)
                    ]
                    row.append(sum(vals) / len(vals))
                out.append(row)
            ds.append(out)
        planes = ds

    dc_bits = [0] * 16
    dc_bits[3] = 12  # 12 symbols, all length 4
    dc_vals = list(range(12))
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_syms)  # all length 8
    dc_codes = {v: (4, i) for i, v in enumerate(dc_vals)}
    ac_codes = {v: (8, i) for i, v in enumerate(ac_syms)}

    def fdct(block):
        c = [1.0 / math.sqrt(2.0)] + [1.0] * 7
        out = [0] * 64
        for v in range(8):
            for u in range(8):
                s = 0.0
                for y in range(8):
                    for x in range(8):
                        s += (
                            block[y][x]
                            * math.cos((2 * x + 1) * u * math.pi / 16)
                            * math.cos((2 * y + 1) * v * math.pi / 16)
                        )
                out[v * 8 + u] = int(round(s * c[u] * c[v] / 4.0))
        return out

    out_bits: list[int] = []

    def emit(length, code):
        for i in range(length - 1, -1, -1):
            out_bits.append((code >> i) & 1)

    def mag_bits(v):
        t = abs(v).bit_length()
        raw = v if v >= 0 else v + (1 << t) - 1
        return t, raw

    zz = MM._JPEG_ZIGZAG
    pred = [0] * len(planes)

    def encode_block(plane, ci, by, bx):
        ph, pw = len(plane), len(plane[0])
        block = [
            [
                plane[min(by * 8 + yy, ph - 1)][min(bx * 8 + xx, pw - 1)]
                - 128.0
                for xx in range(8)
            ]
            for yy in range(8)
        ]
        coefs = fdct(block)
        zzc = [coefs[zz[k]] for k in range(64)]
        t, raw = mag_bits(zzc[0] - pred[ci])
        pred[ci] = zzc[0]
        emit(*dc_codes[t])
        emit(t, raw)
        k, run = 1, 0
        while k < 64:
            if zzc[k] == 0:
                run += 1
                k += 1
                continue
            while run >= 16:
                emit(*ac_codes[0xF0])
                run -= 16
            t, raw = mag_bits(zzc[k])
            emit(*ac_codes[(run << 4) | t])
            emit(t, raw)
            run = 0
            k += 1
        if run:
            emit(*ac_codes[0x00])

    scan = bytearray()

    def flush_bits() -> None:
        while len(out_bits) % 8:
            out_bits.append(1)  # pad with 1s per T.81
        for i in range(0, len(out_bits), 8):
            b = 0
            for bit in out_bits[i : i + 8]:
                b = (b << 1) | bit
            scan.append(b)
            if b == 0xFF:
                scan.append(0x00)  # byte stuffing
        out_bits.clear()

    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    n_mcu = mcux * mcuy
    mcu_i = 0
    rst_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, plane in enumerate(planes):
                sh, sv = sampling[ci]
                for bv in range(sv):
                    for bhh in range(sh):
                        encode_block(plane, ci, my * sv + bv, mx * sh + bhh)
            mcu_i += 1
            if (
                restart_interval
                and mcu_i % restart_interval == 0
                and mcu_i < n_mcu
            ):
                flush_bits()
                scan.extend([0xFF, 0xD0 + rst_n])
                rst_n = (rst_n + 1) % 8
                for ci in range(len(pred)):
                    pred[ci] = 0
    flush_bits()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    nc = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, nc) + b"".join(
        bytes([cid + 1, (sampling[cid][0] << 4) | sampling[cid][1], 0])
        for cid in range(nc)
    )
    dht = (
        bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_syms)
    )
    sos = bytes([nc]) + b"".join(bytes([cid + 1, 0x00]) for cid in range(nc)) + b"\x00\x3f\x00"
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    return (
        b"\xff\xd8"
        + seg(0xDB, bytes([0x00]) + bytes([1] * 64))
        + seg(0xC0, sof)
        + seg(0xC4, dht)
        + dri
        + seg(0xDA, sos)
        + bytes(scan)
        + b"\xff\xd9"
    )


def _jpeg_encode_progressive(rows, gray: bool, sampling=None, sa=False) -> bytes:
    """Independent PROGRESSIVE (SOF2) encoder for the decoder test.
    Same pixel pipeline as the baseline test encoder (level shift, float
    FDCT, unit quant, flat Huffman tables, box-mean chroma downsample)
    but emitted as progressive scans:

    - ``sa=False`` — spectral selection only: one DC scan (interleaved
      when color), then per-component AC band scans (1..5, then 6..63).
    - ``sa=True`` — successive approximation: DC first at Al=1, AC first
      scans at Al=1, then a DC refinement (Ah=1, one bit per block) and
      per-component AC refinement scans (Ah=1 -> Al=0) with the T.81
      G.1.2.3 correction-bit emission.

    Both forms carry EXACTLY the information of the sequential encoding,
    so the decoder must reconstruct bit-identical coefficients."""
    import math
    import struct

    h, w = len(rows), len(rows[0])
    if gray:
        planes = [[[float(v) for v in row] for row in rows]]
    else:
        y_p, cb_p, cr_p = [], [], []
        for row in rows:
            yr, cbr, crr = [], [], []
            for r, g, b in row:
                yr.append(0.299 * r + 0.587 * g + 0.114 * b)
                cbr.append(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0)
                crr.append(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0)
            y_p.append(yr)
            cb_p.append(cbr)
            cr_p.append(crr)
        planes = [y_p, cb_p, cr_p]
    sampling = sampling or [(1, 1)] * len(planes)
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    if (hmax, vmax) != (1, 1):
        ds = []
        for plane, (sh, sv) in zip(planes, sampling):
            fx, fy = hmax // sh, vmax // sv
            pw = (w + fx - 1) // fx
            ph = (h + fy - 1) // fy
            out = []
            for yy in range(ph):
                out.append(
                    [
                        sum(
                            plane[min(yy * fy + dy, h - 1)][min(xx * fx + dx, w - 1)]
                            for dy in range(fy)
                            for dx in range(fx)
                        )
                        / (fx * fy)
                        for xx in range(pw)
                    ]
                )
            ds.append(out)
        planes = ds

    def fdct(block):
        c = [1.0 / math.sqrt(2.0)] + [1.0] * 7
        out = [0] * 64
        for v in range(8):
            for u in range(8):
                s = 0.0
                for y in range(8):
                    for x in range(8):
                        s += (
                            block[y][x]
                            * math.cos((2 * x + 1) * u * math.pi / 16)
                            * math.cos((2 * y + 1) * v * math.pi / 16)
                        )
                out[v * 8 + u] = int(round(s * c[u] * c[v] / 4.0))
        return out

    zz = MM._JPEG_ZIGZAG
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # all zigzag coefficient blocks up front, on each comp's INTERLEAVED
    # grid (DC scans cover MCU-padding blocks; AC scans only the comp grid)
    blocks = []
    for ci, plane in enumerate(planes):
        sh, sv = sampling[ci]
        ph, pw = len(plane), len(plane[0])
        grid = []
        for by in range(mcuy * sv):
            grow = []
            for bx in range(mcux * sh):
                blk = [
                    [
                        plane[min(by * 8 + yy, ph - 1)][min(bx * 8 + xx, pw - 1)]
                        - 128.0
                        for xx in range(8)
                    ]
                    for yy in range(8)
                ]
                coefs = fdct(blk)
                grow.append([coefs[zz[k]] for k in range(64)])
            grid.append(grow)
        blocks.append(grid)

    dc_bits = [0] * 16
    dc_bits[3] = 12
    dc_vals = list(range(12))
    ac_syms = [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_syms)
    dc_codes = {v: (4, i) for i, v in enumerate(dc_vals)}
    ac_codes = {v: (8, i) for i, v in enumerate(ac_syms)}

    out_bits: list[int] = []

    def emit(length, code):
        for i in range(length - 1, -1, -1):
            out_bits.append((code >> i) & 1)

    def mag_bits(v):
        t = abs(v).bit_length()
        return t, (v if v >= 0 else v + (1 << t) - 1)

    def flush_scan() -> bytes:
        while len(out_bits) % 8:
            out_bits.append(1)
        scan = bytearray()
        for i in range(0, len(out_bits), 8):
            b = 0
            for bit in out_bits[i : i + 8]:
                b = (b << 1) | bit
            scan.append(b)
            if b == 0xFF:
                scan.append(0x00)
        out_bits.clear()
        return bytes(scan)

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def sos(comp_ids, ss, se, ah, al):
        body = bytes([len(comp_ids)]) + b"".join(
            bytes([cid + 1, 0x00]) for cid in comp_ids
        ) + bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body)

    nc = len(planes)
    pieces = []

    def dc_scan(al):
        pred = [0] * nc
        if nc == 1:
            order = [(0, by, bx) for by in range(len(blocks[0])) for bx in range(len(blocks[0][0]))]
        else:
            order = []
            for my in range(mcuy):
                for mx in range(mcux):
                    for ci in range(nc):
                        sh, sv = sampling[ci]
                        for bv in range(sv):
                            for bhh in range(sh):
                                order.append((ci, my * sv + bv, mx * sh + bhh))
        for ci, by, bx in order:
            t = blocks[ci][by][bx][0] >> al  # DC point transform: arith shift
            t_enc, pred[ci] = t - pred[ci], t
            s, raw = mag_bits(t_enc)
            emit(*dc_codes[s])
            emit(s, raw)
        pieces.append(sos(list(range(nc)), 0, 0, 0, al) + flush_scan())

    def dc_refine_scan(al):
        if nc == 1:
            order = [(0, by, bx) for by in range(len(blocks[0])) for bx in range(len(blocks[0][0]))]
        else:
            order = []
            for my in range(mcuy):
                for mx in range(mcux):
                    for ci in range(nc):
                        sh, sv = sampling[ci]
                        for bv in range(sv):
                            for bhh in range(sh):
                                order.append((ci, my * sv + bv, mx * sh + bhh))
        for ci, by, bx in order:
            out_bits.append((blocks[ci][by][bx][0] >> al) & 1)
        pieces.append(sos(list(range(nc)), 0, 0, al + 1, al) + flush_scan())

    def comp_grid(ci):
        sh, sv = sampling[ci]
        cw = (w * sh + hmax - 1) // hmax
        ch = (h * sv + vmax - 1) // vmax
        return (cw + 7) // 8, (ch + 7) // 8

    def ac_scan(ci, ss, se, al):
        bw, bh = comp_grid(ci)
        for by in range(bh):
            for bx in range(bw):
                zzc = blocks[ci][by][bx]
                k, run = ss, 0
                while k <= se:
                    c = zzc[k]
                    v = (abs(c) >> al) * (1 if c >= 0 else -1)
                    if v == 0:
                        run += 1
                        k += 1
                        continue
                    while run >= 16:
                        emit(*ac_codes[0xF0])
                        run -= 16
                    s, raw = mag_bits(v)
                    emit(*ac_codes[(run << 4) | s])
                    emit(s, raw)
                    run = 0
                    k += 1
                if run:
                    emit(*ac_codes[0x00])  # EOB (run of 1 block)
        pieces.append(sos([ci], ss, se, 0, al) + flush_scan())

    def ac_refine_scan(ci, ss, se, ah, al):
        bw, bh = comp_grid(ci)
        for by in range(bh):
            for bx in range(bw):
                zzc = blocks[ci][by][bx]
                r = 0
                corr: list[int] = []
                for k in range(ss, se + 1):
                    t = abs(zzc[k]) >> al
                    if t == 0:
                        r += 1
                        continue
                    if (abs(zzc[k]) >> ah) != 0:
                        # already significant: buffered correction bit
                        corr.append(t & 1)
                        continue
                    # newly significant (t must be 1 when ah == al+1)
                    while r >= 16:
                        emit(*ac_codes[0xF0])
                        for b in corr:
                            out_bits.append(b)
                        corr = []
                        r -= 16
                    emit(*ac_codes[(r << 4) | 1])
                    out_bits.append(1 if zzc[k] > 0 else 0)
                    for b in corr:
                        out_bits.append(b)
                    corr = []
                    r = 0
                if r or corr:
                    emit(*ac_codes[0x00])  # EOB (this block only)
                    for b in corr:
                        out_bits.append(b)
        pieces.append(sos([ci], ss, se, ah, al) + flush_scan())

    if sa:
        dc_scan(1)
        for ci in range(nc):
            ac_scan(ci, 1, 63, 1)
        dc_refine_scan(0)
        for ci in range(nc):
            ac_refine_scan(ci, 1, 63, 1, 0)
    else:
        dc_scan(0)
        for ci in range(nc):
            ac_scan(ci, 1, 5, 0)
            ac_scan(ci, 6, 63, 0)

    sof = struct.pack(">BHHB", 8, h, w, nc) + b"".join(
        bytes([cid + 1, (sampling[cid][0] << 4) | sampling[cid][1], 0])
        for cid in range(nc)
    )
    dht = (
        bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_syms)
    )
    return (
        b"\xff\xd8"
        + seg(0xDB, bytes([0x00]) + bytes([1] * 64))
        + seg(0xC2, sof)
        + seg(0xC4, dht)
        + b"".join(pieces)
        + b"\xff\xd9"
    )


def test_multimodal_jpeg_decode(spark) -> None:
    """The stdlib baseline-JPEG decoder vs an independent in-test encoder
    (the GIF/LZW test shape): a solid grayscale block decodes EXACTLY (DC
    coefficient only, lossless with unit quant tables), a random RGB image
    decodes within the float-FDCT/IDCT round-trip tolerance, mime gating
    and non-baseline fallback hold, and the decode runs through the same
    Arrow mapInPandas plumbing."""
    import random

    # exact path: solid gray 8x8 — DC only, unit quant => bit-exact
    solid = _jpeg_encode_baseline([[100] * 8 for _ in range(8)], gray=True)
    f = MM.decode_features(solid, "image/jpeg")
    v = 100 / 255.0
    want_luma = (0.299 + 0.587 + 0.114) * v
    assert f[0] == 8 / 1e4 and f[1] == 8 / 1e4
    assert all(abs(x - v) < 1e-12 for x in f[3:6])
    assert abs(f[6] - want_luma) < 1e-9 and f[7] < 1e-24

    # near-lossless path: random RGB 16x8, channel means within 2/255
    rng = random.Random(23)
    w, h = 16, 8
    rows = [
        [(rng.randrange(256), rng.randrange(256), rng.randrange(256)) for _ in range(w)]
        for _ in range(h)
    ]
    jpg = _jpeg_encode_baseline(rows, gray=False)
    got = MM.decode_features(jpg, "image/jpeg")
    npx = w * h
    for ch in range(3):
        mean = sum(px[ch] for row in rows for px in row) / npx / 255.0
        assert abs(got[3 + ch] - mean) < 2.0 / 255.0, (ch, got[3 + ch], mean)
    assert got[0] == w / 1e4 and got[1] == h / 1e4

    # octet-stream declaration stays on the stub; progressive SOF falls back
    stub = MM.decode_features(jpg, "application/octet-stream")
    assert abs(sum(stub) - 1.0) < 1e-6
    prog = jpg.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert abs(sum(MM.decode_features(prog, "image/jpeg")) - 1.0) < 1e-6

    # through the Arrow plumbing
    media = spark.createDataFrame(
        [(1, jpg, "image/jpeg")], "media_id long, payload binary, mime string"
    ).select(
        "media_id",
        "payload",
        F.struct(
            F.col("mime").alias("mime"),
            F.lit(0).cast("int").alias("width"),
            F.lit(0).cast("int").alias("height"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    arrow = list(MM.extract_features(media).collect()[0].feature)
    assert all(abs(a - b) < 1e-6 for a, b in zip(arrow, got))


def test_multimodal_jpeg_chroma_subsampling() -> None:
    """4:2:0 / 4:2:2 decode (the dominant real-world JPEG shapes) vs the
    independent in-test encoder: a solid-color 4:2:0 file decodes
    bit-exactly (DC-only blocks, unit quant), a luma-varying /
    constant-chroma image round-trips within FDCT tolerance and matches
    its own 4:4:4 encoding, 0xFF fill bytes between segments are legal
    padding (T.81), and factors beyond 2x2 still fall back to the stub."""
    import random

    s420 = [(2, 2), (1, 1), (1, 1)]
    s422 = [(2, 1), (1, 1), (1, 1)]

    # exact path: solid color 16x16 — every block DC-only => bit-exact,
    # chroma downsample is lossless on a constant plane
    solid_rows = [[(200, 64, 32)] * 16 for _ in range(16)]
    f = MM.decode_features(
        _jpeg_encode_baseline(solid_rows, gray=False, sampling=s420),
        "image/jpeg",
    )
    assert f[0] == 16 / 1e4 and f[1] == 16 / 1e4
    for ch, v in enumerate((200, 64, 32)):
        assert abs(f[3 + ch] - v / 255.0) < 1.5 / 255.0, (ch, f[3 + ch])

    # luma varies per pixel, chroma constant => the 2x2 box mean + nearest
    # upsample round-trips chroma losslessly; compare channel means
    rng = random.Random(7)
    rows = []
    for _ in range(16):
        row = []
        for _ in range(16):
            yv = rng.randrange(40, 216)
            # constant Cb/Cr: scale an RGB triple with fixed chroma offsets
            row.append((yv, yv, yv))  # gray pixels: Cb=Cr=128 exactly
        rows.append(row)
    for sampling in (s420, s422):
        got = MM.decode_features(
            _jpeg_encode_baseline(rows, gray=False, sampling=sampling),
            "image/jpeg",
        )
        ref = MM.decode_features(
            _jpeg_encode_baseline(rows, gray=False), "image/jpeg"
        )
        npx = 256
        for ch in range(3):
            mean = sum(px[ch] for row in rows for px in row) / npx / 255.0
            assert abs(got[3 + ch] - mean) < 2.0 / 255.0, (sampling, ch)
            assert abs(got[3 + ch] - ref[3 + ch]) < 2.0 / 255.0, (sampling, ch)

    # 0xFF fill bytes before a marker are padding, not part of the code
    jpg = _jpeg_encode_baseline(rows, gray=False, sampling=s420)
    padded = jpg.replace(b"\xff\xdb", b"\xff\xff\xff\xdb", 1)
    assert MM.decode_features(padded, "image/jpeg") == MM.decode_features(
        jpg, "image/jpeg"
    )

    # 4:1:1 (h=4): the MCU walk / plane grids / upsample are generic in
    # (h, v), so it decodes like the 2x2 forms (T.81 allows factors 1..4)
    s411 = [(4, 1), (1, 1), (1, 1)]
    got = MM.decode_features(
        _jpeg_encode_baseline(rows, gray=False, sampling=s411), "image/jpeg"
    )
    ref = MM.decode_features(_jpeg_encode_baseline(rows, gray=False), "image/jpeg")
    for ch in range(3):
        assert abs(got[3 + ch] - ref[3 + ch]) < 2.0 / 255.0, ch

    # factors beyond 4 stay honestly on the stub
    s811 = _jpeg_encode_baseline(rows, gray=False, sampling=[(8, 1), (1, 1), (1, 1)])
    assert abs(sum(MM.decode_features(s811, "image/jpeg")) - 1.0) < 1e-6


def test_multimodal_jpeg_restart_intervals() -> None:
    """DRI/RSTn streams (what hardware encoders and libjpeg's error
    resilience mode emit) decode IDENTICALLY to the same image encoded
    without restarts: the reader byte-aligns at every RSTn, resets the DC
    predictors, and enforces D0..D7 cycling.  Covered across interleaved
    4:4:4 / 4:2:0, grayscale non-interleaved (one block per MCU), and an
    interval that does NOT divide the MCU count (no trailing RST)."""
    import random

    rng = random.Random(11)
    rows = [
        [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
         for _ in range(24)]
        for _ in range(24)
    ]
    gray_rows = [[rng.randrange(256) for _ in range(24)] for _ in range(24)]
    s420 = [(2, 2), (1, 1), (1, 1)]

    # 4:4:4 24x24 = 9 MCUs: ri=2 exercises D0..D3 and a ragged tail
    for kwargs in (
        dict(gray=False),                      # 9 MCUs
        dict(gray=False, sampling=s420),       # 4 MCUs (16x16 MCU grid)
    ):
        plain = _jpeg_encode_baseline(rows, **kwargs)
        for ri in (1, 2, 4):
            rst = _jpeg_encode_baseline(rows, restart_interval=ri, **kwargs)
            assert b"\xff\xdd" in rst and rst != plain
            assert MM.decode_features(rst, "image/jpeg") == MM.decode_features(
                plain, "image/jpeg"
            ), (kwargs, ri)

    # grayscale: non-interleaved scan, MCU = single block (9 blocks)
    plain = _jpeg_encode_baseline(gray_rows, gray=True)
    for ri in (1, 4):
        rst = _jpeg_encode_baseline(gray_rows, gray=True, restart_interval=ri)
        assert MM.decode_features(rst, "image/jpeg") == MM.decode_features(
            plain, "image/jpeg"
        ), ri

    # out-of-sequence restart marker -> honest stub fallback, not garbage
    rst = _jpeg_encode_baseline(rows, gray=False, restart_interval=2)
    pos = rst.index(b"\xff\xd0")
    broken = rst[:pos] + b"\xff\xd3" + rst[pos + 2:]
    stub = MM.decode_features(broken, "image/jpeg")
    assert abs(sum(stub) - 1.0) < 1e-6  # histogram stub signature


def test_multimodal_jpeg_progressive() -> None:
    """Progressive (SOF2) decode vs the independent progressive test
    encoder: both progressive forms carry exactly the sequential
    encoding's coefficients, so every variant must decode bit-identically
    to the SAME image's baseline encoding — across spectral-selection-only
    and full successive-approximation scan scripts, grayscale and color,
    4:4:4 and 4:2:0 (where the luma AC scans do not cover the MCU padding
    blocks that the interleaved DC scan does)."""
    import random

    rng = random.Random(23)
    rows = [
        [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
         for _ in range(24)]
        for _ in range(24)
    ]
    gray_rows = [[rng.randrange(256) for _ in range(24)] for _ in range(24)]
    s420 = [(2, 2), (1, 1), (1, 1)]

    for kwargs in (
        dict(gray=False),
        dict(gray=False, sampling=s420),
    ):
        want = MM.decode_features(
            _jpeg_encode_baseline(rows, **kwargs), "image/jpeg"
        )
        for sa in (False, True):
            got = MM.decode_features(
                _jpeg_encode_progressive(rows, sa=sa, **kwargs), "image/jpeg"
            )
            assert got == want, (kwargs, sa)

    want = MM.decode_features(
        _jpeg_encode_baseline(gray_rows, gray=True), "image/jpeg"
    )
    for sa in (False, True):
        got = MM.decode_features(
            _jpeg_encode_progressive(gray_rows, gray=True, sa=sa), "image/jpeg"
        )
        assert got == want, sa

    # a solid image: AC bands are all-zero -> pure EOB streams, DC-only
    solid = [[(200, 64, 32)] * 16 for _ in range(16)]
    assert MM.decode_features(
        _jpeg_encode_progressive(solid, gray=False, sampling=s420), "image/jpeg"
    ) == MM.decode_features(
        _jpeg_encode_baseline(solid, gray=False, sampling=s420), "image/jpeg"
    )


def test_gif_lzw_roundtrip_through_width_growth() -> None:
    """The LZW pair (independent test encoder vs product decoder) stays in
    sync across every code-width growth up to the 4096-entry cap."""
    import random

    for seed, n, ncol in ((1, 4000, 4), (2, 20000, 8), (3, 60000, 2)):
        rng = random.Random(seed)
        mcs = max(2, (ncol - 1).bit_length())
        idx = [rng.randrange(ncol) for _ in range(n)]
        assert MM._gif_lzw_decode(mcs, _gif_lzw_encode(mcs, idx)) == idx


def test_index_layout_guards(spark, tmp_path) -> None:
    """Build, append and streamed ingest land slices of one layout
    (cell=N/batch_id=M; tbucket likewise), so they mix on one path: a
    build followed by an ingest, and an ingest followed by an append,
    each answer as a fresh build of the same rows does."""
    from nqs_console_flink_window_spark.operators import retrieval as RT

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    old = emb.filter("vec_id < 100")
    new = emb.filter("vec_id >= 100 AND vec_id < 110")
    qvec = [float(x) for x in emb.filter("vec_id = 105").first()["embedding"]]

    def ivf_top(path):
        return [tuple(r) for r in SIM.ivf_topk_indexed(spark, path, qvec).collect()]

    # IVF: the fresh index routes the same rows through the same quantizer
    fresh = str(tmp_path / "ivf_fresh")
    SIM.ivf_fit_centroids(old, fresh)
    SIM.ivf_index_ingest_batch(spark, old.unionByName(new), 0, fresh)
    built = str(tmp_path / "ivf_built")
    SIM.build_ivf_index(old, built)
    SIM.ivf_index_ingest_batch(spark, new, 0, built)
    streamed = str(tmp_path / "ivf_stream")
    SIM.ivf_fit_centroids(old, streamed)
    SIM.ivf_index_ingest_batch(spark, old, 0, streamed)
    SIM.ivf_index_append(spark, streamed, new)
    want = ivf_top(fresh)
    assert want and ivf_top(built) == want and ivf_top(streamed) == want

    # text index: the fresh build holds the same docs
    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    dold = docs.filter("doc_id < 100")
    dnew = docs.filter("doc_id >= 100 AND doc_id < 110")
    tfresh = str(tmp_path / "ti_fresh")
    RT.build_text_index(spark, docs.filter("doc_id < 110"), tfresh)
    tbuilt = str(tmp_path / "ti_built")
    RT.build_text_index(spark, dold, tbuilt)
    RT.text_index_ingest_batch(spark, dnew, 0, tbuilt)
    tstream = str(tmp_path / "ti_stream")
    RT.text_index_ingest_batch(spark, dold, 0, tstream)
    RT.text_index_append(spark, tstream, dnew)

    def answers(path):
        return (
            [tuple(r) for r in RT.bm25_topk_indexed(spark, path).collect()],
            [tuple(r) for r in RT.hybrid_rrf_multi_indexed(spark, path).collect()],
        )

    twant = answers(tfresh)
    assert twant[0] and twant[1]
    assert answers(tbuilt) == twant and answers(tstream) == twant


def test_fresh_doc_id_probe_is_pushed_down(spark, tmp_path) -> None:
    """The cross-batch doc_id-uniqueness probe must cost batch-scale, not
    index-scale: for bounded batches the ids inline as an IN-list filter
    (pushed down to the doclen parquet scan), and the probe still catches
    a re-ingested doc_id."""
    from nqs_console_flink_window_spark.operators import retrieval as RT

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    path = str(tmp_path / "ti")
    RT.build_text_index(spark, docs.filter("doc_id < 50"), path)
    # clean append passes; replayed doc_id raises via the IN-list path
    RT.text_index_append(spark, path, docs.filter("doc_id >= 50 AND doc_id < 60"))
    with pytest.raises(ValueError, match="re-ingests"):
        RT.text_index_append(
            spark, path, docs.filter("doc_id >= 55 AND doc_id < 65")
        )
    # the probe plan carries the pushed-down IN filter, not a join
    existing = spark.read.parquet(f"{path}.doclen").filter(
        F.col("doc_id").isin([55, 56, 57])
    )
    plan = existing._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(doc_id" in plan, plan


def test_decode_features_never_raises_fuzz() -> None:
    """The dispatch contract a Spark stage depends on: decode_features
    must NEVER raise on bytes — any malformed/truncated/corrupted payload
    falls back to the deterministic stub (an exception here would kill
    the whole mapInPandas task, failing the stage for one bad file).
    Fuzzed with magic-prefixed garbage (exercises every real decoder's
    error paths) and bit-flipped VALID encodings (exercises mid-decode
    failures: bad Huffman codes, truncated scans, CRC-less chaos)."""
    import random

    from hypothesis import given, settings
    from hypothesis import strategies as st

    magics = [
        b"", b"\xff\xd8", b"\xff\xd8\xff\xe0", b"BM", b"GIF87a", b"GIF89a",
        b"P6 ", b"\x89PNG\r\n\x1a\n", b"RIFF1234WAVE",
        b"RIFF1234AVI ", b"RIFF\xff\xff\xff\xffAVI ",
    ]

    @settings(max_examples=120, deadline=None)
    @given(
        st.sampled_from(magics),
        st.binary(min_size=0, max_size=400),
        st.sampled_from(
            ["image/jpeg", "image/png", "audio/wav", "video/x-msvideo", None]
        ),
    )
    def fuzz(prefix, tail, mime):
        out = MM.decode_features(prefix + tail, mime)
        assert isinstance(out, list) and len(out) == MM.FEATURE_DIM
        assert all(isinstance(v, float) for v in out)

    fuzz()

    # bit-flip a valid JPEG at every 37th byte position: mid-decode
    # failures (not just header rejection) must also fall back, and the
    # flips that DO decode must still produce the fixed layout
    rows = [[(60, 120, 180)] * 8 for _ in range(8)]
    jpg = bytearray(_jpeg_encode_baseline(rows, gray=False))
    rng = random.Random(3)
    for pos in range(2, len(jpg), 37):
        mut = bytearray(jpg)
        mut[pos] ^= 1 << rng.randrange(8)
        out = MM.decode_features(bytes(mut), "image/jpeg")
        assert len(out) == MM.FEATURE_DIM


def test_ivf_multi_indexed_parity_and_pruning(spark, tmp_path) -> None:
    """ivf_multi_indexed == ivf_multi bit-for-bit on the same corpus (the
    persisted centroids ARE the online fit's centroids), and the indexed
    scan reads ONLY the union of the queries' probe cells — partition
    pruning at the file listing, the path that makes multi-query ANN
    |Q| x nprobe cell scans instead of an O(corpus) assignment pass."""
    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    queries = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).collect()
    }
    corpus = emb.filter(F.col("vec_id") >= 4)
    idx = str(tmp_path / "ivf_multi_idx")
    SIM.build_ivf_index(corpus, idx)

    def rows(df):
        return [
            (r["query_id"], r["vec_id"], r["cell"], round(r["cosine"], 9), r["rank"])
            for r in df.collect()
        ]

    online = rows(SIM.ivf_multi(corpus, queries, k=10))
    indexed_df = SIM.ivf_multi_indexed(spark, idx, queries, k=10)
    assert rows(indexed_df) == online and online

    # pruning: only probed-cell files are listed
    import numpy as np

    cent = {
        r["cell"]: np.asarray(r["centroid"])
        for r in spark.read.parquet(f"{idx}.centroids").collect()
    }
    probe = set()
    for qv in queries.values():
        qa = np.asarray(qv)
        d2 = {c: float(((v - qa) ** 2).sum()) for c, v in cent.items()}
        probe |= set(sorted(d2, key=d2.get)[: SIM.IVF_NPROBE])
    import contextlib
    import io

    pruned = spark.read.parquet(idx).filter(F.col("cell").isin(sorted(probe)))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert (
        "PartitionFilters" in plan
        and "cell" in plan.split("PartitionFilters", 1)[1].splitlines()[0]
    ), plan
    # physically only probed-cell rows, and every result row is probed
    assert {
        r["cell"] for r in pruned.select("cell").distinct().collect()
    } <= probe
    assert {r["cell"] for r in indexed_df.collect()} <= probe


def test_ivf_multi_indexed_on_streamed_layout(spark, tmp_path) -> None:
    """The multi-query indexed search works unchanged on the STREAMED
    (cell/batch_id) layout: quantizer bootstrapped via ivf_fit_centroids,
    two ingest landings, results bit-identical to the online ivf_multi
    over the same corpus (same fit sample -> same centroids -> same
    routing and scoring)."""
    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    queries = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).collect()
    }
    corpus = emb.filter(F.col("vec_id") >= 4)
    idx = str(tmp_path / "ivf_streamed")
    SIM.ivf_fit_centroids(corpus, idx)
    SIM.ivf_index_ingest_batch(spark, corpus.filter("vec_id % 2 = 0"), 0, idx)
    SIM.ivf_index_ingest_batch(spark, corpus.filter("vec_id % 2 = 1"), 1, idx)

    def rows(df):
        return [
            (r["query_id"], r["vec_id"], r["cell"], round(r["cosine"], 9), r["rank"])
            for r in df.collect()
        ]

    online = rows(SIM.ivf_multi(corpus, queries, k=10))
    assert rows(SIM.ivf_multi_indexed(spark, idx, queries, k=10)) == online
    assert online
    # and still identical after compaction folds the landings
    SIM.compact_streamed_ivf_index(spark, idx, upto_batch_id=5)
    assert rows(SIM.ivf_multi_indexed(spark, idx, queries, k=10)) == online


def _warc_record(rtype: str, uri: str, body: bytes, http: bool = False) -> bytes:
    if http:
        body = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n"
            b"\r\n" + body
        )
    head = (
        b"WARC/1.0\r\n"
        + b"WARC-Type: " + rtype.encode() + b"\r\n"
        + b"WARC-Target-URI: " + uri.encode() + b"\r\n"
        + b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        + (b"Content-Type: application/http; msgtype=response\r\n" if http
           else b"Content-Type: application/warc-fields\r\n")
        + b"Content-Length: " + str(len(body)).encode() + b"\r\n"
    )
    return head + b"\r\n" + body + b"\r\n\r\n"


def test_warc_parse_and_html_extract(spark, tmp_path) -> None:
    """WARC ingestion end to end: a crafted 3-record archive (HTTP
    response, request, warcinfo) parses via the distributed binaryFile ->
    mapInPandas path with HTTP headers split off; the per-record-gzip
    layout Common Crawl ships decodes identically; html_to_text drops
    script/nav/footer boilerplate, unescapes entities, captures <title>;
    trailing garbage raises (a corrupt crawl file must not silently
    undercount)."""
    import gzip

    from nqs_console_flink_window_spark.operators import web as WB

    html = (
        b"<html><head><title>T1</title><script>no()</script></head>"
        b"<body><nav>menu</nav><p>Hello &amp; <b>world</b>!</p>"
        b"<footer>f</footer></body></html>"
    )
    plain = (
        _warc_record("warcinfo", "", b"software: test\r\n")
        + _warc_record("response", "http://a.example/x", html, http=True)
        + _warc_record("request", "http://a.example/x", b"GET /x HTTP/1.1\r\n")
    )
    # Common Crawl layout: one gzip member PER record, concatenated
    gz = b"".join(
        gzip.compress(_warc_record(*args, **kw))
        for args, kw in (
            (("warcinfo", "", b"software: test\r\n"), {}),
            (("response", "http://a.example/x", html), {"http": True}),
            (("request", "http://a.example/x", b"GET /x HTTP/1.1\r\n"), {}),
        )
    )
    (tmp_path / "a.warc").write_bytes(plain)
    (tmp_path / "b.warc.gz").write_bytes(gz)

    files = spark.read.format("binaryFile").load(str(tmp_path))
    rows = WB.warc_records(files).collect()
    assert len(rows) == 6
    by_file = {}
    for r in rows:
        by_file.setdefault(r["path"].rsplit("/", 1)[-1], []).append(r)
    for recs in by_file.values():
        resp = [r for r in recs if r["record_type"] == "response"]
        assert len(resp) == 1
        r = resp[0]
        assert r["target_uri"] == "http://a.example/x"
        assert r["http_status"] == 200
        assert r["content_type"].startswith("text/html")
        assert bytes(r["body"]) == html
    # plain and gzip parse bit-identically
    a = sorted((r["record_type"], bytes(r["body"])) for r in by_file["a.warc"])
    b = sorted((r["record_type"], bytes(r["body"])) for r in by_file["b.warc.gz"])
    assert a == b

    title, text, robots, canonical = WB.html_to_text(html.decode())
    assert title == "T1"
    assert text == "Hello & world!"
    assert robots == "" and canonical == ""
    _, _, robots, canonical = WB.html_to_text(
        '<head><meta name="robots" content="noindex,nofollow">'
        '<link rel="canonical" href="https://c.example/p"></head>'
        "<body>x</body>"
    )
    assert robots == "noindex,nofollow"
    assert canonical == "https://c.example/p"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        WB.parse_warc_bytes(plain + b"garbage-after-records")


def test_index_compliance_deletion(spark, tmp_path) -> None:
    """Right-to-be-forgotten across both indexes: delete-in-place must be
    INDISTINGUISHABLE from never having indexed the docs/vectors.

    - text index, flat AND streamed layouts: bm25_topk_indexed over the
      deleted index == over an index built from the filtered corpus
      (N/T/df all shrink — scores, not just membership, must match);
    - vector index: ivf_topk_indexed over the deleted index == over a
      centroid-preserving rebuild (fit on the ORIGINAL corpus, append the
      filtered vectors — deletion never re-fits); a fully-emptied cell's
      directory disappears;
    - idempotent: re-deleting the same ids changes nothing."""
    from nqs_console_flink_window_spark.operators import retrieval as RT

    docs = load_table(spark, SMOKE_SF_DIR, "documents").filter("doc_id < 120")
    gone = [3, 50, 111]
    kept_docs = docs.filter(~F.col("doc_id").isin(gone))

    def bm25_rows(path):
        return [
            (r["doc_id"], r["score_bm25"])
            for r in RT.bm25_topk_indexed(spark, path).collect()
        ]

    # flat layout
    flat = str(tmp_path / "ti_flat")
    RT.build_text_index(spark, docs, flat)
    RT.text_index_delete(spark, flat, gone)
    ref = str(tmp_path / "ti_ref")
    RT.build_text_index(spark, kept_docs, ref)
    want = bm25_rows(ref)
    assert bm25_rows(flat) == want and want
    RT.text_index_delete(spark, flat, gone)  # idempotent
    assert bm25_rows(flat) == want
    n_docs = spark.read.parquet(f"{flat}.stats").first()["n_docs"]
    assert n_docs == kept_docs.count()

    # streamed layout: ids spanning both batches
    stream = str(tmp_path / "ti_stream")
    RT.text_index_ingest_batch(spark, docs.filter("doc_id % 2 = 0"), 0, stream)
    RT.text_index_ingest_batch(spark, docs.filter("doc_id % 2 = 1"), 1, stream)
    RT.text_index_delete(spark, stream, gone)
    assert bm25_rows(stream) == want

    # vector index
    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    qvec = [0.25] * dim
    idx = str(tmp_path / "ivf")
    SIM.build_ivf_index(emb, idx)
    vgone = [7, 42, 99]
    SIM.ivf_index_delete(spark, idx, vgone)
    vref = str(tmp_path / "ivf_ref")
    SIM.ivf_fit_centroids(emb, vref)  # ORIGINAL corpus centroids
    SIM.ivf_index_append(spark, vref, emb.filter(~F.col("vec_id").isin(vgone)))
    want_v = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in SIM.ivf_topk_indexed(spark, vref, qvec, k=10).collect()
    ]
    got_v = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in SIM.ivf_topk_indexed(spark, idx, qvec, k=10).collect()
    ]
    assert got_v == want_v and want_v

    # empty an entire cell: its directory must disappear, reads survive
    from pathlib import Path

    assigned, _ = SIM.ivf_assignments(emb)
    acell = assigned.select("cell").first()["cell"]
    cell_ids = [
        r["vec_id"]
        for r in assigned.filter(F.col("cell") == acell).select("vec_id").collect()
    ]
    SIM.ivf_index_delete(spark, idx, cell_ids)
    assert not (Path(idx) / f"cell={acell}").exists()
    assert spark.read.parquet(idx).filter(F.col("cell") == acell).count() == 0


def test_delete_crash_recovery(spark, tmp_path) -> None:
    """The staged-commit delete survives a crash at every step:
    pre-commit (the staging is garbage — dataset untouched, a re-run
    completes) and post-commit, before and during the apply (roll
    forward — the next call finishes it; no kept row is lost, no deleted
    row survives), including a delete that empties a partition."""
    import pytest as _pytest

    from nqs_console_flink_window_spark.sinks import writers as W
    from tests.crash_points import crash_at

    def build(path):
        spark.createDataFrame(
            [(k, k % 3) for k in range(30)], "k long, p int"
        ).write.mode("overwrite").partitionBy("p").parquet(path)

    def keys(path):
        spark.catalog.refreshByPath(path)
        return sorted(r["k"] for r in spark.read.parquet(path).collect())

    # phase 1: staging exists, no manifest -> repair drops it, data intact
    p1 = str(tmp_path / "d1")
    build(p1)
    with crash_at("before_commit"):
        W.delete_rows_partitioned(spark, p1, "k", [1, 5, 9], ["p"])
    assert keys(p1) == list(range(30))  # untouched
    assert W.delete_rows_partitioned(spark, p1, "k", [1, 5, 9], ["p"])[0] == 3
    assert keys(p1) == [k for k in range(30) if k not in (1, 5, 9)]

    # phase 2: manifest committed, the apply crashes at each step -> the
    # next call rolls forward, then finds nothing left to delete
    for step in ("after_commit", "mid_move", "before_unlink"):
        p2 = str(tmp_path / f"d2_{step}")
        build(p2)
        with crash_at(step):
            W.delete_rows_partitioned(spark, p2, "k", [2, 5, 7], ["p"])
        assert W.delete_rows_partitioned(
            spark, p2, "k", [2, 5, 7], ["p"]
        ) == (0, 0)
        assert keys(p2) == [k for k in range(30) if k not in (2, 5, 7)]

    # phase 2b: emptying delete crashes post-commit; the roll-forward
    # still removes the whole partition directory
    p4 = str(tmp_path / "d4")
    build(p4)
    all_p0 = [k for k in range(30) if k % 3 == 0]
    with crash_at("after_commit"):
        W.delete_rows_partitioned(spark, p4, "k", all_p0, ["p"])
    assert W.delete_rows_partitioned(spark, p4, "k", all_p0, ["p"]) == (0, 0)
    from pathlib import Path

    assert not (Path(p4) / "p=0").exists()
    assert keys(p4) == [k for k in range(30) if k % 3 != 0]

    # misuse guard: the rewrite replaces whole partitions, so an
    # unpartitioned dataset is refused up front
    with _pytest.raises(ValueError, match="partition_cols"):
        W.delete_rows_partitioned(spark, p4, "k", [1], [])


def test_bulk_delete_semi_join_parity(spark, tmp_path) -> None:
    """r9-verdict item (writers.py delete_rows_partitioned): above
    ``_DELETE_INLIST`` the delete's hit/keep filters switch from a
    pushed-down IN-list to semi/anti joins against a distributed id
    frame (a multi-million-literal IN would blow up Catalyst's
    expression tree and defeat pushdown).  Parity at both sizes: same
    rows removed, same (affected, emptied) accounting, on a one- and a
    two-level partitioning; duplicate and string ids included; the
    manifest lists files, never the id payload; and the switch
    propagates through ``text_index_delete`` (which rides this core)."""
    import json

    import pytest as _pytest

    from nqs_console_flink_window_spark.sinks import writers as W

    def build(path, pcols):
        spark.createDataFrame(
            [(k, k % 3, k % 2) for k in range(40)], "k long, p int, q int"
        ).write.mode("overwrite").partitionBy(*pcols).parquet(path)

    def keys(path):
        return sorted(r["k"] for r in spark.read.parquet(path).collect())

    ids = [1, 5, 9, 33, 12, 5]  # repeated id: must not double-hit
    expect = [k for k in range(40) if k not in ids]
    for pcols, tag in ((["p"], "one"), (["p", "q"], "two")):
        inl = str(tmp_path / f"{tag}_in")
        blk = str(tmp_path / f"{tag}_blk")
        build(inl, pcols)
        build(blk, pcols)
        r_in = W.delete_rows_partitioned(spark, inl, "k", ids, pcols)
        captured = {}
        real_settle = W._settle

        def capture(root, _c=captured, _r=real_settle):
            man = root / W.REWRITE_MANIFEST
            if man.exists():
                _c.update(json.loads(man.read_text()))
            return _r(root)

        with _pytest.MonkeyPatch.context() as mp:
            mp.setattr(W, "_DELETE_INLIST", 3)  # force the bulk path
            mp.setattr(W, "_settle", capture)
            r_blk = W.delete_rows_partitioned(spark, blk, "k", ids, pcols)
            assert r_in == r_blk
            assert keys(inl) == keys(blk) == expect
            assert set(captured) == {"staged", "inputs"}
            # idempotent re-run stays a no-op on the bulk path too
            assert W.delete_rows_partitioned(spark, blk, "k", ids, pcols) == (
                0,
                0,
            )

    # string keys survive the bulk path (r8-advice invariant carried over)
    spart = str(tmp_path / "spart")
    spark.createDataFrame(
        [(f"doc-{k}", k % 2) for k in range(12)], "k string, v int"
    ).write.mode("overwrite").partitionBy("v").parquet(spart)
    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(W, "_DELETE_INLIST", 2)
        W.delete_rows_partitioned(
            spark, spart, "k", ["doc-1", "doc-6", "doc-9"], ["v"]
        )
    assert sorted(r["k"] for r in spark.read.parquet(spart).collect()) == (
        sorted(f"doc-{k}" for k in range(12) if k not in (1, 6, 9))
    )

    # through-path: text_index_delete rides this core — a bulk delete
    # must leave the index bit-identical to a fresh build on the
    # filtered corpus (the standing delete==rebuild contract)
    from nqs_console_flink_window_spark.operators import retrieval as RT
    from nqs_console_flink_window_spark.sources.batch import load_table

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    gone = [r["doc_id"] for r in docs.select("doc_id").collect()][::2]
    idx = str(tmp_path / "bulkidx")
    RT.build_text_index(spark, docs, idx)
    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(W, "_DELETE_INLIST", 3)
        RT.text_index_delete(spark, idx, gone)
    fresh = str(tmp_path / "freshidx")
    RT.build_text_index(
        spark, docs.filter(~docs.doc_id.isin(gone)), fresh
    )
    assert (
        spark.read.parquet(f"{idx}.stats").collect()
        == spark.read.parquet(f"{fresh}.stats").collect()
    )
    assert sorted(
        tuple(r) for r in spark.read.parquet(f"{idx}.doclen").collect()
    ) == sorted(
        tuple(r) for r in spark.read.parquet(f"{fresh}.doclen").collect()
    )
    assert [tuple(r) for r in RT.bm25_topk_indexed(spark, idx).collect()] == [
        tuple(r) for r in RT.bm25_topk_indexed(spark, fresh).collect()
    ]


def test_delete_spares_late_arriving_file(spark, tmp_path) -> None:
    """r8-advice regression (writers.py delete_rows_partitioned): the
    commit must unlink exactly the files the staged snapshot READ — a
    file that lands in an affected partition between the snapshot and
    the commit is NOT part of the delete's inputs and must survive (as
    extra rows, never silent loss), and so must its partition dir.  A
    whole-partition swap would destroy the late arrival."""
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nqs_console_flink_window_spark.sinks import writers as W

    p = str(tmp_path / "part_late")
    spark.createDataFrame(
        [(k, k % 3) for k in range(10)], "k long, p int"
    ).write.mode("overwrite").partitionBy("p").parquet(p)

    real_rename = Path.rename

    def commit_then_land(self, target):
        out = real_rename(self, target)
        if self.name.endswith(".tmp"):  # the manifest commit
            # a concurrent writer lands a file in the commit window, into
            # the partition the delete is rewriting (k=1 lives in p=1)
            pq.write_table(
                pa.table({"k": pa.array([100], pa.int64())}),
                f"{p}/p=1/late-arrival.parquet",
            )
        return out

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(Path, "rename", commit_then_land)
        W.delete_rows_partitioned(spark, p, "k", [1, 5], ["p"])
    spark.catalog.refreshByPath(p)
    got = sorted(r["k"] for r in spark.read.parquet(p).collect())
    assert got == [k for k in range(10) if k not in (1, 5)] + [100]


def test_delete_rows_accepts_string_keys(spark, tmp_path) -> None:
    """r8-advice regression (writers.py delete_rows_partitioned): ids pass
    through untouched — a string key_col (e.g. string doc ids) must work,
    under a string or an int partition column, instead of dying in an
    int() cast."""
    from nqs_console_flink_window_spark.sinks import writers as W

    rows = [(f"doc-{k}", k % 2) for k in range(8)]
    spart = str(tmp_path / "str_spart")
    spark.createDataFrame(
        [(k, f"s{p}") for k, p in rows], "k string, s string"
    ).write.partitionBy("s").parquet(spart)
    W.delete_rows_partitioned(spark, spart, "k", ["doc-1", "doc-6"], ["s"])
    assert sorted(r["k"] for r in spark.read.parquet(spart).collect()) == [
        f"doc-{k}" for k in range(8) if k not in (1, 6)
    ]

    part = str(tmp_path / "str_part")
    spark.createDataFrame(rows, "k string, p int").write.partitionBy(
        "p"
    ).parquet(part)
    aff, emptied = W.delete_rows_partitioned(
        spark, part, "k", ["doc-3"], ["p"]
    )
    assert (aff, emptied) == (1, 0)
    assert sorted(r["k"] for r in spark.read.parquet(part).collect()) == [
        f"doc-{k}" for k in range(8) if k != 3
    ]


def test_delete_rows_finds_null_and_escaped_partitions(spark, tmp_path) -> None:
    """A hit in a partition whose dir name is not ``c=v`` of its typed
    value (NULL -> ``__HIVE_DEFAULT_PARTITION__``, ``x=y`` -> ``x%3Dy``,
    ``a:b`` -> ``a%3Ab``) is deleted, and its emptied partition counted."""
    from nqs_console_flink_window_spark.sinks import writers as W

    p = str(tmp_path / "escaped")
    spark.createDataFrame(
        [(1, None), (2, "x=y"), (3, "a:b"), (4, "ok"), (5, "ok")],
        "k long, s string",
    ).write.partitionBy("s").parquet(p)
    assert W.delete_rows_partitioned(spark, p, "k", [1, 2, 3, 4], ["s"]) == (
        4, 3
    )
    spark.catalog.refreshByPath(p)
    assert [r["k"] for r in spark.read.parquet(p).collect()] == [5]


def test_jpeg_post_sos_dht_does_not_poison_baseline_scan() -> None:
    """r8-advice regression (multimodal.py baseline scan path): a DHT
    segment AFTER the SOS (legal per T.81 B.2.4.2) redefines the global
    table dicts during the marker walk, but the scan was entropy-coded
    with the tables in force AT ITS SOS — the baseline decode must read
    the per-scan snapshots (as the progressive path already does), so
    splicing a garbage table-0 redefinition before EOI changes nothing."""
    import struct

    jpg = _jpeg_encode_baseline([[100] * 8 for _ in range(8)], gray=True)
    assert jpg.endswith(b"\xff\xd9")
    # valid-but-wrong DC table 0: single 1-bit code -> symbol 0
    dht = bytes([0x00]) + bytes([1] + [0] * 15) + bytes([0])
    poison = b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    spliced = jpg[:-2] + poison + jpg[-2:]
    assert MM.decode_features(spliced, "image/jpeg") == MM.decode_features(
        jpg, "image/jpeg"
    )


def _grid_from_text(text: str) -> list[list[int]]:
    """The fixture-image rule: first 72 ascii codes as a 9x8 grid, 0-pad."""
    codes = [ord(ch) for ch in text[:72]] + [0] * max(0, 72 - len(text))
    return [codes[r * 9 : r * 9 + 9] for r in range(8)]


def _expected_dhash(grid: list[list[int]]) -> list[int]:
    bands = [0, 0, 0, 0]
    for r in range(8):
        for c in range(8):
            if grid[r][c] < grid[r][c + 1]:
                bands[r // 2] |= 1 << ((r % 2) * 8 + c)
    return bands


def test_dhash_decoder_matches_sql_grid_per_format(spark) -> None:
    """The decoder half of image_near_dup: decode_dhash over REAL encoded
    images of the fixture grid must equal the SQL oracle's band values —
    per lossless format (PPM, BMP incl. its bottom-up storage, PNG gray
    and RGB, GIF palette).  This is the pin that lets the registry query
    run the real decode path while the oracle recomputes from text."""
    docs = load_table(spark, SMOKE_SF_DIR, "documents").limit(6).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF_DIR}/documents.parquet')"
    )
    sql_bands = {}
    for doc_id, band, bv in con.execute(
        "WITH "
        + MM.dhash_grid_sql(X.DUCK).strip()
        + " SELECT doc_id, band, bv FROM bands"
    ).fetchall():
        sql_bands.setdefault(doc_id, [0] * 4)[band] = bv

    for row in docs:
        grid = _grid_from_text(row["text"])
        want = sql_bands[row["doc_id"]]
        assert _expected_dhash(grid) == want  # python twin agrees too

        # PPM (the registry query's own encoding)
        raster = bytes(c for r in grid for c in r for _ in range(3))
        ppm = b"P6 9 8 255\n" + raster
        assert MM.decode_dhash(ppm, "image/x-portable-pixmap") == want
        # BMP: encoder stores bottom-up; decode must re-flip to top-down
        bmp = _bmp_encode([[(c, c, c) for c in r] for r in grid])
        assert MM.decode_dhash(bmp, "image/bmp") == want
        # PNG grayscale and RGB
        png_g = _png_encode([bytes(r) for r in grid], 1, [0] * 8)
        assert MM.decode_dhash(png_g, "image/png") == want
        png_rgb = _png_encode(
            [bytes(c for v in r for c in (v, v, v)) for r in grid], 3, [0] * 8
        )
        assert MM.decode_dhash(png_rgb, "image/png") == want
        # GIF through a palette of the distinct gray values
        values = sorted({c for r in grid for c in r})
        pal = [(v, v, v) for v in values]
        idx = [values.index(c) for r in grid for c in r]
        gif = _gif_encode(idx, pal, 9, 8)
        assert MM.decode_dhash(gif, "image/gif") == want
        # the round-10 fixture writers: package-side GIF (uncompressed-
        # style LZW, 256-gray palette) and block-constant baseline JPEG —
        # the one LOSSY shape whose decode is exact (DC-only blocks), so
        # even JPEG sits under the text oracle
        assert MM.decode_dhash(MM.encode_gif_gray(grid), "image/gif") == want
        assert (
            MM.decode_dhash(MM.encode_jpeg_gray_blocks(grid), "image/jpeg")
            == want
        )


def test_dhash_resize_is_nearest_neighbor() -> None:
    """A 18x16 image whose pixel (y, x) is grid[y//2][x//2] must hash to
    exactly the 9x8 grid's bands (src_y = r*16 DIV 8 = 2r, src_x =
    c*18 DIV 9 = 2c — pure integer indexing, no filtering)."""
    grid = _grid_from_text("the quick brown fox jumps over the lazy dog " * 2)
    big = [[grid[y // 2][x // 2] for x in range(18)] for y in range(16)]
    raster = bytes(c for row in big for c in row for _ in range(3))
    ppm = b"P6 18 16 255\n" + raster
    assert MM.decode_dhash(ppm, "image/ppm") == _expected_dhash(grid)


def test_image_near_dup_hamming_gradient_and_pigeonhole(spark) -> None:
    """Controlled Hamming distances through the full pairs query:
    flipping the last column's char in row r flips exactly bit 7 of row
    r's comparisons.  Distances 1..3 must surface with exact hamming
    values; a distance-4 pair spread over all four bands has NO agreeing
    band and must not even be a candidate (pigeonhole bound); a
    distance-4 pair concentrated in two bands IS a candidate but fails
    the verify cut."""
    base = "zyxwvutsr" * 8  # descending rows: every (c7 < c8) bit is 0

    def flip(rows):  # raise last char of each given row above its left
        s = list(base)
        for r in rows:
            s[r * 9 + 8] = chr(ord(s[r * 9 + 7]) + 1)
        return "".join(s)

    # ensure the base rows' (c7 < c8) bits are 0 so each flip adds one bit
    grid = _grid_from_text(base)
    rows_flippable = [r for r in range(8) if grid[r][7] >= grid[r][8]]
    assert len(rows_flippable) >= 7, rows_flippable
    # 4 flips in four DIFFERENT bands: no band agrees -> not a candidate
    four_rows = sorted({r // 2: r for r in rows_flippable}.values())[:4]
    texts = {
        0: base,
        1: flip(rows_flippable[:1]),          # hamming 1
        2: flip(rows_flippable[:2]),          # hamming 2 (vs base)
        3: flip(rows_flippable[:3]),          # hamming 3
        4: flip(four_rows),                   # hamming 4, 4 distinct bands
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    df.createOrReplaceTempView("documents")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in MM.image_near_dup_df(spark).collect()
    }
    assert pairs[(0, 1)] == 1 and pairs[(0, 2)] == 2 and pairs[(0, 3)] == 3
    assert (0, 4) not in pairs  # all four bands differ -> not a candidate
    # and the same distance-4 pair via the decoder directly:
    raster = lambda t: b"P6 9 8 255\n" + bytes(  # noqa: E731
        c for row in _grid_from_text(t) for c in row for _ in range(3)
    )
    b0 = MM.decode_dhash(raster(texts[0]), "image/ppm")
    b4 = MM.decode_dhash(raster(texts[4]), "image/ppm")
    assert sum(bin(a ^ b).count("1") for a, b in zip(b0, b4)) == 4


def test_ivfpq_persisted_index_lifecycle(spark, tmp_path) -> None:
    """Round-9 persisted IVF-PQ index (the 100 TB memory story: the codes
    ARE the standing index).  Pins, against the online ivfpq_topk:
    (a) batch-built parity — same Lloyd artifacts through the float64
    parquet round-trip, same probe ranking, same shared ADC gather, same
    row-store exact re-rank; (b) streamed (ivfpq_fit + ingest) == batch;
    (c) replay idempotence of a re-landed batch; (d) compaction on the
    SHARED fold core preserves results; (e) the codes index stores NO
    float vector column; (f) nprobe partition pruning in the plan;
    (g) a stream ingests into the built index; (h) compliance deletion via
    the shared ivf_index_delete removes the ids."""
    from nqs_console_flink_window_spark.sources.batch import load_table

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    corpus = emb.filter(F.col("vec_id") != 0)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    online = [tuple(r) for r in SIM.ivfpq_topk(corpus, qvec, k=10).collect()]

    idx = str(tmp_path / "ivfpq")
    SIM.build_ivfpq_index(corpus, idx)
    got = SIM.ivfpq_topk_indexed(spark, idx, corpus, qvec, k=10)
    assert [tuple(r) for r in got.collect()] == online  # (a)

    # (e) codes-only rows: 8 ints per vector, no embedding column
    codes = spark.read.parquet(idx)
    assert set(codes.columns) == {"vec_id", "pq_code", "cell", "batch_id"}
    assert codes.count() == corpus.count()

    # (f) the pruned scan plans PartitionFilters on cell
    import numpy as np

    centers = SIM._read_centroids(spark, idx)
    q = np.asarray(qvec)
    probe = [int(c) for c in ((centers - q) ** 2).sum(1).argsort()[: SIM.IVF_NPROBE]]
    plan = (
        spark.read.parquet(idx)
        .filter(F.col("cell").isin(probe))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1
    )[1].splitlines()[0]

    # (b) streamed lifecycle == batch-built
    sidx = str(tmp_path / "ivfpq_s")
    SIM.ivfpq_fit(corpus, sidx)
    for b in range(3):
        SIM.ivfpq_index_ingest_batch(
            spark, corpus.filter(F.col("vec_id") % 3 == b), b, sidx
        )
    assert [
        tuple(r)
        for r in SIM.ivfpq_topk_indexed(spark, sidx, corpus, qvec, k=10).collect()
    ] == online

    # (c) replay of batch 1 overwrites its own slices, no double-count
    SIM.ivfpq_index_ingest_batch(
        spark, corpus.filter(F.col("vec_id") % 3 == 1), 1, sidx
    )
    assert spark.read.parquet(sidx).count() == corpus.count()

    # (d) compaction via the shared fold core
    SIM.compact_streamed_ivf_index(spark, sidx, upto_batch_id=2)
    assert [
        tuple(r)
        for r in SIM.ivfpq_topk_indexed(spark, sidx, corpus, qvec, k=10).collect()
    ] == online

    # (g) one layout: a stream ingests into the built index beside the
    # build's slices, and its rows delete like any other
    SIM.ivfpq_index_ingest_batch(
        spark, emb.filter(F.col("vec_id") == 0), 9, idx
    )
    assert spark.read.parquet(idx).count() == corpus.count() + 1
    SIM.ivf_index_delete(spark, idx, [0])
    assert spark.read.parquet(idx).count() == corpus.count()

    # (h) compliance deletion (shared verb): top hit disappears
    top = online[0][0]
    SIM.ivf_index_delete(spark, idx, [top])
    after = [
        tuple(r)
        for r in SIM.ivfpq_topk_indexed(spark, idx, corpus, qvec, k=10).collect()
    ]
    assert top not in {r[0] for r in after}
    assert spark.read.parquet(idx).filter(
        F.col("vec_id") == top
    ).count() == 0


def test_image_near_dup_handles_newline_nonascii_and_null_text(spark) -> None:
    """Review-pass regression (round 9): the engine's PPM raster and the
    SQL oracle must agree on corpora OUTSIDE the clean fixture class —
    newline in the first 72 chars (the '(.)' regex skips line
    terminators), multi-byte UTF-8 (would shift the byte raster off the
    ascii() code points), and NULL text (no image on either side).  Both
    sides now share the printable-ASCII projection `_dhash_text_sql` and
    the NULL filter, so pairs match exactly."""
    rows = [
        (0, "alpha beta\ngamma delta " * 4),   # newline in the grid window
        (1, "alpha beta\ngamma delta " * 4),   # exact dup of 0
        (2, "café au lait résumé " * 5),  # multi-byte chars
        (3, "café au lait résumé " * 5),  # exact dup of 2
        (4, None),                              # NULL text: no image
        (5, "completely unrelated filler words here " * 3),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )
    got = [
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in MM.image_near_dup_df(spark).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = [tuple(r) for r in con.execute(MM.image_near_dup_sql(X.DUCK)).fetchall()]
    assert got == want
    assert (0, 1, 0) in got and (2, 3, 0) in got  # the dups surface
    assert not any(4 in (a, b) for a, b, _ in got)  # NULL text: no pairs


def test_image_near_dup_zero_variance_prefilter(spark) -> None:
    """Round-10 (verdict item 3): near-constant thumbnails have no
    gradients, so ALL their dHash bands are 0 and they pile into one
    band bucket — the documented bv=0 hot bucket.  The engine now routes
    them around the band join: exact-group z_pairs (equi-join on the
    data-derived hsum key), a popcount<=3 cross slice joined on its zero
    band, and the unchanged cand/ham fragment over the non-zero
    remainder; the cluster form star-reduces the zero clique.  The
    ORACLE keeps the plain full-band-join form, so equality here (and in
    the hash gate) proves the split is output-identical — exercised on a
    corpus DOMINATED by the hot group."""
    rows = [
        (0, "a" * 40),  # constant -> bands (0,0,0,0)
        (1, "b" * 72),
        (2, "cc"),
        (3, "dddddddd"),
        (4, "e"),
        (5, "ab"),  # exactly one ascent -> popcount 1 (the cross slice)
        (6, "ababababab"),  # popcount > 3: outside the zero ball
        (7, "rich and varied text with real gradients here " * 2),
        (8, "rich and varied text with real gradients here " * 2),
        (9, None),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).createOrReplaceTempView("documents")
    got = [
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in MM.image_near_dup_df(spark).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = [tuple(r) for r in con.execute(MM.image_near_dup_sql(X.DUCK)).fetchall()]
    assert got == want
    # the exact group: all 10 zero-pair combinations, hamming 0
    for a in range(5):
        for b in range(a + 1, 5):
            assert (a, b, 0) in got
    # the cross slice: doc 5 is Hamming-1 from the zero hash -> pairs
    # with EVERY zero doc; doc 6 (popcount 4) pairs with none of them
    for z in range(5):
        assert (z, 5, 1) in got
        assert not any({a, b} == {z, 6} for a, b, _ in got)
    assert (7, 8, 0) in got  # the band join still finds NZ dups
    # cluster form: star-reduced zero clique is component-equivalent
    got_c = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in MM.image_dup_clusters_df(spark).collect()
    )
    want_c = sorted(
        (int(r[0]), int(r[1]))
        for r in con.execute(MM.image_dup_clusters_sql(X.DUCK)).fetchall()
    )
    assert got_c == want_c
    # docs 0-5 one component rooted at 0, and 6 joins it transitively
    # (6 is Hamming-3 from 5 via the band join — no DIRECT zero pair,
    # but near-dup components chain); 7,8 their own pair; 9 a singleton
    comp = dict(got_c)
    assert {comp[i] for i in range(7)} == {0}
    assert comp[7] == comp[8] != 0 and comp[9] == 9


def test_ann_hybrid_and_codebook_guards(spark, tmp_path) -> None:
    """Round-9 review regressions: (a) the ANN hybrid refuses a dense/
    sparse query-id mismatch (silent single-leg fusions otherwise);
    (b) it refuses a dense index containing a query vector (the exact
    forms' self-exclusion convention, made loud); (c) _read_codebooks
    refuses a codebooks sidecar with no/foreign code-format marker (a
    pre-residual index silently mis-scores under residual ADC)."""
    from nqs_console_flink_window_spark.operators import retrieval as RT
    from nqs_console_flink_window_spark.sources.batch import load_table

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    qvec = {1: [float(x) for x in emb.filter("vec_id = 1").first()["embedding"]]}

    with pytest.raises(ValueError, match="share one query_id set"):
        RT.hybrid_dense_sparse_ann_indexed(spark, "/nope", "/nope", qvec)

    # (b) an index built on the FULL table contains the query ids
    full_idx = str(tmp_path / "full_ivf")
    SIM.build_ivf_index(emb, full_idx)
    qvecs3 = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin([1, 2, 3])).collect()
    }
    with pytest.raises(ValueError, match="contains a query vector"):
        RT.hybrid_dense_sparse_ann_indexed(spark, "/nope", full_idx, qvecs3)

    # (c) a markerless (pre-residual-format) codebooks sidecar refuses
    legacy = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(0, 0, [0.0] * 8)], "m int, j int, centroid array<double>"
    ).write.parquet(f"{legacy}.codebooks")
    with pytest.raises(ValueError, match="no code-format marker"):
        SIM._read_codebooks(spark, legacy)
