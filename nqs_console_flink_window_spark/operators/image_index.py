"""Standing dHash image-dedup index: the band table (doc_id, band, bv)
persisted as parquet partitioned by ``bband``, a 64-way arithmetic
bucket of the band value.  A corpus-scale near-dup gate cannot re-decode
and re-hash history per ingest batch, so the bands persist.  The
lifecycle verbs (build and batch landing, compaction, delete, the
doc_id freshness probe) are the shared ``standing_index`` core keyed by
``bband``.

This module hosts the verbs for the whole perceptual-hash family: the
audio index (audio_index.py, same band shape, different extractor) and
the video index (video_index.py, frame axis folded into the band key)
ride the ``bands_fn``/``grid_sql_fn`` hooks below.

Scale design (100 TB): an ingest batch decodes ONLY its own images (one
Arrow ``mapInPandas`` pass), its DHASH_BANDS x |batch| band rows
equi-join the index on (band, bv) — shuffle ~ batch + colliding index
rows, never a corpus pass — and verified near-dups (exact Hamming via
bit_count over candidate pairs, complete <= DHASH_MAX_HAMMING by the
pigeonhole rule) are dropped before the survivors' bands land.  The
documented bv=0 hot group is benign on this path: the batch side of the
probe is micro-batch-sized, so the candidate set is Ω(true collisions),
not |index-zero-group|^2 (the pair-QUERY's split prefilter handles the
corpus-wide form).

Reference parity: the reference's ingest-time dedup analogue is
ReplacingMergeTree-style last-write collapse at merge time; this is the
ingest-time, index-backed form (same shape as
dedup_text.incremental_dedup and similarity.incremental_embedding_dedup,
applied to the multimodal column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import dialect as X
from . import standing_index as SI
from .multimodal import (
    DHASH_BANDS,
    DHASH_MAX_HAMMING,
    decoded_bands,
    extract_dhash,
)

IMAGE_BANDS_BUCKETS = 64
# columns every probe/maintenance path consumes; bband is re-derivable
# from (band, bv) but stored so the scan's partition encoding IS the key
_BANDS_SCHEMA = "doc_id bigint, band int, bv bigint, bband int"


def _bband_col():
    """64-way partition bucket of a band row — pure integer arithmetic
    (both engines could recompute it from (band, bv), so the partition
    encoding adds no modeling surface)."""
    return (
        (F.col("band").cast("bigint") * 65536 + F.col("bv"))
        % IMAGE_BANDS_BUCKETS
    ).cast("int")


def image_bands(media: DataFrame) -> DataFrame:
    """(doc_id, band, bv, bband) for a batch of images (media_id, payload,
    meta) — the decode+hash pass (``decoded_bands``), run ONCE per
    batch."""
    return decoded_bands(media, extract_dhash).withColumn("bband", _bband_col())


def read_image_index(spark, path: str) -> DataFrame:
    """Emptiness-tolerant index read: an emptied index stays probe-able."""
    return SI._read_index_or_empty(spark, path, _BANDS_SCHEMA)


def _assert_fresh_image_ids(
    bands: DataFrame, path: str, where: str,
    exclude_batch_id: int | None = None,
) -> None:
    """The index's doc_id contract on a band batch: a re-ingested image
    would land duplicate band rows — every future probe would
    double-count its collisions and near-dup verdicts would silently
    drift.  The intra-batch rule is per-(doc_id, band) multiplicity: an
    image's bands are distinct, so a repeat doubles every one, and the
    rule stays exact for the video family, whose frame-augmented band
    tables carry a variable number of rows per doc (content frames
    only).  The id-type and cross-batch probes are the shared core's."""
    dup = bands.groupBy("doc_id", "band").count().filter(F.col("count") > 1)
    if not dup.isEmpty():
        raise ValueError(
            f"{where}: batch repeats a doc_id — duplicate band rows would "
            "double-count collisions in every probe; dedup the batch "
            "before indexing"
        )
    SI.assert_fresh_ids(
        bands, read_image_index(bands.sparkSession, path), where,
        exclude_batch_id=exclude_batch_id,
    )


def _batch_bands(media: DataFrame, bands_fn, where: str) -> DataFrame:
    """The batch's bands; the media id must be an integer key (the band
    extractors cast it to bigint, which would turn a boolean id into
    0/1 silently)."""
    SI.require_integer_ids(media, "media_id", where)
    return (bands_fn or image_bands)(media)


def build_image_index(
    spark, media: DataFrame, path: str, bands_fn=None
) -> None:
    """Materialize the band table as the ``bband=<b>/batch_id=-1``
    generation — the offline bulk build.  Once stored bucketed, an ingest
    probe's (band, bv) keys prune at the file listing.  ``bands_fn``
    swaps the band extractor.

    The bband-aligned write gives each bucket directory ONE file instead
    of one per upstream task (measured: 1534 tiny files -> 48 on the
    sf0.1 video index, ~1 s of per-read listing/footer overhead gone).
    At 100 TB a single file per bucket would be oversized — there the
    knob is adding ``bv`` (or a salt) to the repartition key, which
    spreads a bucket over many tasks while keeping every file
    bucket-pure."""
    SI.land_build((bands_fn or image_bands)(media), path, "bband")


def image_index_append(spark, path: str, media: DataFrame) -> None:
    """Hash NEW images and land their bands with
    ``image_index_ingest_batch`` at the next append id
    (``standing_index.append_batch_id``); small-file debt is settled by
    ``compact_image_index``."""
    image_index_ingest_batch(
        spark, media, SI.append_batch_id(path, "bband", ()), path
    )


def _ingest_bands(bspark, bands: DataFrame, batch_id: int, path: str) -> None:
    """Land ALREADY-COMPUTED band rows as one batch — the shared tail of
    ``image_index_ingest_batch`` and the incremental-dedup flow (which
    has the batch's bands in hand and must not re-decode)."""
    SI.land_batch(bands, batch_id, path, "bband")


def image_index_ingest_batch(
    bspark, batch_media: DataFrame, batch_id: int, path: str, bands_fn=None
) -> None:
    """One batch's replay-idempotent landing."""
    where = "image_index_ingest_batch"
    bands = _batch_bands(batch_media, bands_fn, where).localCheckpoint()
    _assert_fresh_image_ids(bands, path, where, exclude_batch_id=batch_id)
    _ingest_bands(bspark, bands, batch_id, path)


def compact_image_index(spark, path: str) -> dict[str, int]:
    """Compaction of everything landed into each bband partition's
    ``batch_id=-1`` generation."""
    return SI.compact_all(spark, path, "bband")


def compact_streamed_image_index(
    spark, path: str, upto_batch_id: int
) -> dict[str, int]:
    """Compaction below the committed watermark."""
    return SI.compact_streamed(spark, path, "bband", upto_batch_id)


def image_index_delete(spark, path: str, doc_ids) -> None:
    """Compliance deletion of every band row of ``doc_ids``."""
    SI.delete(spark, path, "bband", "doc_id", doc_ids)


def incremental_image_dedup(
    spark, media: DataFrame, index_bands: DataFrame | None, bands_fn=None
) -> tuple[DataFrame, DataFrame]:
    """Dedup a batch of images against the persisted band ``index_bands``
    (None for the first batch) and within the batch — the ingest-time
    near-dup gate: an image is dropped iff a VERIFIED near-dup (exact
    Hamming <= DHASH_MAX_HAMMING over the full hash — candidates from the
    (band, bv) equi-join are provably complete by pigeonhole) exists in
    the index or at a SMALLER doc_id in the same batch (the
    dedup_text.incremental_dedup convention, with the text family's
    any-band-collision rule upgraded to verified Hamming — a shared
    16-bit band alone admits pairs up to Hamming 48).

    Returns ``(kept_ids, kept_bands)``: ingest ``kept_bands`` (via
    ``_ingest_bands`` / append) to admit the batch into the index."""
    from .staging import staged_views

    nb = (bands_fn or image_bands)(media).localCheckpoint()
    # round-12 asymmetric fusion: the BATCH side's full fingerprint rides
    # along as DHASH_BANDS window-sum columns (fp0..fp3 — a window over
    # the batch-scale nb only; a window over the INDEX side would force
    # an index-wide shuffle per micro-batch), carried through the
    # candidate join, so the verify needs ONE targeted re-join (gather
    # the collided index doc's bands inside the per-pair group) instead
    # of two.  Identical: the input contract gives every doc exactly
    # DHASH_BANDS rows, so the conditional SUMs rebuild the index doc's
    # bands exactly.
    fp_cols = ", ".join(
        f"CAST(SUM(CASE WHEN band = {j} THEN bv END) "
        f"OVER (PARTITION BY doc_id) AS BIGINT) AS fp{j}"
        for j in range(DHASH_BANDS)
    )
    nfp_sel = ", ".join(f"a.fp{j} AS nfp{j}" for j in range(DHASH_BANDS))
    ham = " + ".join(
        "bit_count(%s)"
        % X.xor(
            X.SPARK,
            f"MIN(c.nfp{j})",
            f"SUM(CASE WHEN b.band = {j} THEN b.bv END)",
        )
        for j in range(DHASH_BANDS)
    )

    def _dup_ids(views, right, right_cond: str) -> DataFrame:
        return spark.sql(f"""
WITH nfp AS (
  SELECT doc_id, band, bv, {fp_cols}
  FROM {views.nb}
),
cand AS (
  SELECT DISTINCT a.doc_id AS nd, {nfp_sel}, b.doc_id AS xd
  FROM nfp a JOIN {right} b
    ON a.band = b.band AND a.bv = b.bv{right_cond}
),
hams AS (
  SELECT c.nd, c.xd,
    CAST({ham} AS BIGINT) AS hamming
  FROM cand c
  JOIN {right} b ON b.doc_id = c.xd
  GROUP BY c.nd, c.xd
)
SELECT DISTINCT nd AS doc_id FROM hams
WHERE hamming <= {DHASH_MAX_HAMMING}
""")

    stage = {"nb": nb}
    if index_bands is not None:
        stage["idx"] = index_bands.select("doc_id", "band", "bv")
    with staged_views(spark, checkpoint=False, **stage) as v:
        # in-batch: a (the dropped side, nd) near-dups a SMALLER b
        dup_ids = _dup_ids(v, v.nb, " AND a.doc_id > b.doc_id")
        if index_bands is not None:
            dup_ids = dup_ids.unionByName(
                _dup_ids(v, v.idx, "")
            ).distinct()
        dup_ids = dup_ids.localCheckpoint()
    kept_bands = nb.join(dup_ids, "doc_id", "left_anti")
    kept_ids = kept_bands.select("doc_id").distinct()
    return kept_ids, kept_bands


def incremental_image_dedup_sql(
    d: str, split: int | str, table: str = "documents", grid_sql_fn=None
) -> str:
    """DuckDB oracle of the registered two-batch flow: bands recomputed
    from text (the image family's standing oracle device), candidate +
    verified-Hamming pairs over ALL docs once, then the s1/dup2/s2
    pattern of ``_incremental_dedup_sql`` — batch 2 is dropped against
    batch 1's SURVIVORS (= the persisted index's content) or a smaller-id
    batch-2 doc (survivor or not, the engine's convention)."""
    from .multimodal import _dhash_cand_ham_ctes, dhash_grid_sql

    grid = (grid_sql_fn or dhash_grid_sql)(d, table)
    return f"""
WITH {grid.strip()},
{_dhash_cand_ham_ctes(d, "bands").strip()},
nd AS (SELECT doc_a, doc_b FROM ham WHERE hamming <= {DHASH_MAX_HAMMING}),
dup1 AS (SELECT DISTINCT doc_b AS doc_id FROM nd WHERE doc_b < {split}),
s1 AS (
  SELECT DISTINCT doc_id FROM bands WHERE doc_id < {split}
  EXCEPT SELECT doc_id FROM dup1
),
dup2 AS (
  SELECT DISTINCT doc_b AS doc_id FROM nd
  WHERE doc_b >= {split}
    AND (doc_a IN (SELECT doc_id FROM s1) OR doc_a >= {split})
),
s2 AS (
  SELECT DISTINCT doc_id FROM bands WHERE doc_id >= {split}
  EXCEPT SELECT doc_id FROM dup2
)
SELECT doc_id, 1 AS batch FROM s1
UNION ALL
SELECT doc_id, 2 AS batch FROM s2
ORDER BY doc_id
"""
