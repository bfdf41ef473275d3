"""Standing audio-dedup index: the image index's verbs and near-dup
gate with a different band extractor.  The 1-D waveform fingerprint
packs into the SAME (doc_id, band, bv) shape as the image dHash
(4 x 16-bit bands, multimodal.audio_fp_from_samples), so the ``bband``
bucketing, the lifecycle (image_index.py over the ``standing_index``
core) and the gate apply unchanged — only ``audio_bands`` differs
(stdlib WAV decode -> fingerprint, one Arrow pass).  The gate's verify
rule IS the image rule (plain Hamming <= DHASH_MAX_HAMMING over the 4
bands), so it is reused, not re-derived."""

from __future__ import annotations

from pyspark.sql import DataFrame

from .image_index import (
    _bband_col,
    build_image_index,
    image_index_ingest_batch,
    incremental_image_dedup,
    incremental_image_dedup_sql,
)
from .multimodal import audio_fp_grid_sql, decoded_bands, extract_audio_fp

# layout-only verbs: reused verbatim (they never look at band semantics)
from .image_index import image_index_delete as audio_index_delete  # noqa: E402,F401
from .image_index import read_image_index as read_audio_index  # noqa: E402,F401


def audio_bands(media: DataFrame) -> DataFrame:
    """(doc_id, band, bv, bband) for a batch of audio clips — the
    decode+fingerprint pass (``decoded_bands``), run ONCE per batch.
    Silent/constant clips keep their all-zero bands — they are TRUE
    near-dups of each other and the gate's batch-sized probe keeps the
    zero bucket benign (the image index's documented argument)."""
    return decoded_bands(media, extract_audio_fp).withColumn("bband", _bband_col())


def build_audio_index(spark, media: DataFrame, path: str) -> None:
    """Bulk build — the image verb with the audio band extractor."""
    build_image_index(spark, media, path, bands_fn=audio_bands)


def audio_index_ingest_batch(
    spark, batch_media: DataFrame, batch_id: int, path: str
) -> None:
    """Replay-idempotent streamed landing — the image verb reused."""
    image_index_ingest_batch(
        spark, batch_media, batch_id, path, bands_fn=audio_bands
    )


def incremental_audio_dedup(
    spark, media: DataFrame, index_bands: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """Dedup a batch of clips against the persisted fingerprint index and
    within the batch — the IMAGE gate verbatim (same verify rule: exact
    Hamming <= DHASH_MAX_HAMMING over the 4 bands), different extractor."""
    return incremental_image_dedup(
        spark, media, index_bands, bands_fn=audio_bands
    )


def incremental_audio_dedup_sql(
    d: str, split: int | str, table: str = "documents"
) -> str:
    """DuckDB oracle of the two-batch flow — the image oracle's
    s1/dup2/s2 body over the audio fingerprint's text-recomputed grid."""
    return incremental_image_dedup_sql(
        d, split, table, grid_sql_fn=audio_fp_grid_sql
    )


# ---------------------------------------------------------------------------
# SPECTRAL variant (round 11): the Walsh-Hadamard band-energy fingerprint
# (multimodal.audio_spectral_bands_from_samples — amplitude-robust where
# the waveform fingerprint's adjacent-sample ties collapse under
# quantized gain) packs into the SAME (doc_id, band, bv) shape, so the
# ENTIRE verb surface below is the image core with one different
# extractor — the bands_fn/grid_sql_fn hooks doing exactly what they
# were built for.  A production corpus keeps ONE of the two standing
# audio indexes (or both, as belt-and-braces recall); the gates are
# interchangeable by path.
# ---------------------------------------------------------------------------

from .multimodal import audio_spectral_grid_sql, extract_audio_spectral  # noqa: E402


def audio_spectral_bands(media: DataFrame) -> DataFrame:
    """(doc_id, band, bv, bband) for a batch of clips — the spectral
    decode+fingerprint pass, the audio_bands rule."""
    return decoded_bands(media, extract_audio_spectral).withColumn(
        "bband", _bband_col()
    )


def build_audio_spectral_index(spark, media: DataFrame, path: str) -> None:
    """Bulk build — the image verb with the spectral extractor."""
    build_image_index(spark, media, path, bands_fn=audio_spectral_bands)


def incremental_audio_spectral_dedup(
    spark, media: DataFrame, index_bands: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """The image gate verbatim over the spectral fingerprint — rejects
    re-uploads the waveform gate misses (quantized volume changes)."""
    return incremental_image_dedup(
        spark, media, index_bands, bands_fn=audio_spectral_bands
    )


def _spectral_grid_as_bands(d: str, table: str = "documents") -> str:
    """grid_sql_fn hook shape: the spectral grid exposing ``bands``."""
    return audio_spectral_grid_sql(d, table, rel="bands")


def incremental_audio_spectral_dedup_sql(
    d: str, split: int | str, table: str = "documents"
) -> str:
    """DuckDB oracle of the two-batch flow — the image oracle's
    s1/dup2/s2 body over the spectral text-recomputed grid."""
    return incremental_image_dedup_sql(
        d, split, table, grid_sql_fn=_spectral_grid_as_bands
    )


# ---------------------------------------------------------------------------
# WINDOWED variant (round 12): shift/trim-tolerant audio dedup.  The
# per-window fingerprint (multimodal.audio_windowed_bands_from_samples)
# is EXACTLY one video frame's band shape per fixed-stride time window,
# so this family rides the VIDEO index's machinery the way the video
# family rides the image index's: the window axis folds into the band
# key (band = win_idx * DHASH_BANDS + b), candidates stay pure hash
# equi-joins, and the ingest gate's max_shift delta-expansion gives
# trim tolerance — a clip with up to AUDIO_MAX_SHIFT windows cut off
# the front is rejected as a re-upload where the whole-clip waveform
# and spectral gates (fixed resample grids) miss it.
# ---------------------------------------------------------------------------

from .multimodal import (  # noqa: E402
    AUDIO_MAX_SHIFT,
    audio_windowed_grid_sql,
    extract_audio_windowed,
)


def audio_windowed_bands(media: DataFrame) -> DataFrame:
    """(doc_id, band, bv, bband) for a batch of clips — per-window
    fingerprints, content windows only, the window axis folded into the
    band key (the video_bands fold)."""
    from .video_index import fold_frames

    return fold_frames(decoded_bands(media, extract_audio_windowed))


def incremental_audio_shifted_dedup(
    spark,
    media: DataFrame,
    index_bands: DataFrame | None,
    max_shift: int = AUDIO_MAX_SHIFT,
) -> tuple[DataFrame, DataFrame]:
    """Shift-tolerant ingest gate: the VIDEO gate verbatim (aligned-window
    match at the best delta in [-max_shift, +max_shift], per-window exact
    Hamming <= DHASH_MAX_HAMMING, matched windows >= least(2, min content
    windows)) with the windowed-audio extractor — a front-trimmed
    re-upload of an indexed clip is rejected at ingest."""
    from .video_index import incremental_video_dedup

    return incremental_video_dedup(
        spark, media, index_bands,
        max_shift=max_shift, bands_fn=audio_windowed_bands,
    )


def incremental_audio_shifted_dedup_sql(
    d: str, split: int | str, table: str = "documents"
) -> str:
    """DuckDB oracle of the registered two-batch flow: per-window bands
    recomputed from text, SHIFTED match pairs over all docs once (the
    shared _shifted_match_ctes core at AUDIO_MAX_SHIFT — pair rule on the
    best-delta match count), then the s1/dup2/s2 two-batch body."""
    from .multimodal import _shifted_match_ctes

    return f"""
WITH {audio_windowed_grid_sql(d, table).strip()},
{_shifted_match_ctes(d, "awbands", AUDIO_MAX_SHIFT).strip()},
nd AS (
  SELECT m.doc_a, m.doc_b FROM sbest m
  JOIN snc na ON na.doc_id = m.doc_a
  JOIN snc nb ON nb.doc_id = m.doc_b
  WHERE m.matched_frames >= least(2, least(na.n, nb.n))
),
dup1 AS (SELECT DISTINCT doc_b AS doc_id FROM nd WHERE doc_b < {split}),
s1 AS (
  SELECT DISTINCT doc_id FROM awbands WHERE doc_id < {split}
  EXCEPT SELECT doc_id FROM dup1
),
dup2 AS (
  SELECT DISTINCT doc_b AS doc_id FROM nd
  WHERE doc_b >= {split}
    AND (doc_a IN (SELECT doc_id FROM s1) OR doc_a >= {split})
),
s2 AS (
  SELECT DISTINCT doc_id FROM awbands WHERE doc_id >= {split}
  EXCEPT SELECT doc_id FROM dup2
)
SELECT doc_id, 1 AS batch FROM s1
UNION ALL
SELECT doc_id, 2 AS batch FROM s2
ORDER BY doc_id
"""
