"""The shared standing-index core (operators/standing_index.py) as the
vector and media families see it: maintenance verbs on a remote path
fail loudly instead of finding nothing, and the image family holds the
text index's doc_id contract at any batch size."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nqs_console_flink_window_spark.operators import audio_index as AI
from nqs_console_flink_window_spark.operators import image_index as II
from nqs_console_flink_window_spark.operators import multimodal as MM
from nqs_console_flink_window_spark.operators import similarity as SIM
from nqs_console_flink_window_spark.operators import standing_index as SI
from nqs_console_flink_window_spark.operators import video_index as VI

_MAINTENANCE = {
    "ivf_index_delete": lambda s, p: SIM.ivf_index_delete(s, p, [1]),
    "image_index_delete": lambda s, p: II.image_index_delete(s, p, [1]),
    "audio_index_delete": lambda s, p: AI.audio_index_delete(s, p, [1]),
    "video_index_delete": lambda s, p: VI.video_index_delete(s, p, [1]),
    "compact_ivf_index": SIM.compact_ivf_index,
    "compact_image_index": II.compact_image_index,
    "compact_streamed_ivf_index": lambda s, p: SIM.compact_streamed_ivf_index(s, p, 1),
    "compact_streamed_image_index": lambda s, p: II.compact_streamed_image_index(s, p, 1),
}


@pytest.mark.parametrize("remote", ["hdfs://nn/idx", "s3a://bucket/idx"])
@pytest.mark.parametrize("verb", sorted(_MAINTENANCE))
def test_maintenance_verbs_reject_remote_paths(spark, verb, remote) -> None:
    """A local listing of a remote index sees nothing, so a compliance
    delete would return having deleted nothing and a compaction would
    report no dirs; the path must raise, naming itself."""
    with pytest.raises(ValueError, match=remote):
        _MAINTENANCE[verb](spark, remote)


def test_image_index_rejects_bool_and_null_doc_ids(spark, tmp_path) -> None:
    """The image twin of ``test_text_index_rejects_bool_and_null_doc_ids``:
    a boolean media id (the band extractor would cast it to 0/1) and a
    NULL doc_id on either side of ``_FRESH_PROBE_INLIST`` raise the
    contract error before anything lands."""
    idx = str(tmp_path / "imgidx_bad_ids")
    bad = "NULL or non-integer doc_id"
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    bools = MM.documents_as_images(docs).withColumn(
        "media_id", F.col("media_id") == 1
    )
    with pytest.raises(ValueError, match=bad):
        II.image_index_ingest_batch(spark, bools, 0, idx)
    for n in (3, SI._FRESH_PROBE_INLIST + 1):
        bands = spark.range(n).selectExpr(
            f"CASE WHEN id = {n // 2} THEN NULL ELSE id END AS doc_id",
            "0 AS band",
            "CAST(id AS BIGINT) AS bv",
            "0 AS bband",
        )
        with pytest.raises(ValueError, match=bad):
            II._assert_fresh_image_ids(bands, idx, "image_index_ingest_batch")
    assert not (tmp_path / "imgidx_bad_ids").exists()
