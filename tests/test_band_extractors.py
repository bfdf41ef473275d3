"""The contract every media band extractor keeps: a valid fixture payload
gives decode_ok rows of the expected shape, and an undecodable payload
(garbage bytes, a NULL payload, or a valid payload whose declared mime
the decoder rejects) gives exactly DHASH_BANDS zero rows flagged
decode_ok=False — for framed extractors one frame 0 with content=False —
so corpus accounting stays row-exact and no payload kills the stage."""

from __future__ import annotations

import pytest

from nqs_console_flink_window_spark.operators import multimodal as MM

TEXT = "plenty of words that differ across the frames and windows, ok? " * 4


def _video(text: str) -> bytes:
    frames = [
        MM.encode_jpeg_gray_blocks(
            MM._fixture_grid_at(text, f * MM.VIDEO_FRAME_STRIDE)
        )
        for f in range(MM.VIDEO_FRAMES)
    ]
    return MM.encode_avi_mjpeg(frames, 72, 64)


def _wav(text: str) -> bytes:
    return MM.encode_wav_codes(MM._audio_codes(text))


def _ppm(text: str) -> bytes:
    return MM.encode_ppm_gray(MM._fixture_grid(text))


# extractor, valid payload, its mime, frames per valid clip (None = flat),
# the same payload under a mime the decoder rejects, a foreign payload
# under the extractor's own mime
CASES = {
    "extract_dhash": (_ppm(TEXT), "image/x-portable-pixmap", None,
                      "audio/wav", (_wav(TEXT), "image/png")),
    "extract_audio_fp": (_wav(TEXT), "audio/wav", None,
                         "image/png", (_ppm(TEXT), "audio/wav")),
    "extract_audio_spectral": (_wav(TEXT), "audio/wav", None,
                               "image/png", (_ppm(TEXT), "audio/wav")),
    "extract_video_fp": (_video(TEXT), "video/x-msvideo", MM.VIDEO_FRAMES,
                         "image/png", (_wav(TEXT), "video/x-msvideo")),
    "extract_audio_windowed": (
        MM.encode_wav_codes(MM._audio_codes(TEXT, MM.AFW_CODES)), "audio/wav",
        MM.AFW_WINDOWS, "video/x-msvideo", (_ppm(TEXT), "audio/wav"),
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_band_extractor_contract(spark, name) -> None:
    payload, mime, n_frames, wrong_mime, (foreign, own_mime) = CASES[name]
    media = spark.createDataFrame(
        [
            (1, payload, (mime,)),
            (2, b"\x00garbage bytes, no media here", (mime,)),
            (3, None, (mime,)),
            (4, payload, (wrong_mime,)),
            (5, foreign, (own_mime,)),
        ],
        "media_id long, payload binary, meta struct<mime: string>",
    )
    rows = getattr(MM, name)(media).collect()
    framed = n_frames is not None
    by_id: dict[int, list] = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    assert set(by_id) == {1, 2, 3, 4, 5}

    good = by_id[1]
    assert all(r["decode_ok"] for r in good)
    frames = sorted({r["frame_idx"] for r in good}) if framed else [0]
    assert frames == list(range(n_frames or 1))
    for f in frames:
        fr = [r for r in good if not framed or r["frame_idx"] == f]
        assert sorted(r["band"] for r in fr) == list(range(MM.DHASH_BANDS))
        if framed:
            # content == some band bit set (the uninformative-frame rule)
            assert {r["content"] for r in fr} == {any(r["bv"] for r in fr)}
    assert any(r["bv"] for r in good)  # the fixture text has gradients

    for mid in (2, 3, 4, 5):
        bad = by_id[mid]
        assert len(bad) == MM.DHASH_BANDS, (mid, bad)
        assert sorted(r["band"] for r in bad) == list(range(MM.DHASH_BANDS))
        assert all(r["bv"] == 0 and r["decode_ok"] is False for r in bad)
        if framed:
            assert all(r["frame_idx"] == 0 for r in bad)
            assert all(r["content"] is False for r in bad)
