"""Oracle gate for the multimodal fixture queries: each query that builds
its bytes through ``with_fixture`` runs at sf0.001 and must match its
DuckDB twin in row count and canonical value hash, the comparison
``tools/check.py`` and perfbench's ``check_results`` make. Without it the
fixture refactors were checked by plan shape only (test_udf_dup_gate).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools")
)

from check import TABLES, table_hash  # noqa: E402

FIXTURE_QUERIES = [
    # images ending in the pixel probe
    "q_image_resize", "q_png_pixels", "q_gif_pixels", "q_png_palette",
    "q_png_16bit", "q_jpeg_pixels", "q_jpeg_progressive",
    "q_media_null_content", "q_gif_interlace", "q_ico_pixels",
    "q_pnm_pixels", "q_tiff_pixels", "q_webp_pixels", "q_webp_lz77",
    "q_webp_palette", "q_webp_predictor", "q_webp_color", "q_webp_meta",
    # other image and video decoders
    "q_image_tiles", "q_tga_pixels", "q_qoi_pixels", "q_gif_anim",
    "q_webp_anim", "q_exif_scrub", "q_image_dhash", "q_image_neardup",
    "q_video_frames", "q_mjpeg_frames", "q_rle_frames", "q_msvc_frames",
    # audio
    "q_audio_stats", "q_audio_ulaw", "q_audio_alaw", "q_audio_pcm8",
    "q_audio_float32", "q_audio_extensible", "q_audio_adpcm",
    "q_flac_decode", "q_audio_aiff", "q_audio_au", "q_audio_transcode",
    "q_audio_zcr", "q_audio_vad", "q_audio_clipping", "q_audio_windows",
    "q_audio_fingerprint", "q_audio_neardup",
]


@pytest.fixture()
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def test_fixture_query_list_is_complete():
    from audios_to_dataset_spark.plans import multimodal

    assert len(FIXTURE_QUERIES) == len(set(FIXTURE_QUERIES)) == 47
    assert set(FIXTURE_QUERIES) <= set(multimodal.QUERIES)
    assert set(FIXTURE_QUERIES) <= set(multimodal.ORACLES)


@pytest.mark.parametrize("name", FIXTURE_QUERIES)
def test_fixture_query_matches_oracle(spark, sf_dir, oracle_con, name):
    from audios_to_dataset_spark.plans import multimodal

    df = multimodal.QUERIES[name](spark, sf_dir)
    cols, rows = list(df.columns), [tuple(r) for r in df.collect()]
    res = oracle_con.execute(multimodal.ORACLES[name])
    ocols, orows = [c[0] for c in res.description], res.fetchall()
    assert rows
    assert (len(rows), table_hash(cols, rows)) == (
        len(orows), table_hash(ocols, orows))
