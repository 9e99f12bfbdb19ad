"""Oracle gate in tier-1: each listed query runs at sf0.001 and must
match its DuckDB twin in row count and canonical value hash, the
comparison ``tools/check.py`` and perfbench's ``check_results`` make.

Two families are listed. The multimodal fixture queries build their
bytes through ``with_fixture``; without this gate their refactors were
checked by plan shape only (test_udf_dup_gate). The fragment queries'
oracles are composed from the shared fragments in
``plans/_oracle_sql.py`` (shingles, MinHash, LSH buckets, the list dot
product and the rounded cosine, connected-component closure, oriented
triangles), so an edit to one fragment is checked against every Spark
operator it mirrors.
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

# decoded through ``_decoded_fields``: a NULL fixture is a NULL row
DECODED_FIELD_QUERIES = [
    # images and video
    "q_image_tiles", "q_tga_pixels", "q_qoi_pixels", "q_image_headers",
    "q_video_headers", "q_webp_exif_scrub",
    # audio
    "q_flac_decode", "q_audio_aiff", "q_audio_au", "q_audio_transcode",
    "q_audio_zcr", "q_audio_vad", "q_audio_clipping", "q_audio_windows",
    "q_audio_dc", "q_audio_trim", "q_audio_normalize", "q_audio_resample",
    "q_audio_downmix", "q_audio_dropout", "q_audio_headers", "q_audio_aac",
    "q_ogg_pages", "q_ebml_walk",
]

FIXTURE_QUERIES = [
    # images ending in the pixel probe
    "q_image_resize", "q_png_pixels", "q_gif_pixels", "q_png_palette",
    "q_png_16bit", "q_jpeg_pixels", "q_jpeg_progressive",
    "q_media_null_content", "q_gif_interlace", "q_ico_pixels",
    "q_pnm_pixels", "q_tiff_pixels", "q_webp_pixels", "q_webp_lz77",
    "q_webp_palette", "q_webp_predictor", "q_webp_color", "q_webp_meta",
    # other image and video decoders
    "q_gif_anim", "q_webp_anim", "q_exif_scrub", "q_image_dhash",
    "q_image_neardup", "q_video_frames", "q_mjpeg_frames", "q_rle_frames",
    "q_msvc_frames",
    # audio
    "q_audio_stats", "q_audio_ulaw", "q_audio_alaw", "q_audio_pcm8",
    "q_audio_float32", "q_audio_extensible", "q_audio_adpcm",
    "q_audio_fingerprint", "q_audio_neardup",
] + DECODED_FIELD_QUERIES

FRAGMENT_QUERIES = [
    # word n-gram shingles, Jaccard pairs and the near-dup CC closure
    "q_dedup_ngram", "q_sim_histogram", "q_containment", "q_ngram_novelty",
    "q_sparse_cosine", "q_decontaminate_ngram", "q_decontaminate",
    "q_dedup_clusters", "q_dedup_pipeline", "q_split_assign",
    # MinHash signatures, bands and agreement
    "q_dedup_minhash_lsh", "q_minhash_jaccard", "q_minhash_error",
    "q_dedup_threshold_sweep", "q_source_overlap", "q_lsh_recall_text",
    "q_contamination", "q_ingest_novelty", "q_curation_funnel",
    "q_dedup_survivors",
    # LSH buckets, embedding pairs and the rounded cosine
    "q_dedup_embedding", "q_dedup_embedding_exact",
    "q_dedup_embedding_recall", "q_split_leakage", "q_dbscan", "q_ann_lsh",
    "q_ann_multiprobe", "q_ann_lsh_recall", "q_ann_batch", "q_knn_graph",
    "q_ann_recall", "q_hard_negatives", "q_label_noise", "q_link_predict",
    "q_kcore", "q_cosine_scores", "q_ann_topk", "q_ann_pq_recall",
    "q_dedup_semantic", "q_semdedup_keep",
    # the list dot product: k-means, IVF, PQ, the recall gates, coreset
    "q_kmeans", "q_cluster_purity", "q_ann_ivf", "q_ann_ivf_kmeans",
    "q_pq_codes", "q_ann_pq", "q_pq_distortion", "q_matryoshka_recall",
    "q_hybrid_search", "q_sq_recall", "q_bq_recall", "q_coreset",
    "q_random_projection",
    # degree-oriented triangles
    "q_triangle_count", "q_clustering_coeff",
]


@pytest.fixture()
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def test_fixture_query_list_is_complete():
    from audios_to_dataset_spark.plans import all_oracles, multimodal

    assert len(FIXTURE_QUERIES) == len(set(FIXTURE_QUERIES)) == 60
    assert set(FIXTURE_QUERIES) <= set(multimodal.QUERIES)
    assert set(FIXTURE_QUERIES) <= set(multimodal.ORACLES)
    # every oracle holding the text of a shingle, MinHash, LSH-bucket,
    # dot-product, closure or triangle fragment is gated here
    marks = ("greatest(len(t) -", " AS mh0", ".mh0 = ", "FROM v, planes",
             "list_sum(list_transform(range(1, len(",
             "FROM reach JOIN edges", "oriented AS (")
    composed = {n for n, sql in all_oracles().items()
                if any(m in sql for m in marks)}
    assert len(FRAGMENT_QUERIES) == len(set(FRAGMENT_QUERIES))
    assert composed <= set(FRAGMENT_QUERIES)


@pytest.mark.parametrize("name", FIXTURE_QUERIES + FRAGMENT_QUERIES)
def test_fixture_query_matches_oracle(spark, sf_dir, oracle_con, name):
    from audios_to_dataset_spark.plans import all_oracles, all_queries

    df = all_queries()[name](spark, sf_dir)
    cols, rows = list(df.columns), [tuple(r) for r in df.collect()]
    res = oracle_con.execute(all_oracles()[name])
    ocols, orows = [c[0] for c in res.description], res.fetchall()
    assert rows
    assert (len(rows), table_hash(cols, rows)) == (
        len(orows), table_hash(ocols, orows))


def test_null_doc_id_gives_null_fields(spark, sf_dir, tmp_path):
    """A NULL doc_id gets NULL fixture bytes from ``with_fixture`` and so
    a row of NULL fields, not a failed batch; every other row decodes."""
    from audios_to_dataset_spark.plans import all_queries

    con = duckdb.connect()
    con.execute(
        "COPY (SELECT * REPLACE (CASE WHEN doc_id % 7 = 0 THEN NULL"
        f" ELSE doc_id END AS doc_id) FROM '{sf_dir}/documents.parquet')"
        f" TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"
    )
    n_docs, n_null = con.execute(
        f"SELECT COUNT(*), COUNT(*) - COUNT(doc_id)"
        f" FROM '{tmp_path}/documents.parquet'"
    ).fetchone()
    con.close()
    assert n_null > 0
    for name in DECODED_FIELD_QUERIES:
        rows = all_queries()[name](spark, str(tmp_path)).collect()
        assert len(rows) == n_docs, name
        null_rows = [r for r in rows if r["doc_id"] is None]
        assert len(null_rows) == n_null, name
        assert all(v is None for r in null_rows for v in r[1:]), name
        assert all(v is not None for r in rows if r["doc_id"] is not None
                   for v in r[1:]), name
