"""Empty/degenerate-input robustness: every extension operator must
return an empty (or well-defined) result, not crash, on empty frames —
the normal state of a fresh partition at scale."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id bigint, text string")


def test_dedup_ops_on_empty(spark, empty_docs):
    from atac_data_products_spark.extensions.dedup import (
        digest_shingles,
        exact_dedup,
        jaccard_pairs,
        minhash_lsh_dedup_pairs,
        simhash,
    )
    from atac_data_products_spark.extensions.text import shingle_table

    assert exact_dedup(empty_docs).count() == 0
    assert simhash(empty_docs).count() == 0
    assert jaccard_pairs(shingle_table(empty_docs)).count() == 0
    assert minhash_lsh_dedup_pairs(digest_shingles(empty_docs)).count() == 0


def test_text_ops_on_empty_and_whitespace(spark):
    from atac_data_products_spark.extensions.text import (
        lang_id,
        quality_features,
        shingle_table,
    )

    docs = spark.createDataFrame([(1, ""), (2, "   "), (3, "one")], "doc_id bigint, text string")
    qf = {r.doc_id: r for r in quality_features(docs).collect()}
    assert qf[3].n_tokens == 1
    assert lang_id(docs).count() == 3
    # no 3-gram shingles from any of these
    assert shingle_table(docs).count() == 0


def test_similarity_on_empty(spark):
    from atac_data_products_spark.extensions.similarity import cosine_pairs, cosine_topk

    emb = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    assert cosine_topk(emb, [1.0, 0.0], k=5).count() == 0
    assert cosine_pairs(emb, 0.5).count() == 0


def test_product_build_with_empty_modality(spark):
    from atac_data_products_spark.plans.product import build_product

    manifest = spark.createDataFrame(
        [("ds1", "HBM1", "40", "F", "1", "1", "1", None, "x")],
        "uuid string, hubmap_id string, age string, sex string, height string, "
        "weight string, bmi string, cause_of_death string, race string",
    )
    coo = "dataset string, barcode string, feature_id string, value double"
    cbb = spark.createDataFrame([("ds1", "A", "f1", 1.0)], coo)
    cbg = spark.createDataFrame([], coo)
    result = build_product(manifest, {"cbb": [cbb], "cbg": [cbg]})
    # empty modality ⇒ empty intersection ⇒ empty product, no crash
    assert result.obs.count() == 0


def test_frame_sample_empty_payload(spark):
    from atac_data_products_spark.extensions.multimodal import frame_sample

    media = spark.createDataFrame(
        [(1, bytearray(b""), "text/plain", 0)],
        "media_id bigint, payload binary, media_type string, declared_bytes bigint",
    )
    assert frame_sample(media).count() == 0


def test_cosine_pairs_brute_force_guard_trips(spark):
    """The O(n^2) baseline refuses inputs above its row cap — it must not
    silently become a production path on a large corpus."""
    from atac_data_products_spark.extensions.similarity import cosine_pairs

    emb = spark.range(1, 12).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="brute-force"):
        cosine_pairs(emb, 0.5, max_rows=10)
    # explicit raise of the cap unblocks the same input
    assert cosine_pairs(emb, 0.5, max_rows=11).count() > 0
    # the session conf raises it too (the scale value sweeps' seam) —
    # and only RAISES: a conf below the explicit arg never tightens it
    spark.conf.set("adp.allpairs.max_rows", "11")
    try:
        assert cosine_pairs(emb, 0.5, max_rows=10).count() > 0
        spark.conf.set("adp.allpairs.max_rows", "2")
        with pytest.raises(ValueError, match="brute-force"):
            cosine_pairs(emb, 0.5, max_rows=10)
        # a malformed conf value names the conf key and the bad value
        # instead of a bare int() ValueError (advisor find, r12)
        spark.conf.set("adp.allpairs.max_rows", "10k")
        with pytest.raises(ValueError, match="adp.allpairs.max_rows.*'10k'"):
            cosine_pairs(emb, 0.5, max_rows=10)
    finally:
        spark.conf.unset("adp.allpairs.max_rows")


def test_cosine_pairs_bucketed_builds_without_spark_action(spark):
    """bucketed=True plan construction must not run a job (n_dims is a
    required parameter, not discovered via .first())."""
    from atac_data_products_spark.extensions.similarity import cosine_pairs

    emb = spark.range(1, 4).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="n_dims"):
        cosine_pairs(emb, 0.5, bucketed=True)

    sc = spark.sparkContext
    before = sc._jsc.sc().dagScheduler().nextJobId()
    df = cosine_pairs(emb, 0.5, bucketed=True, n_dims=2)
    after = sc._jsc.sc().dagScheduler().nextJobId()
    assert after == before, "plan construction launched a Spark job"
    assert df.count() >= 0  # the plan itself still executes


def test_pagerank_on_empty_edges(spark):
    from atac_data_products_spark.operators.graph import pagerank_fixed

    empty = spark.createDataFrame([], "src bigint, dst bigint")
    out = pagerank_fixed(empty, n_iterations=3)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_connected_components_on_empty_edges(spark):
    from atac_data_products_spark.extensions.dedup import connected_components

    nodes = spark.createDataFrame([(1,), (2,)], "doc_id bigint")
    edges = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    out = {r.doc_id: r.cluster_id for r in connected_components(nodes, edges).collect()}
    assert out == {1: 1, 2: 2}


def test_ml_score_bounds_and_prediction_consistency(spark):
    """|score| <= 127 * max|w| * dims, and predicted == (score > 0) —
    on adversarial vectors including all-zero (amax guard) and
    exact-half quantization boundaries."""
    from atac_data_products_spark.registry_ext import ML_WEIGHTS, ml_score_batch
    import __spark_entry__ as e

    rows = ml_score_batch(spark, "/root/testdata/sf0.001").collect()
    bound = 127 * max(abs(w) for w in ML_WEIGHTS) * 64
    assert rows
    for r in rows:
        assert abs(r.score) <= bound
        assert r.predicted == (r.score > 0)


def test_kmeans_degenerate_identical_points(spark, tmp_path):
    """All-identical vectors: every point must land in cluster 0 (the
    init centroid it coincides with, ties broken by cluster id), other
    clusters drop out, and inertia is exactly zero."""
    from pyspark.sql import functions as F

    from atac_data_products_spark.registry_ext import _KM_DIM
    import atac_data_products_spark.registry_ext as rx

    df = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.5)] * _KM_DIM).cast("array<float>").alias("embedding"),
        F.lit(0).alias("label"),
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    got = rx.vector_kmeans_lloyd(spark, d).toPandas()
    assert len(got) == 1
    assert got.loc[0, "cluster_id"] == 0
    assert got.loc[0, "n_members"] == 40
    assert got.loc[0, "inertia"] == 0.0


def test_importance_resampling_hits_uniform_target(spark):
    """Accepted counts per lang must approximate the uniform target
    n_tot/n_langs for over-represented langs (md5-slot acceptance is
    binomial around accept_p) and keep 100% of under-represented ones."""
    from atac_data_products_spark.registry_corpus import (
        corpus_importance_resampling,
    )
    from tests.conftest import SF_MED

    got = corpus_importance_resampling(spark, SF_MED).toPandas()
    target = got["n_orig"].sum() / len(got)
    for _, r in got.iterrows():
        if r["accept_p"] >= 1.0:
            assert r["n_resampled"] == r["n_orig"]
        else:
            # binomial(n, p): allow 4 sigma
            import math
            n, p = r["n_orig"], r["accept_p"]
            sigma = math.sqrt(n * p * (1 - p))
            assert abs(r["n_resampled"] - n * p) <= 4 * sigma + 1


def test_incremental_probe_subset_of_full_pairs(spark):
    """Every probe hit must appear in the full uncapped LSH pair set
    (with matching jaccard), and no old-old or new-new pair may leak."""
    from atac_data_products_spark.registry_ext import (
        dedup_incremental_probe,
        dedup_minhash_lsh_exact,
    )
    from tests.conftest import SF_MED

    probe = dedup_incremental_probe(spark, SF_MED).toPandas()
    full = dedup_minhash_lsh_exact(spark, SF_MED).toPandas()
    full_set = {
        (min(a, b), max(a, b)): j
        for a, b, j in full.itertuples(index=False)
    }
    for dn, do, j in probe.itertuples(index=False):
        assert dn % 10 == 0 and do % 10 != 0
        key = (min(dn, do), max(dn, do))
        assert key in full_set and abs(full_set[key] - j) < 1e-9
