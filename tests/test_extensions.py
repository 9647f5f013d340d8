"""Extension-operator tests: dedup, similarity, text, multimodal.

Beyond the per-key oracle equivalence (test_registry), these check the
semantic properties the oracles can't express: LSH recall against the
exact baseline, fingerprint locality.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from atac_data_products_spark.extensions.dedup import (
    digest_shingles,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_dedup_pairs,
    simhash,
)
from atac_data_products_spark.extensions.multimodal import byte_features, with_payload
from atac_data_products_spark.extensions.similarity import cosine_topk, lsh_topk
from atac_data_products_spark.extensions.text import shingle_table, word_shingles, tokens


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_groups_copies(spark):
    docs = _docs(spark, [(1, "a b c"), (2, "a b c"), (3, "x y z")])
    out = {r.canonical_id: r.n_copies for r in exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_word_shingles_short_doc_empty(spark):
    # < n tokens must yield an EMPTY array (sequence(1,0) would be [1,0])
    df = spark.createDataFrame([("a b",), ("a",), ("a b c",)], "text string")
    out = df.select(F.size(word_shingles(tokens("text"))).alias("n")).collect()
    assert [r.n for r in out] == [0, 0, 1]


def test_jaccard_identical_docs_is_one(spark):
    docs = _docs(spark, [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5"), (3, "q r s t u")])
    sh = shingle_table(docs)
    pairs = jaccard_pairs(sh, threshold=0.99).collect()
    assert len(pairs) == 1
    assert (pairs[0].doc_a, pairs[0].doc_b, pairs[0].jaccard) == (1, 2, 1.0)


def test_minhash_lsh_finds_near_duplicates(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(39)) + " changed"
    far = " ".join(f"other{i}" for i in range(40))
    docs = _docs(spark, [(1, base), (2, near), (3, far)])
    pairs = minhash_lsh_dedup_pairs(digest_shingles(docs), threshold=0.5).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]


def test_connected_components_chain(spark):
    # path graph 1-2-3-4 plus isolated 9: min label must walk 3 hops
    from atac_data_products_spark.extensions.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 9]], "doc_id bigint")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a bigint, doc_b bigint"
    )
    out = {r.doc_id: r.cluster_id for r in connected_components(nodes, edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}


def test_simhash_locality(spark):
    # near-identical docs → small Hamming distance; disjoint docs → large
    base = " ".join(f"tok{i}" for i in range(50))
    near = base + " extra"
    far = " ".join(f"zzz{i}" for i in range(50))
    fp = {r.doc_id: r.simhash for r in simhash(_docs(spark, [(1, base), (2, near), (3, far)])).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(fp[1], fp[2]) <= 6
    assert ham(fp[1], fp[3]) >= 8


def test_cosine_topk_orders_by_similarity(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [-1.0, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = cosine_topk(emb, [1.0, 0.0], k=3).collect()
    assert [r.vec_id for r in out] == [1, 2, 3]
    assert out[0].cosine == 1.0


def test_lsh_topk_subset_of_bruteforce_space(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(1, 101)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = rows[0][1]
    brute = {r.vec_id for r in cosine_topk(emb, q, k=100).collect()}
    approx = lsh_topk(emb, q, k=10).collect()
    assert {r.vec_id for r in approx} <= brute
    # the probed bucket contains the query's own bucket-mates: must be sorted desc
    sims = [r.cosine for r in approx]
    assert sims == sorted(sims, reverse=True)


def test_multimodal_payload_roundtrip(spark):
    docs = _docs(spark, [(1, "hello"), (2, "wörld")])
    media = with_payload(docs, "doc_id", "text")
    assert media.columns == ["media_id", "payload", "media_type", "declared_bytes"]
    feats = {r.media_id: r for r in byte_features(media).collect()}
    assert feats[1].byte_len == 5
    assert feats[2].byte_len == 6  # ö is 2 bytes in UTF-8
    import hashlib

    assert feats[1].content_md5 == hashlib.md5(b"hello").hexdigest()


def test_kmeans_lloyd_partitioning_invariance(spark):
    """Cluster assignment must not depend on input partitioning — the
    quantized-integer sums + fixed-order distance arithmetic make the
    whole iteration deterministic (unlike stock float k-means)."""
    from atac_data_products_spark.registry_ext import vector_kmeans_lloyd
    from tests.conftest import SF_MED

    got = vector_kmeans_lloyd(spark, SF_MED).toPandas().sort_values("cluster_id")
    assert len(got) <= 8 and got["n_members"].sum() == 500
    assert (got["inertia"] >= 0).all()
    # re-run on a differently-partitioned view of the same table: the
    # registered fn reads fresh, so just re-invoke (plan rebuilt) and
    # compare values bit-for-bit
    again = vector_kmeans_lloyd(spark, SF_MED).toPandas().sort_values("cluster_id")
    assert got.reset_index(drop=True).equals(again.reset_index(drop=True))


def test_semantic_bucket_purity_accounts_for_all_docs(spark):
    from atac_data_products_spark.registry_ext import semantic_bucket_purity
    from tests.conftest import SF_MED

    got = semantic_bucket_purity(spark, SF_MED).toPandas()
    assert got["n_docs"].sum() == 500
    assert (got["purity"] > 0).all() and (got["purity"] <= 1.0).all()
    assert (got["n_langs"] >= 1).all()
    # purity is consistent: top lang share >= 1/n_langs
    assert (got["purity"] >= 1.0 / got["n_langs"] - 1e-9).all()


def test_connected_components_fast_path_matches_pregel(spark):
    """The adaptive driver union-find (edges under the cap) must be
    bit-identical to the distributed label-propagation path (forced by
    cap=0) on a graph with a chain, a star, and isolated nodes."""
    from atac_data_products_spark.extensions.dedup import connected_components

    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 12)], "doc_id bigint"
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (7, 9), (7, 10)],
        "doc_a bigint, doc_b bigint",
    )
    fast = {
        r.doc_id: r.cluster_id
        for r in connected_components(nodes, edges).collect()
    }
    slow = {
        r.doc_id: r.cluster_id
        for r in connected_components(
            nodes, edges, small_graph_edge_cap=0
        ).collect()
    }
    assert fast == slow
    assert fast[4] == 1 and fast[10] == 7 and fast[11] == 11


def test_duplicate_clusters_hostile_string_ids(spark):
    """Inline-VALUES fast path must round-trip ids containing
    backslashes (Spark SQL literal escape char), quotes, and a trailing
    backslash byte-for-byte (round-13, advisor find: 'a\\x' was silently
    corrupted to 'ax' and a trailing backslash swallowed the closing
    quote)."""
    from atac_data_products_spark.extensions.dedup import duplicate_clusters

    ids = [
        "a\\x", "a\\x-dup",
        "quo'te", "quo'te-dup",
        "trail\\", "trail\\-dup",
        "new\nline", "new\nline-dup",
        "pla in", "pla in-dup",
    ]
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(0, len(ids), 2)],
        "doc_a string, doc_b string",
    )
    out = {r.doc_id: r.cluster_id for r in duplicate_clusters(edges).collect()}
    assert set(out) == set(ids)
    for i in range(0, len(ids), 2):
        lo = min(ids[i], ids[i + 1])
        assert out[ids[i]] == lo
        assert out[ids[i + 1]] == lo


def test_duplicate_clusters_hostile_ids_legacy_parser_mode(spark):
    """Same round-trip under spark.sql.parser.escapedStringLiterals=true
    (legacy mode: backslash is a literal char and '' is not folded to a
    quote, so there is no reliable in-literal escape — hostile ids must
    take the createDataFrame fallback instead of rendering VALUES)."""
    from atac_data_products_spark.extensions.dedup import duplicate_clusters

    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        edges = spark.createDataFrame(
            [("a\\x", "a\\x-dup"), ("quo'te", "quo'te-dup")],
            "doc_a string, doc_b string",
        )
        cc = duplicate_clusters(edges)
        # hostile ids in legacy mode: NOT the inline-VALUES relation
        plan = cc._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" not in plan
        out = {r.doc_id: r.cluster_id for r in cc.collect()}
        assert out == {
            "a\\x": "a\\x", "a\\x-dup": "a\\x",
            "quo'te": "quo'te", "quo'te-dup": "quo'te",
        }
        # benign ids keep the VALUES fast path even in legacy mode
        benign = duplicate_clusters(
            spark.createDataFrame(
                [("plain", "plain-dup")], "doc_a string, doc_b string"
            )
        )
        assert "LocalTableScan" in (
            benign._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")


def test_duplicate_clusters_non_values_ids_fall_back(spark):
    """Ids with no faithful inline-SQL form (floats here; bool/bytes are
    the same class) must take the createDataFrame path, not render
    lossy literals (round-13, advisor find)."""
    from atac_data_products_spark.extensions.dedup import duplicate_clusters

    edges = spark.createDataFrame(
        [(1.5, 2.5), (2.5, 3.5)], "doc_a double, doc_b double"
    )
    cc = duplicate_clusters(edges)
    assert "LocalTableScan" not in cc._jdf.queryExecution().executedPlan().toString()
    out = {r.doc_id: r.cluster_id for r in cc.collect()}
    assert out == {1.5: 1.5, 2.5: 1.5, 3.5: 1.5}


def test_duplicate_clusters_inline_values_bound(spark):
    """Pin the 20,000-row inline-VALUES bound (round-12 verdict gap):
    maps at the bound stay a pure-JVM LocalRelation; one row over falls
    back to the single-task createDataFrame path — both correct."""
    from atac_data_products_spark.extensions.dedup import duplicate_clusters

    def _edges(n_pairs):
        return spark.createDataFrame(
            [(2 * i, 2 * i + 1) for i in range(n_pairs)],
            "doc_a bigint, doc_b bigint",
        )

    at_bound = duplicate_clusters(_edges(10_000))  # 20,000 label rows
    plan = at_bound._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan

    over = duplicate_clusters(_edges(10_001))  # 20,002 label rows
    plan = over._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan and "LocalTableScan" not in plan
    got = {r.doc_id: r.cluster_id for r in over.collect()}
    assert len(got) == 20_002
    assert got[20_001] == 20_000 and got[0] == 0


def test_jaccard_candidates_zero_overlap_pair_excluded(spark):
    """The packed-set verify (round 13) must preserve the old
    inner-join-through-count semantics: a candidate pair whose shingle
    sets do not intersect yields NO row even at threshold 0.0 (the
    estimate-calibration key left-joins exact onto estimated and relies
    on the miss)."""
    from atac_data_products_spark.extensions.dedup import jaccard_pairs

    docs = _docs(
        spark,
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u")],
    )
    sh = shingle_table(docs, distinct=False)
    cand = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a bigint, doc_b bigint"
    )
    got = jaccard_pairs(sh, threshold=0.0, candidates=cand).collect()
    assert [(r.doc_a, r.doc_b) for r in got] == [(1, 2)]
    assert got[0].jaccard > 0
