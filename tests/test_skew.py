"""Skew-handling evidence.

1. AQE skew-join: a pathologically skewed key actually triggers
   runtime skew-splitting (SortMergeJoin(skew=true) in the final
   adaptive plan) under the engine's session settings.
2. Salted aggregation: bit-identical to direct aggregation on a skewed
   distribution (the oracle query proves it on uniform data; this
   proves it on the distribution salting exists for).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_aqe_splits_skewed_join(spark):
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # one hot key carrying ~97% of a 300k-row fact side
        fact = spark.range(300_000).select(
            F.when(F.col("id") % 30 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("payload"),
        )
        dim = spark.range(100_000).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("v")
        )
        joined = fact.join(dim, "k")
        # execute THIS dataframe's own query so its adaptive plan
        # finalizes (count() would spawn a separate QueryExecution)
        assert len(joined.collect()) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, f"no skew split in final plan:\n{plan[:2000]}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lsh_hot_bucket_capped_to_star_edges(spark):
    """The one skew surface the salted-agg test doesn't cover: a
    boilerplate-heavy corpus (hundreds of docs sharing one shingle set)
    collapses into a single (band, sig) bucket.  Bucket INPUT rows stay
    balanced (each doc emits exactly `bands` rows), so AQE's input-byte
    skew split cannot fire — the hazard is the join OUTPUT, quadratic in
    bucket size.  Evidence that the engine's mitigation works: with
    max_bucket_size set, the hot bucket emits linear star edges, and
    connected components still merges the whole cluster."""
    from atac_data_products_spark.extensions.dedup import (
        connected_components,
        digest_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    # 800 docs with identical boilerplate text (one shingle set → one
    # bucket per band) + 4200 token-disjoint background docs (every
    # token embeds the doc id, so no shingle is shared across them)
    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") < 800,
            F.lit("terms of service boilerplate common to every page"),
        )
        .otherwise(
            F.concat_ws(
                " ",
                *[
                    F.concat(F.lit(f"w{j}x"), F.col("id").cast("string"))
                    for j in range(6)
                ],
            )
        )
        .alias("text"),
    )
    sig = minhash_signatures(digest_shingles(docs))

    capped = lsh_candidate_pairs(sig, max_bucket_size=100)
    edges = capped.collect()
    # linear star edges (one per non-canonical member), not C(800,2)
    # all-pairs: the quadratic blowup is structurally impossible
    assert len(edges) == 799
    assert all(e.doc_a == 0 for e in edges)

    # the capped edge set still yields ONE 800-doc duplicate cluster
    comp = connected_components(docs.select("doc_id"), capped, id_col="doc_id")
    sizes = comp.groupBy("cluster_id").count().collect()
    assert max(r["count"] for r in sizes) == 800

    # uncapped semantics unchanged on the same corpus (contract oracle)
    n_uncapped = lsh_candidate_pairs(sig).count()
    assert n_uncapped == 800 * 799 // 2


def test_capped_pipeline_linear_end_to_end(spark):
    """The FULL graded pipeline (candidates + exact-Jaccard verify) on
    the adversarial corpus: star edges bound the candidate set AND the
    pair-driven verification keeps intermediate rows linear in it (the
    inverted-index form restricted to candidate docs would be quadratic
    again, because all 800 boilerplate docs share every shingle)."""
    from atac_data_products_spark.extensions.dedup import (
        digest_shingles,
        minhash_lsh_dedup_pairs,
    )

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") < 800,
            F.lit("terms of service boilerplate common to every page"),
        )
        .otherwise(
            F.concat_ws(
                " ",
                *[
                    F.concat(F.lit(f"w{j}x"), F.col("id").cast("string"))
                    for j in range(6)
                ],
            )
        )
        .alias("text"),
    )
    pairs = minhash_lsh_dedup_pairs(
        digest_shingles(docs), threshold=0.2, max_bucket_size=100
    )
    rows = pairs.collect()
    # exactly the 799 star pairs, each verified at jaccard 1.0; the
    # token-disjoint background contributes nothing
    assert len(rows) == 799
    assert all(r.doc_a == 0 and r.jaccard == 1.0 for r in rows)


def test_salted_agg_matches_direct_on_skew(spark):
    from atac_data_products_spark.operators.skew import salted_sum_count

    skewed = spark.range(100_000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 50 != 0, F.lit("hot")).otherwise(F.lit("cold")).alias("key"),
        (F.col("id") % 97).alias("val"),
    )
    salted = {
        r.key: (r.n_rows, r.sum_val)
        for r in salted_sum_count(
            skewed, ["key"], ["val"], salt_on=F.col("row_id")
        ).collect()
    }
    direct = {
        r.key: (r.n, r.s)
        for r in skewed.groupBy("key")
        .agg(F.count("*").alias("n"), F.sum("val").alias("s"))
        .collect()
    }
    assert salted == direct


def test_survivor_selection_never_shuffles_corpus_by_cluster(spark):
    """The round-4 scale property of corpus_dedup_survivors: the cluster
    map (duplicate_clusters fast path) is a broadcast-hinted local
    relation, so every corpus-side join — including the singleton
    anti-join — is a BroadcastHashJoin, never a SortMergeJoin; the only
    Exchanges left are sized by the DUPLICATED subset (the cluster_id
    window and member-count aggregate), not the corpus."""
    import re

    from atac_data_products_spark.registry_corpus import corpus_dedup_survivors

    df = corpus_dedup_survivors(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bSortMergeJoin\b", plan)) == 0
    assert "LeftAnti" in plan  # singleton path present
    assert len(re.findall(r"\bBroadcastHashJoin\b", plan)) >= 3
    # corpus-sized exchanges would hash-partition doc_id over a FileScan
    # branch; the two remaining exchanges key on cluster_id only
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert all(col.startswith("cluster_id") for col in exchanges), exchanges
