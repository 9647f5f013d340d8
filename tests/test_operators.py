"""Unit tests per operator on tiny in-line frames (SURVEY.md §5.2.3).

Edge cases follow the reference quirk list (§2.11) and FIXTURES.md:
missing modality cells, dataset absent from manifest, barcode prefixes,
laterality suffixes, outer-union feature alignment.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from atac_data_products_spark.functions.strings import (
    concat_cell_id,
    replace_literal,
    strip_laterality,
)
from atac_data_products_spark.operators.aggregates import (
    collect_sorted_csv,
    first_match_pivot,
)
from atac_data_products_spark.operators.joins import broadcast_dim_join, zip_columns
from atac_data_products_spark.operators.unions import union_outer
from atac_data_products_spark.operators.windows import first_per_group
from atac_data_products_spark.sources.rest import apply_search


def test_replace_literal_strips_bam_prefix(spark):
    df = spark.createDataFrame(
        [("BAM_data#AAAC",), ("GGGT",)], "barcode string"
    ).select(replace_literal("barcode", "BAM_data#").alias("b"))
    assert {r.b for r in df.collect()} == {"AAAC", "GGGT"}


def test_replace_literal_is_not_regex(spark):
    # a regex-special pattern must be treated literally
    df = spark.createDataFrame([("a.c",), ("abc",)], "s string").select(
        replace_literal("s", "a.c", "X").alias("s")
    )
    assert {r.s for r in df.collect()} == {"X", "abc"}


def test_strip_laterality(spark):
    df = spark.createDataFrame(
        [("Kidney (Left)",), ("Kidney (Right)",), ("Heart",), ("Left Lung (Left)",)],
        "d string",
    ).select(strip_laterality("d").alias("d"))
    assert {r.d for r in df.collect()} == {"Kidney", "Heart", "Left Lung"}


def test_concat_cell_id(spark):
    df = spark.createDataFrame([("ds1", "AAAC")], "dataset string, barcode string")
    row = df.select(concat_cell_id("dataset", "barcode").alias("c")).first()
    assert row.c == "ds1-AAAC"


def test_broadcast_join_drops_unmanifested_dataset(spark):
    # FIXTURES edge case 1: dataset absent from manifest → cells dropped (J2)
    obs = spark.createDataFrame(
        [("c1", "ds1"), ("c2", "ds2")], "cell_id string, dataset string"
    )
    manifest = spark.createDataFrame([("ds1", "donorA")], "uuid string, donor string")
    out = broadcast_dim_join(obs, manifest, obs.dataset == manifest.uuid)
    assert [r.cell_id for r in out.collect()] == ["c1"]


def test_union_outer_aligns_features(spark):
    # FIXTURES edge case 3: feature present in only some datasets
    a = spark.createDataFrame([("c1", 1.0)], "cell_id string, featA double")
    b = spark.createDataFrame([("c2", 2.0)], "cell_id string, featB double")
    out = union_outer([a, b]).orderBy("cell_id").collect()
    assert out[0].featA == 1.0 and out[0].featB is None
    assert out[1].featA is None and out[1].featB == 2.0


def test_zip_columns_positional(spark):
    left = spark.createDataFrame([(2,), (1,), (3,)], "k int")
    right = spark.createDataFrame([("b",), ("a",), ("c",)], "v string")
    out = zip_columns(left, right, ["k"], ["v"]).orderBy("k").collect()
    assert [(r.k, r.v) for r in out] == [(1, "a"), (2, "b"), (3, "c")]


def test_first_match_pivot_last_wins_priority(spark):
    # FIXTURES edge case 8: same concept in both donor arrays → higher
    # priority (living-donor) wins deterministically
    df = spark.createDataFrame(
        [
            ("u1", "Age", "40", 0),  # organ_donor_data
            ("u1", "Age", "41", 1),  # living_donor_data overwrites
            ("u1", "Sex", "F", 0),
        ],
        "uuid string, concept string, value string, priority int",
    )
    out = first_match_pivot(
        df, "uuid", "concept", "value", ["Age", "Sex", "Race"], priority_col="priority"
    ).first()
    assert out.Age == "41" and out.Sex == "F" and out.Race is None


def test_first_per_group_deterministic(spark):
    df = spark.createDataFrame(
        [("d1", "b.h5ad"), ("d1", "a.h5ad"), ("d2", "z.h5ad")],
        "dataset string, path string",
    )
    out = first_per_group(df, ["dataset"], ["path"]).orderBy("dataset").collect()
    assert [(r.dataset, r.path) for r in out] == [("d1", "a.h5ad"), ("d2", "z.h5ad")]


def test_collect_sorted_csv_deterministic(spark):
    df = spark.createDataFrame(
        [("g", "z"), ("g", "a"), ("g", "m")], "k string, v string"
    ).repartition(4)
    assert df.groupBy("k").agg(collect_sorted_csv("v").alias("c")).first().c == "a,m,z"


def test_es_dsl_compiles_to_filters(spark):
    df = spark.createDataFrame(
        [
            ("u1", "ATACseq", "public", None),
            ("u2", "ATACseq", "public", "u9"),  # superseded revision
            ("u3", "RNAseq", "public", None),
            ("u4", "ATACseq", "consortium", None),
        ],
        "uuid string, dataset_type string, data_access_level string, next_revision_uuid string",
    )
    dsl = {
        "query": {
            "bool": {
                "must": [
                    {"match": {"dataset_type": "ATACseq"}},
                    {"match": {"data_access_level": "public"}},
                ],
                "must_not": [{"exists": {"field": "next_revision_uuid"}}],
            }
        },
        "size": 10000,
        "sort": ["uuid"],
    }
    out = apply_search(df, dsl).collect()
    assert [r.uuid for r in out] == ["u1"]

    # size without sort is rejected: an unsorted page window takes an
    # arbitrary plan-dependent subset the moment it binds
    import pytest

    with pytest.raises(ValueError, match="sort"):
        apply_search(df, {"query": dsl["query"], "size": 1})

    # the window is a deterministic top-N under the cursor when it
    # binds: 3 matching rows, size=2 -> the 2 smallest uuids, and a
    # desc-order spec flips the pick
    df3 = df.sparkSession.createDataFrame(
        [("u3", "ATACseq", "public", None),
         ("u1", "ATACseq", "public", None),
         ("u2", "ATACseq", "public", None)],
        "uuid string, dataset_type string, data_access_level string, next_revision_uuid string",
    )
    picked = apply_search(df3, {**dsl, "size": 2})
    assert sorted(r.uuid for r in picked.collect()) == ["u1", "u2"]
    picked_desc = apply_search(
        df3, {**dsl, "size": 2, "sort": [{"uuid": {"order": "desc"}}]}
    )
    assert sorted(r.uuid for r in picked_desc.collect()) == ["u2", "u3"]

    # nullable sort cursor: ES's sort contract puts missing values LAST
    # by default (missing:_last, both directions) and DuckDB's ORDER BY
    # default is likewise nulls-last both ways — Spark's bare asc() is
    # NULLS FIRST, so without the explicit pin a bound window would pick
    # the null row first and diverge from both (ADVICE r10)
    df4 = df.sparkSession.createDataFrame(
        [("u1", "ATACseq", "public", None, "b"),
         ("u2", "ATACseq", "public", None, None),
         ("u3", "ATACseq", "public", None, "a")],
        "uuid string, dataset_type string, data_access_level string, "
        "next_revision_uuid string, cursor string",
    )
    asc_pick = apply_search(df4, {**dsl, "size": 2, "sort": ["cursor"]})
    assert sorted(r.uuid for r in asc_pick.collect()) == ["u1", "u3"]
    desc_pick = apply_search(
        df4, {**dsl, "size": 2, "sort": [{"cursor": {"order": "desc"}}]}
    )
    assert sorted(r.uuid for r in desc_pick.collect()) == ["u1", "u3"]


def test_pivot_width_guardrail(spark):
    import pytest

    from atac_data_products_spark.operators.pivot_wide import matrix_to_wide

    x = spark.createDataFrame(
        [("c1", "f1", 1.0), ("c1", "f2", 2.0), ("c2", "f1", 3.0)],
        "cell_id string, feature_id string, value double",
    )
    wide = matrix_to_wide(x, "cell_id", "feature_id", "value", ["f1", "f2"]).orderBy("cell_id")
    rows = wide.collect()
    assert rows[0].f1 == 1.0 and rows[0].f2 == 2.0
    assert rows[1].f1 == 3.0 and rows[1].f2 is None  # outer fill rule: null
    with pytest.raises(ValueError, match="guardrail"):
        matrix_to_wide(x, "cell_id", "feature_id", "value", [f"f{i}" for i in range(5000)])


def test_manifest_tsv_roundtrip(spark, tmp_path):
    # all-string read + Unnamed: 0 artifact drop (bin/concatenate.py:108,121)
    from atac_data_products_spark.sources.tsv import scan_tsv_manifest

    p = tmp_path / "uuids.tsv"
    p.write_text(
        "Unnamed: 0\tuuid\thubmap_id\tage\tsex\theight\tweight\tbmi\tcause_of_death\trace\n"
        "0\tu1\tHBM1\t40\tF\t160\t60\t23\t\tWhite\n"
    )
    df = scan_tsv_manifest(spark, str(p))
    assert "Unnamed: 0" not in df.columns
    row = df.first()
    assert row.uuid == "u1" and row.age == "40"  # stays string until cast


def test_partitioned_write_prunes_at_planning_time(spark, tmp_path):
    """sink_partitioned_pruned's scale claim: a filter on the partition
    key becomes a PartitionFilter (directory pruning at planning time),
    not a row-level post-scan filter over every file."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "part")
    spark.range(1000).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("bucket")
    ).write.partitionBy("bucket").mode("overwrite").parquet(out)
    back = spark.read.parquet(out).where(F.col("bucket") == "2")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "isnotnull(bucket" in plan or "bucket" in plan.split("PartitionFilters")[1][:120]
    assert back.count() == 250


def test_compaction_hits_size_targeted_file_count(spark):
    """sink_compact_small_files' contract: the compacted directory holds
    ceil(bytes / target) parquet files — far fewer than the fragmented
    input — and the same rows."""
    import glob
    import os

    from atac_data_products_spark.registry import (
        COMPACT_TARGET_BYTES,
        sink_compact_small_files,
    )
    from atac_data_products_spark import registry

    back = sink_compact_small_files(spark, "/root/testdata/sf0.01")
    assert back.count() == 500

    root = registry._STAGING_ROOT
    frag_dirs = sorted(glob.glob(os.path.join(root, "compact", "frag_*")))
    out_dirs = sorted(glob.glob(os.path.join(root, "compact", "out_*")))
    assert frag_dirs and out_dirs
    frag, out = frag_dirs[-1], out_dirs[-1]
    n_frag = len(glob.glob(os.path.join(frag, "*.parquet")))
    n_out = len(glob.glob(os.path.join(out, "*.parquet")))
    total = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(frag, "*.parquet"))
    )
    expected = max(1, -(-total // COMPACT_TARGET_BYTES))
    assert n_frag == 64
    assert n_out == expected
    assert n_out < n_frag
