"""Golden end-to-end product-build test (SURVEY.md §5.2.2).

Reference-shaped fixtures (FIXTURES.md) at toy scale, exercising every
edge case: unmanifested dataset (dropped by J2), one-modality cells
(dropped by J1), features present in only some datasets (kept by U1),
BAM_data# barcode prefixes, age cast.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import functions as F

from atac_data_products_spark.plans.product import build_product, finalize_and_write


def _fixtures(spark):
    manifest = spark.createDataFrame(
        [
            ("ds1", "HBM1.AAAA.111", "40", "F", "160", "60", "23.4", None, "White"),
            ("ds2", "HBM2.BBBB.222", "55", "M", "175", "80", "26.1", None, "Asian"),
            # ds3 exists in matrices but NOT here → its cells must drop (edge 1)
        ],
        "uuid string, hubmap_id string, age string, sex string, height string, "
        "weight string, bmi string, cause_of_death string, race string",
    )
    coo = "dataset string, barcode string, feature_id string, value double"
    cbb = [
        spark.createDataFrame(
            [
                ("ds1", "BAM_data#AAAC", "chr1:0-500", 2.0),
                ("ds1", "BAM_data#AAAC", "chr1:500-1000", 1.0),
                ("ds1", "GGGT", "chr1:0-500", 3.0),
                ("ds1", "TTTT", "chr1:0-500", 1.0),  # bin-only cell (edge 2)
            ],
            coo,
        ),
        spark.createDataFrame(
            [
                ("ds2", "CCCC", "chr2:0-500", 5.0),  # feature only in ds2 (edge 3)
                ("ds3", "ZZZZ", "chr1:0-500", 9.0),  # unmanifested dataset (edge 1)
            ],
            coo,
        ),
    ]
    cbg = [
        spark.createDataFrame(
            [
                ("ds1", "BAM_data#AAAC", "GENE1", 7.0),
                ("ds1", "GGGT", "GENE2", 4.0),
                ("ds2", "CCCC", "GENE1", 2.0),
                ("ds2", "DDDD", "GENE1", 8.0),  # gene-only cell (edge 2)
                ("ds3", "ZZZZ", "GENE1", 1.0),
            ],
            coo,
        ),
    ]
    return manifest, {"atac_cell_by_bin": cbb, "atac_cell_by_gene": cbg}


def test_product_build_golden(spark, tmp_path):
    manifest, mats = _fixtures(spark)
    result = build_product(manifest, mats, tissue="kidney", product_uuid="p-123")
    meta = finalize_and_write(result, manifest, str(tmp_path / "product"))

    # golden obs: cells in BOTH modalities AND manifested datasets:
    # ds1-AAAC (prefix stripped), ds1-GGGT, ds2-CCCC;
    # ds1-TTTT bin-only, ds2-DDDD gene-only, ds3-ZZZZ unmanifested → out
    obs = {r.cell_id: r for r in result.obs.collect()}
    assert set(obs) == {"ds1-AAAC", "ds1-GGGT", "ds2-CCCC"}
    assert obs["ds1-AAAC"].age == 40.0  # string→double cast
    assert obs["ds2-CCCC"].race == "Asian"
    assert obs["ds1-AAAC"].tissue == "kidney"

    # golden var union: outer feature alignment keeps per-dataset features
    x_bin, var_bin = result.modalities["atac_cell_by_bin"]
    assert {r.feature_id for r in var_bin.collect()} == {
        "chr1:0-500", "chr1:500-1000", "chr2:0-500",
    }
    # matrix restricted to surviving cells
    assert {r.cell_id for r in x_bin.collect()} == {"ds1-AAAC", "ds1-GGGT", "ds2-CCCC"}

    # golden metadata (A1/A2)
    assert meta["cell_count"] == 3
    assert meta["dataset_count"] == 2
    assert meta["dataset_uuids"] == ["ds1", "ds2"]
    assert meta["dataset_hbmids"] == ["HBM1.AAAA.111", "HBM2.BBBB.222"]
    assert meta["product_uuid"] == "p-123"

    # product directory layout + readback
    out = tmp_path / "product"
    assert (out / "product.json").exists()
    with open(out / "product.json") as f:
        assert json.load(f)["cell_count"] == 3
    back = spark.read.parquet(str(out / "x_atac_cell_by_bin"))
    assert back.count() == 4  # AAAC×2 + GGGT×1 (ds1) + CCCC×1 (ds2)
    # partitioned by dataset for pruning
    assert any(p.startswith("dataset=") for p in os.listdir(out / "x_atac_cell_by_bin"))


def test_product_partition_pruning(spark, tmp_path):
    manifest, mats = _fixtures(spark)
    result = build_product(manifest, mats, tissue=None)
    finalize_and_write(result, manifest, str(tmp_path / "p"))
    back = spark.read.parquet(str(tmp_path / "p" / "x_atac_cell_by_bin"))
    plan = back.filter(F.col("dataset") == "ds1")._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan (no dataset rows from ds2 read)
    assert "PartitionFilters" in plan and "dataset" in plan


def test_product_write_to_filesystem_uri(spark, tmp_path):
    """The s3a-readiness claim, exercised: write_product against an
    explicit `file://` URI goes through the Hadoop FileSystem API for
    every artifact including product.json (no local open()/os.makedirs
    assumptions), which is the identical code path an `s3a://` target
    takes with credentials in the Hadoop conf."""
    manifest, mats = _fixtures(spark)
    result = build_product(manifest, mats, tissue="kidney", product_uuid="p-uri")
    uri = "file://" + str(tmp_path / "product_uri")
    meta = finalize_and_write(result, manifest, uri)
    assert meta["product_uuid"] == "p-uri"

    out = tmp_path / "product_uri"
    with open(out / "product.json") as f:
        assert json.load(f)["cell_count"] == 3
    back = spark.read.parquet(uri + "/x_atac_cell_by_bin")
    assert back.count() == 4


def test_build_product_cli_end_to_end(spark, tmp_path, monkeypatch):
    """tools/build_product.py — the bin/concatenate.py-equivalent CLI —
    must reproduce the golden product from files on disk (TSV manifest +
    long-form parquet matrices).  Runs in-process: get_spark's
    getOrCreate rejoins the test session."""
    import sys as _sys

    from tools import build_product as cli

    manifest, mats = _fixtures(spark)
    # manifest as a reference-shaped TSV (with the index artifact)
    pdf = manifest.toPandas()
    pdf.insert(0, "Unnamed: 0", range(len(pdf)))
    tsv = tmp_path / "manifest.tsv"
    pdf.to_csv(tsv, sep="\t", index=False)
    matrix_args = []
    for mod, dfs in mats.items():
        for i, df in enumerate(dfs):
            p = tmp_path / f"{mod}_{i}.parquet"
            df.write.mode("overwrite").parquet(str(p))
            matrix_args += ["--matrix", f"{mod}={p}"]
    out = tmp_path / "product_cli"

    monkeypatch.setattr(
        _sys, "argv",
        ["build_product.py", str(out), "--manifest", str(tsv),
         "--tissue", "kidney", "--product-uuid", "p-cli"] + matrix_args,
    )
    assert cli.main() == 0
    assert (out / "product.json").exists()
    import json as _json

    with open(out / "product.json") as f:
        meta = _json.load(f)
    assert meta["cell_count"] == 3
    assert meta["dataset_uuids"] == ["ds1", "ds2"]
    obs = spark.read.parquet(str(out / "obs"))
    assert {r.cell_id for r in obs.collect()} == {
        "ds1-AAAC", "ds1-GGGT", "ds2-CCCC"
    }


def test_incremental_append_equals_full_rebuild(spark, tmp_path):
    """append_dataset_to_product(ds2) onto a ds1-only product must equal
    the full two-dataset rebuild (the dataset-local decomposition
    argument), and re-running the append must be idempotent (dynamic
    partition overwrite)."""
    from atac_data_products_spark.plans.product import append_dataset_to_product

    manifest, mats = _fixtures(spark)

    # full rebuild (ground truth)
    full_dir = str(tmp_path / "full")
    finalize_and_write(
        build_product(manifest, mats, tissue="kidney", product_uuid="p-full"),
        manifest,
        full_dir,
    )

    # ds1-only product, then append ds2 incrementally
    inc_dir = str(tmp_path / "inc")
    m1 = manifest.where(F.col("uuid") == "ds1")
    mats1 = {
        mod: [df.where(F.col("dataset").isin("ds1")) for df in dfs]
        for mod, dfs in mats.items()
    }
    finalize_and_write(
        build_product(m1, mats1, tissue="kidney", product_uuid="p-inc"),
        m1,
        inc_dir,
    )
    new_mats = {
        mod: dfs[0].sparkSession.createDataFrame(
            [r for df in dfs for r in df.where(F.col("dataset") == "ds2").collect()],
            dfs[0].schema,
        )
        for mod, dfs in mats.items()
    }
    meta1 = append_dataset_to_product(
        spark, inc_dir, manifest, "ds2", new_mats, tissue="kidney"
    )
    # idempotency: append the same dataset again
    meta2 = append_dataset_to_product(
        spark, inc_dir, manifest, "ds2", new_mats, tissue="kidney"
    )
    assert meta1["cell_count"] == meta2["cell_count"]

    import pandas as pd

    def table(base, name):
        pdf = spark.read.parquet(f"{base}/{name}").toPandas()
        pdf = pdf[sorted(pdf.columns)]
        return pdf.sort_values(by=list(pdf.columns), ignore_index=True)

    for name in ["obs", "x_atac_cell_by_bin", "x_atac_cell_by_gene",
                 "var_atac_cell_by_bin", "var_atac_cell_by_gene"]:
        pd.testing.assert_frame_equal(table(inc_dir, name), table(full_dir, name))

    full_meta = json.loads(open(os.path.join(full_dir, "product.json")).read())
    assert meta2["cell_count"] == full_meta["cell_count"]
    assert meta2["dataset_uuids"] == full_meta["dataset_uuids"]


def test_append_leaves_session_conf_alone(spark, tmp_path, monkeypatch):
    """append_dataset_to_product asks for dynamic partition overwrite on
    its own writes: it sets no session conf, so a write another thread
    runs meanwhile keeps the session's overwrite mode."""
    from pyspark.sql.conf import RuntimeConfig

    from atac_data_products_spark.plans.product import append_dataset_to_product

    manifest, mats = _fixtures(spark)
    m1 = manifest.where(F.col("uuid") == "ds1")
    mats1 = {
        mod: [df.where(F.col("dataset") == "ds1") for df in dfs]
        for mod, dfs in mats.items()
    }
    inc_dir = str(tmp_path / "inc")
    finalize_and_write(build_product(m1, mats1, tissue="kidney"), m1, inc_dir)
    new = {mod: _dataset_rows(dfs, "ds2") for mod, dfs in mats.items()}

    sets = []
    real_set = RuntimeConfig.set
    monkeypatch.setattr(
        RuntimeConfig,
        "set",
        lambda self, k, v: (sets.append((k, v)), real_set(self, k, v))[1],
    )
    append_dataset_to_product(spark, inc_dir, manifest, "ds2", new, tissue="kidney")
    assert sets == []


def _product_tables(spark, base):
    import pandas as pd  # noqa: F401

    def table(name):
        pdf = spark.read.parquet(f"{base}/{name}").toPandas()
        pdf = pdf[sorted(pdf.columns)]
        for c in pdf.columns:
            pdf[c] = pdf[c].astype(str)
        return pdf.sort_values(by=list(pdf.columns), ignore_index=True)

    return table


def test_readd_with_changed_dataset_equals_rebuild(spark, tmp_path):
    """Re-adding a dataset whose NEW version dropped features must leave
    no stale var rows / x partitions (ADVICE r03, medium): the result
    must equal a full rebuild over the changed inputs."""
    import pandas as pd

    from atac_data_products_spark.plans.product import append_dataset_to_product

    manifest, mats = _fixtures(spark)
    coo = "dataset string, barcode string, feature_id string, value double"

    # build the two-dataset product first
    inc_dir = str(tmp_path / "inc")
    finalize_and_write(
        build_product(manifest, mats, tissue="kidney", product_uuid="p"),
        manifest,
        inc_dir,
    )

    # ds2 v2: feature chr2:0-500 DROPPED from cbb, replaced by chr3:0-500
    ds2_cbb_v2 = spark.createDataFrame(
        [("ds2", "CCCC", "chr3:0-500", 6.0)], coo
    )
    ds2_cbg_v2 = spark.createDataFrame(
        [("ds2", "CCCC", "GENE2", 3.0)], coo
    )
    new_mats = {"atac_cell_by_bin": ds2_cbb_v2, "atac_cell_by_gene": ds2_cbg_v2}
    meta = append_dataset_to_product(
        spark, inc_dir, manifest, "ds2", new_mats, tissue="kidney"
    )

    # ground truth: full rebuild with the v2 inputs
    full_dir = str(tmp_path / "full")
    mats_v2 = {
        "atac_cell_by_bin": [
            mats["atac_cell_by_bin"][0],
            spark.createDataFrame(
                [r for r in mats["atac_cell_by_bin"][1].collect()
                 if r.dataset != "ds2"],
                coo,
            ),
            ds2_cbb_v2,
        ],
        "atac_cell_by_gene": [
            spark.createDataFrame(
                [r for r in mats["atac_cell_by_gene"][0].collect()
                 if r.dataset != "ds2"],
                coo,
            ),
            ds2_cbg_v2,
        ],
    }
    full_meta = finalize_and_write(
        build_product(manifest, mats_v2, tissue="kidney", product_uuid="p"),
        manifest,
        full_dir,
    )

    t_inc = _product_tables(spark, inc_dir)
    t_full = _product_tables(spark, full_dir)
    for name in ["obs", "x_atac_cell_by_bin", "x_atac_cell_by_gene",
                 "var_atac_cell_by_bin", "var_atac_cell_by_gene"]:
        pd.testing.assert_frame_equal(t_inc(name), t_full(name))
    # the dropped feature must be GONE from var
    var = spark.read.parquet(f"{inc_dir}/var_atac_cell_by_bin")
    assert "chr2:0-500" not in {r.feature_id for r in var.collect()}
    assert meta["cell_count"] == full_meta["cell_count"]
    assert meta["dataset_uuids"] == full_meta["dataset_uuids"]
    assert meta["dataset_count"] == len(meta["dataset_uuids"])


def test_readd_missing_modality_removes_dataset(spark, tmp_path):
    """A re-add lacking one of the product's modalities contributes zero
    intersected cells (J1): the dataset must vanish from obs and from
    BOTH modalities' x/var — no stale x partition left behind."""
    from atac_data_products_spark.plans.product import append_dataset_to_product

    manifest, mats = _fixtures(spark)
    coo = "dataset string, barcode string, feature_id string, value double"
    inc_dir = str(tmp_path / "inc")
    finalize_and_write(
        build_product(manifest, mats, tissue="kidney", product_uuid="p"),
        manifest,
        inc_dir,
    )

    only_cbb = {"atac_cell_by_bin": spark.createDataFrame(
        [("ds2", "CCCC", "chr2:0-500", 5.0)], coo
    )}
    meta = append_dataset_to_product(
        spark, inc_dir, manifest, "ds2", only_cbb, tissue="kidney"
    )
    obs = spark.read.parquet(f"{inc_dir}/obs")
    assert {r.dataset for r in obs.collect()} == {"ds1"}
    for name in ["x_atac_cell_by_bin", "x_atac_cell_by_gene",
                 "var_atac_cell_by_bin", "var_atac_cell_by_gene"]:
        t = spark.read.parquet(f"{inc_dir}/{name}")
        assert {r.dataset for r in t.collect()} == {"ds1"}, name
    assert meta["dataset_uuids"] == ["ds1"]
    assert meta["dataset_count"] == 1


def test_append_new_modality_rejected(spark, tmp_path):
    """Appending a dataset that introduces a modality the product lacks
    would shrink every other dataset's cell set in a rebuild — not
    expressible incrementally; the contract is an explicit rejection."""
    import pytest

    from atac_data_products_spark.plans.product import append_dataset_to_product

    manifest, mats = _fixtures(spark)
    coo = "dataset string, barcode string, feature_id string, value double"
    inc_dir = str(tmp_path / "inc")
    finalize_and_write(
        build_product(manifest, mats, tissue="kidney", product_uuid="p"),
        manifest,
        inc_dir,
    )
    with_extra = {
        "atac_cell_by_bin": spark.createDataFrame(
            [("ds2", "CCCC", "chr2:0-500", 5.0)], coo),
        "atac_cell_by_gene": spark.createDataFrame(
            [("ds2", "CCCC", "GENE1", 2.0)], coo),
        "atac_cell_by_peak": spark.createDataFrame(
            [("ds2", "CCCC", "peak1", 1.0)], coo),
    }
    with pytest.raises(ValueError, match="rebuild"):
        append_dataset_to_product(
            spark, inc_dir, manifest, "ds2", with_extra, tissue="kidney"
        )


def test_text_uri_round_trip(spark, tmp_path):
    """_read_text_uri is the exact inverse of _write_text_uri through
    the Hadoop FileSystem seam: multi-line, non-ASCII UTF-8 survives."""
    from atac_data_products_spark.sinks.writers import (
        _read_text_uri,
        _write_text_uri,
    )

    uri = "file://" + str(tmp_path / "meta.json")
    text = 'line one\n  "Größe": "ü",\n三行目 — ✓ 🧬\n\nlast'
    _write_text_uri(spark, uri, text)
    assert _read_text_uri(spark, uri) == text


def _assert_metadata_matches_disk(spark, base):
    meta = json.loads(open(os.path.join(base, "product.json")).read())
    obs = spark.read.parquet(f"{base}/obs")
    on_disk = sorted(r.dataset for r in obs.select("dataset").distinct().collect())
    assert meta["cell_count"] == obs.count()
    assert meta["dataset_count"] == len(on_disk)
    assert meta["dataset_uuids"] == on_disk
    return meta


def test_append_sequence_metadata_matches_obs(spark, tmp_path):
    """After a new append, a changed re-add and a removal, product.json's
    cell_count and dataset_count equal the obs rows and datasets on
    disk after every step (both derive from the merged obs)."""
    from atac_data_products_spark.plans.product import append_dataset_to_product

    manifest, mats = _fixtures(spark)
    coo = "dataset string, barcode string, feature_id string, value double"
    inc_dir = str(tmp_path / "inc")
    m1 = manifest.where(F.col("uuid") == "ds1")
    mats1 = {
        mod: [df.where(F.col("dataset") == "ds1") for df in dfs]
        for mod, dfs in mats.items()
    }
    finalize_and_write(
        build_product(m1, mats1, tissue="kidney", product_uuid="p"), m1, inc_dir
    )
    _assert_metadata_matches_disk(spark, inc_dir)

    ds2_new = {
        "atac_cell_by_bin": spark.createDataFrame(
            [("ds2", "CCCC", "chr2:0-500", 5.0), ("ds2", "DDDD", "chr2:0-500", 1.0)],
            coo,
        ),
        "atac_cell_by_gene": spark.createDataFrame(
            [("ds2", "CCCC", "GENE1", 2.0), ("ds2", "DDDD", "GENE1", 8.0)], coo
        ),
    }
    ds2_changed = {
        "atac_cell_by_bin": spark.createDataFrame(
            [("ds2", "CCCC", "chr3:0-500", 6.0)], coo
        ),
        "atac_cell_by_gene": spark.createDataFrame(
            [("ds2", "CCCC", "GENE2", 3.0), ("ds2", "EEEE", "GENE2", 1.0)], coo
        ),
    }
    ds1_removal = {"atac_cell_by_bin": spark.createDataFrame(
        [("ds1", "GGGT", "chr1:0-500", 3.0)], coo
    )}
    expected = [
        ("ds2", ds2_new, 4, ["ds1", "ds2"]),
        ("ds2", ds2_changed, 3, ["ds1", "ds2"]),
        ("ds1", ds1_removal, 1, ["ds2"]),
    ]
    for ds, new, cells, datasets in expected:
        meta = append_dataset_to_product(
            spark, inc_dir, manifest, ds, new, tissue="kidney"
        )
        on_disk = _assert_metadata_matches_disk(spark, inc_dir)
        assert meta == on_disk
        assert meta["cell_count"] == cells
        assert meta["dataset_uuids"] == datasets


def test_build_and_append_write_the_same_summary(spark, tmp_path):
    """A manifested dataset with bin cells only has no cell in obs: the
    build lists only the datasets present, as an append does, so an
    unchanged re-add leaves product.json as the build wrote it."""
    from atac_data_products_spark.plans.product import append_dataset_to_product

    manifest, mats = _fixtures(spark)
    coo = "dataset string, barcode string, feature_id string, value double"
    manifest = manifest.unionByName(
        spark.createDataFrame(
            [("ds4", "HBM4.DDDD.444", "30", "F", None, None, None, None, None)],
            manifest.schema,
        )
    )
    bins_only = spark.createDataFrame([("ds4", "QQQQ", "chr1:0-500", 1.0)], coo)
    mats["atac_cell_by_bin"] = mats["atac_cell_by_bin"] + [bins_only]
    out = str(tmp_path / "p")
    meta = finalize_and_write(
        build_product(manifest, mats, tissue="kidney", product_uuid="p"),
        manifest,
        out,
    )
    assert meta["dataset_count"] == len(meta["dataset_uuids"]) == 2
    assert meta["dataset_uuids"] == ["ds1", "ds2"]
    assert meta["dataset_hbmids"] == ["HBM1.AAAA.111", "HBM2.BBBB.222"]
    built = _assert_metadata_matches_disk(spark, out)

    ds2 = {mod: _dataset_rows(dfs, "ds2") for mod, dfs in mats.items()}
    append_dataset_to_product(spark, out, manifest, "ds2", ds2, tissue="kidney")
    assert _assert_metadata_matches_disk(spark, out) == built


def _dataset_rows(dfs, dataset):
    """One dataset's rows of a modality's per-dataset frames."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out.where(F.col("dataset") == dataset)


def _jobs_run(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count guard")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the async bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_product_job_counts(spark, tmp_path):
    """Guard against re-executing the cell-set plan: build_product runs
    no job, and finalize_and_write / a "new" append compute obs once
    and derive every count and table from that result."""
    from atac_data_products_spark.plans.product import append_dataset_to_product

    manifest, mats = _fixtures(spark)
    m1 = manifest.where(F.col("uuid") == "ds1")
    mats1 = {
        mod: [df.where(F.col("dataset") == "ds1") for df in dfs]
        for mod, dfs in mats.items()
    }
    inc_dir = str(tmp_path / "inc")
    result, build_jobs = _jobs_run(
        spark, lambda: build_product(m1, mats1, tissue="kidney")
    )
    _, finalize_jobs = _jobs_run(
        spark, lambda: finalize_and_write(result, m1, inc_dir)
    )
    new = {mod: dfs[-1].where(F.col("dataset") == "ds2") for mod, dfs in mats.items()}
    _, append_jobs = _jobs_run(
        spark,
        lambda: append_dataset_to_product(
            spark, inc_dir, manifest, "ds2", new, tissue="kidney"
        ),
    )
    assert build_jobs == 0
    # measured on this fixture (conftest session, local mode): 31 and 26
    # jobs; re-running the intersection per count and write took 46 and 93
    assert finalize_jobs <= 31
    assert append_jobs <= 26
