"""The product-build pipeline: reference-parity composition.

Re-expresses the core of `bin/concatenate.py:119-152` as one lazy Spark
plan over long/COO matrices:

  reference (eager, all datasets resident in RAM):
    read manifest → read all h5ads → strip obs → annotate
    → anndata.concat(join="outer") per modality      (:138-139)
    → MuData + intersect_obs                          (:99-102,144)
    → donor metadata merge + positional re-index      (:105-111)
    → age cast, cell count, uuid, timestamps          (:110,140-143)
    → write h5mu + metadata JSON                      (:150-152,81-96)

  this engine (lazy, partitioned, spill-safe):
    matrices arrive as long-form (dataset, barcode, feature_id, value)
    → annotate = column expressions (barcode clean, cell_id)
    → union = unionByName (outer feature alignment free in long form)
    → intersect = left-semi joins of the first modality's cells on
      every other modality's cell_id
    → donor join = broadcast hash inner join (keyed, order-free) = obs
    → at write time, obs (the surviving cell set) is computed ONCE by an
      eager checkpoint; x/var are each modality's union semi-joined to
      it, and the aggregates read it too (ProductResult.restricted_to)
    → product dir write (sinks.writers)

Deliberately NOT reproduced (§2.11): the positional re-index idiom, the
`Unnamed: 0` column, the URL/filename mismatch, the Response-object
organ lookup bug, and listing every manifest uuid/hbmid in the metadata
(bin/concatenate.py:122-123): product.json lists only the datasets with
cells in obs, so ``dataset_count == len(dataset_uuids)`` for the build
and for every append.
"""

from __future__ import annotations

import uuid as _uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.strings import concat_cell_id, replace_literal
from ..operators.joins import broadcast_dim_join
from ..operators.unions import union_outer
from ..sinks.writers import write_product
from ..spill import ckpt_eager as _ckpt_eager

BARCODE_PREFIX = "BAM_data#"  # stripped at bin/concatenate.py:67


@dataclass
class ProductResult:
    obs: DataFrame
    unioned: dict[str, DataFrame]  # modality -> annotated union (all cells)
    metadata: dict = field(default_factory=dict)

    def restricted_to(self, obs: DataFrame) -> dict[str, tuple[DataFrame, DataFrame]]:
        """Per modality, (x, var) restricted to the cells of ``obs``.

        Pass a checkpointed ``obs`` so every table derived from it reads
        one computed cell set instead of re-running the intersection.
        var is each dataset's feature CONTRIBUTION among those cells:
        partitioned by dataset on disk, a re-added dataset's stale
        features are replaced the same way its obs rows are
        (append_dataset_to_product).  Like x, it is restricted to cells
        present in every modality of a manifested dataset."""
        cells = obs.select("cell_id")
        out = {}
        for mod, union in self.unioned.items():
            x = union.join(cells, "cell_id", "left_semi").select(
                "dataset", "cell_id", "feature_id", "value"
            )
            var = (
                x.select("dataset", "feature_id")
                .distinct()
                .withColumn("modality", F.lit(mod))
            )
            out[mod] = (x, var)
        return out

    @property
    def modalities(self) -> dict[str, tuple[DataFrame, DataFrame]]:
        """name -> (x, var) over the lazy ``obs``."""
        return self.restricted_to(self.obs)


def annotate_matrix(x: DataFrame, tissue: str | None) -> DataFrame:
    """Per-cell annotation (bin/concatenate.py:66-77): clean barcode,
    constant tissue, cell_id = dataset-barcode.  Pure column expressions —
    the reference's per-row Python loops become codegen."""
    clean = replace_literal("barcode", BARCODE_PREFIX)
    return x.select(
        "dataset",
        clean.alias("barcode"),
        F.lit(tissue).cast("string").alias("tissue"),
        concat_cell_id("dataset", clean).alias("cell_id"),
        "feature_id",
        "value",
    )


def build_product(
    manifest: DataFrame,
    matrices_by_modality: dict[str, list[DataFrame]],
    tissue: str | None = None,
    product_uuid: str | None = None,
) -> ProductResult:
    """Compose the full product plan (lazy — nothing executes until the
    caller writes or counts).

    manifest: (uuid, hubmap_id, age, sex, height, weight, bmi,
               cause_of_death, race) all-string (scan_tsv_manifest).
    matrices_by_modality: modality → list of per-dataset long/COO frames
               (dataset, barcode, feature_id, value).
    """
    # 1. per-modality union of annotated per-dataset matrices (U1):
    #    long form makes outer feature alignment automatic.
    unioned = {
        mod: annotate_matrix(union_outer(dfs), tissue)
        for mod, dfs in matrices_by_modality.items()
    }

    # 2. modality intersection (J1, mu.pp.intersect_obs) and obs: one
    #    row per cell of the first modality (the reference takes cbb's
    #    obs at :145) present in every other modality, + donor metadata
    #    via broadcast inner join on dataset uuid (J2).  The inner join
    #    drops cells of unmanifested datasets — reference behavior worth
    #    keeping (FIXTURES edge case 1).
    mods = list(unioned)
    obs_cells = unioned[mods[0]].select("cell_id", "dataset", "barcode", "tissue").distinct()
    for other in mods[1:]:
        obs_cells = obs_cells.join(unioned[other].select("cell_id"), "cell_id", "left_semi")
    obs = broadcast_dim_join(
        obs_cells, manifest, obs_cells.dataset == manifest.uuid, "inner"
    ).drop("uuid")
    # 3. type normalization (age string → double, bin/concatenate.py:110)
    if "age" in obs.columns:
        obs = obs.withColumn("age", F.col("age").cast("double"))

    meta = {
        "product_uuid": product_uuid or str(_uuid.uuid4()),
        "tissue": tissue,
        "assay": "ATACseq",
        "modalities": sorted(mods),
    }
    return ProductResult(obs=obs, unioned=unioned, metadata=meta)


def _dataset_summary(obs: DataFrame, manifest: DataFrame) -> dict:
    """product.json's counts and lists (A1/A2) from a checkpointed obs:
    ``cell_count`` is its rows; the uuids and hbmids are the manifest
    rows of the datasets present in it, sorted, nulls dropped (as
    ``collect_list`` drops them); ``dataset_count`` is the uuid count,
    so the metadata never lists a dataset absent from the data."""
    cells = dict(obs.groupBy("dataset").count().collect())
    present = [
        r
        for r in manifest.select("uuid", "hubmap_id").collect()
        if r.uuid is not None and r.uuid in cells
    ]
    uuids = sorted(r.uuid for r in present)
    return {
        "cell_count": sum(cells.values()),
        "dataset_count": len(uuids),
        "dataset_uuids": uuids,
        "dataset_hbmids": sorted(r.hubmap_id for r in present if r.hubmap_id is not None),
    }


def finalize_and_write(result: ProductResult, manifest: DataFrame, out_dir: str) -> dict:
    """Execute the plan: compute the metadata aggregates (cell count A1,
    uuid/hbmid lists A2 — bin/concatenate.py:122-123,142-143) and write
    the product directory.  obs is checkpointed once; the summary and
    every table written read that one result."""
    obs = result.obs.transform(_ckpt_eager)
    metadata = {**result.metadata, **_dataset_summary(obs, manifest)}
    write_product(out_dir, obs, result.restricted_to(obs), metadata)
    return metadata


def append_dataset_to_product(
    spark,
    product_dir: str,
    manifest: DataFrame,
    dataset: str,
    new_matrices_by_modality: dict[str, DataFrame],
    tissue: str | None = None,
) -> dict:
    """INCREMENTAL product maintenance: add (or re-add) one dataset to an
    existing product directory without recomputing the rest — the
    capability the reference structurally cannot have (it re-reads and
    re-concatenates every dataset on every run, bin/concatenate.py:128-139).

    Correctness rests on a decomposition argument: every pipeline step is
    DATASET-LOCAL — cell ids are dataset-prefixed (annotate_matrix), so
    the modality intersection (J1) never links cells across datasets,
    and the donor join (J2) is keyed per dataset — hence
    ``product(all datasets) == union over datasets of product({ds})``,
    and appending ds is exactly building its mini-product and merging.
    (The golden test asserts this equality against a full rebuild.)

    The decomposition requires the mini-build to see the PRODUCT's
    modality set: a dataset missing one of the product's modalities
    contributes zero cells under intersect-obs (J1), so its append
    degenerates to a dataset REMOVAL; a dataset introducing a modality
    the product lacks would shrink every OTHER dataset's cell set in a
    rebuild — not expressible incrementally — and raises ValueError.

    Physical merge, per table:
      - explicit DELETE of the dataset's old ``dataset=<ds>`` partitions
        in every modality's x/var first (metadata-only FS deletes):
        dynamic overwrite alone cannot remove a partition it writes no
        rows into (feature-dropping re-adds, empty contributions,
        vanished datasets).
      - ``x_<modality>``: DYNAMIC partition overwrite — only the new
        dataset's partition is written, making re-runs IDEMPOTENT (a
        crashed append re-executes safely; a plain append mode would
        duplicate rows).  Existing partitions are untouched bytes.
      - ``var_<modality>``: same — var holds per-dataset feature
        CONTRIBUTIONS (ProductResult.restricted_to), so a re-added
        dataset whose new version dropped features leaves no stale var
        rows.
      - ``obs``: small (cell metadata); rewritten as (old minus this
        dataset) ∪ new, with the lineage broken by an eager checkpoint
        before overwriting the path being read.
      - ``product.json``: cell_count, dataset_uuids / dataset_hbmids /
        dataset_count derived from the merged obs' checkpoint by the
        same rule as the build (``_dataset_summary``: the manifest
        filtered to the datasets ACTUALLY PRESENT), so the metadata can
        never list datasets absent from the data nor disagree with the
        obs rows on disk.
    """
    from ..sinks.writers import (
        _delete_uri,
        _join_uri,
        _read_text_uri,
        _write_text_uri,
    )
    import json as _json

    prev_meta = _json.loads(
        _read_text_uri(spark, _join_uri(product_dir, "product.json"))
    )
    product_mods = set(prev_meta.get("modalities", []))
    new_mods = set(new_matrices_by_modality)
    extra = new_mods - product_mods
    if product_mods and extra:
        raise ValueError(
            f"dataset {dataset!r} introduces modalities {sorted(extra)} the "
            f"product lacks; under intersect-obs semantics this changes every "
            f"other dataset's cell set — rebuild the product instead"
        )

    if product_mods and (product_mods - new_mods):
        # missing a product modality → zero intersected cells: removal
        mini_modalities: dict[str, tuple[DataFrame, DataFrame]] = {}
        new_obs = None
    else:
        row = manifest.where(F.col("uuid") == dataset)
        mini = build_product(
            row,
            {mod: [df] for mod, df in new_matrices_by_modality.items()},
            tissue=tissue,
        )
        new_obs = mini.obs.transform(_ckpt_eager)
        mini_modalities = mini.restricted_to(new_obs)

    old_obs = spark.read.parquet(_join_uri(product_dir, "obs"))
    obs_kept = old_obs.where(F.col("dataset") != dataset)
    merged_obs = (
        obs_kept.unionByName(new_obs) if new_obs is not None else obs_kept
    ).transform(_ckpt_eager)

    # drop the dataset's prior contribution everywhere before writing
    # the new one — partition-directory deletes, no other bytes touched
    for mod in product_mods | new_mods:
        for table in (f"x_{mod}", f"var_{mod}"):
            _delete_uri(
                spark, _join_uri(product_dir, table, f"dataset={dataset}")
            )

    # dynamic overwrite per write (read by InsertIntoHadoopFsRelationCommand),
    # not the session conf: another thread's writes keep their own mode
    for mod, (x, var) in mini_modalities.items():
        (
            x.sortWithinPartitions("dataset", "cell_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("dataset")
            .parquet(_join_uri(product_dir, f"x_{mod}"))
        )
        (
            var.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("dataset")
            .parquet(_join_uri(product_dir, f"var_{mod}"))
        )
    merged_obs.write.mode("overwrite").parquet(_join_uri(product_dir, "obs"))

    metadata = {
        **prev_meta,
        **_dataset_summary(merged_obs, manifest),
        "modalities": sorted(product_mods | set(mini_modalities)),
    }
    _write_text_uri(
        spark,
        _join_uri(product_dir, "product.json"),
        _json.dumps(metadata, indent=2, sort_keys=True),
    )
    return metadata
