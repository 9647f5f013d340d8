"""Small dimension tables (SURVEY.md §2.1 scan_yaml_dim / scan_json_dim).

The reference bakes lookup dims into its Docker image: an organ-code YAML
(bin/organ_types.yaml), gene symbol↔ensembl JSON maps, and an
azimuth-label CSV (docker/Dockerfile:34).  The engine models the same
shape — tiny dimension DataFrames, always broadcast — parsed driver-side
and created with explicit schemas.  The organ entries below are a
representative subset of the public HuBMAP organ ontology (codes are
public identifiers), including (Left)/(Right) variants to exercise
laterality stripping (bin/concatenate.py:28).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# (code, description) — representative public organ codes incl. lateral pairs.
ORGAN_TYPES: list[tuple[str, str]] = [
    ("AO", "Aorta"),
    ("BL", "Bladder"),
    ("BD", "Blood"),
    ("BM", "Bone Marrow"),
    ("BR", "Brain"),
    ("HT", "Heart"),
    ("LK", "Kidney (Left)"),
    ("RK", "Kidney (Right)"),
    ("LI", "Large Intestine"),
    ("LV", "Liver"),
    ("LL", "Lung (Left)"),
    ("RL", "Lung (Right)"),
    ("LY", "Lymph Node"),
    ("SI", "Small Intestine"),
    ("SP", "Spleen"),
    ("TH", "Thymus"),
]


def organ_dim(spark: SparkSession) -> DataFrame:
    """Organ-code dimension (yaml → DataFrame, driver-side parse).

    Replaces the reference's two dict-lookup variants
    (bin/concatenate.py:22-35) with a broadcastable dim join target (J3).
    """
    return spark.createDataFrame(ORGAN_TYPES, "code string, description string")


GENE_MAP_SIZE = 40_000


def gene_map_dim(spark: SparkSession, n: int = GENE_MAP_SIZE) -> DataFrame:
    """Synthetic symbol↔ensembl gene map at the reference's real dim
    cardinality (data/symbol_to_ensembl.json ships ~57k entries, baked
    in at docker/Dockerfile:34) — the organ dim is 16 rows, so this is
    the dim-scale the reference actually joins against.

    Deterministic generation (same arithmetic as the DuckDB oracle):
    symbol GENE_<i>, ensembl ENSG<11-digit>.<version>.  ~40k rows ≈ a
    few MB — always broadcast; at 100 TB fact scale this stays a
    BroadcastHashJoin, never a shuffle."""
    from pyspark.sql import functions as F

    i = F.col("id")
    return spark.range(n).select(
        F.concat(F.lit("GENE_"), i.cast("string")).alias("symbol"),
        F.concat(
            F.lit("ENSG"),
            F.lpad(((i * 7919) % 100_000_000).cast("string"), 11, "0"),
            F.lit("."),
            (1 + i % 20).cast("string"),
        ).alias("ensembl_id"),
    )


def invert_dim(dim: DataFrame, key: str, value: str) -> DataFrame:
    """map_invert (make_uuids_tsv.py:13): direction is irrelevant once the
    lookup is a join — just swap the projected roles."""
    return dim.select(
        dim[value].alias("k"),
        dim[key].alias("v"),
    )

