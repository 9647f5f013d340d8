"""Manifest-build pipeline tests (make_uuids_tsv.py parity).

Covers FIXTURES.md §8 donor_api_hits shape: filters, paging, and the
last-wins concept extraction (living_donor_data overwrites
organ_donor_data — edge case 8).
"""

from __future__ import annotations

from pyspark.sql import Row

from atac_data_products_spark.plans.manifest import build_manifest
from atac_data_products_spark.sinks.writers import write_manifest_tsv

REC = "array<struct<grouping_concept_preferred_term:string, data_value:string, preferred_term:string>>"
HITS_SCHEMA = (
    "uuid string, hubmap_id string, dataset_type string, data_access_level string, "
    f"origin_samples_organ string, next_revision_uuid string, "
    f"organ_donor_data {REC}, living_donor_data {REC}"
)


def _rec(concept, data_value=None, term=None):
    return Row(
        grouping_concept_preferred_term=concept,
        data_value=data_value,
        preferred_term=term,
    )


def _hits(spark):
    rows = [
        # u1: full donor metadata, Age appears in BOTH arrays → living wins
        (
            "u1", "HBM1", "ATACseq", "public", "LK", None,
            [_rec("Age", data_value="40"), _rec("Sex", term="Female"), _rec("Race", term="White")],
            [_rec("Age", data_value="41"), _rec("Body mass index", data_value="22.5")],
        ),
        # u2: organ-donor only
        ("u2", "HBM2", "ATACseq", "public", "RK", None,
         [_rec("Age", data_value="60"), _rec("Height", data_value="180")], []),
        # u3: superseded revision → filtered
        ("u3", "HBM3", "ATACseq", "public", "LK", "u9", [_rec("Age", data_value="1")], []),
        # u4: wrong assay → filtered
        ("u4", "HBM4", "RNAseq", "public", "LK", None, [], []),
        # u5: consortium access → filtered
        ("u5", "HBM5", "ATACseq", "consortium", "LK", None, [], []),
        # u6: selected, but no donor records at all → nulls (left join)
        ("u6", "HBM6", "ATACseq", "public", "HT", None, [], []),
    ]
    return spark.createDataFrame(rows, HITS_SCHEMA)


def test_build_manifest_filters_and_last_wins(spark):
    out = {r.uuid: r for r in build_manifest(_hits(spark)).collect()}
    assert set(out) == {"u1", "u2", "u6"}
    assert out["u1"].age == "41"  # living-donor overwrites organ-donor
    assert out["u1"].sex == "Female"  # preferred_term concept
    assert out["u1"].bmi == "22.5"
    assert out["u2"].height == "180" and out["u2"].sex is None
    assert out["u6"].age is None  # dataset kept even with no donor data


def test_build_manifest_organ_filter(spark):
    out = build_manifest(_hits(spark), organ_code="LK").collect()
    assert [r.uuid for r in out] == ["u1"]


def test_manifest_tsv_sink_no_index_column(spark, tmp_path):
    df = build_manifest(_hits(spark))
    path = str(tmp_path / "uuids_tsv")
    write_manifest_tsv(df, path)
    back = spark.read.options(sep="\t", header=True).csv(path)
    assert back.columns == [
        "uuid", "hubmap_id", "age", "sex", "height", "weight", "bmi",
        "cause_of_death", "race",
    ]  # no 'Unnamed: 0' artifact (§2.11)
    assert back.count() == 3


def test_build_manifest_cli_end_to_end(spark, tmp_path, monkeypatch):
    """tools/build_manifest.py — the make_uuids_tsv.py-equivalent CLI —
    from hits JSONL on disk to the manifest TSV, with the same filter /
    last-wins semantics as the library path."""
    import json as _json
    import sys as _sys
    from pathlib import Path

    from tools import build_manifest as cli

    hits = _hits(spark)
    jsonl = tmp_path / "hits.jsonl"
    with open(jsonl, "w") as f:
        for row in hits.toJSON().collect():
            f.write(row + "\n")
    out = tmp_path / "manifest.tsv"

    monkeypatch.setattr(
        _sys, "argv", ["build_manifest.py", str(jsonl), str(out)]
    )
    assert cli.main() == 0
    want = {r.uuid: r for r in build_manifest(hits).collect()}
    import csv

    # Spark csv sink writes a directory; the manifest coalesces to one part
    part = next(Path(out).glob("part-*"))
    with open(part) as f:
        got = list(csv.DictReader(f, delimiter="\t"))
    assert {r["uuid"] for r in got} == set(want)
    by_uuid = {r["uuid"]: r for r in got}
    assert by_uuid["u1"]["age"] == "41"  # living wins
    assert by_uuid["u1"]["race"] == "White"
