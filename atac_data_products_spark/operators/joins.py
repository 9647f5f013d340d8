"""Join operators (SURVEY.md §2.4).

All reference joins are equi-joins or set intersections on a key
(uuid / cell_id).  Spark-first mappings:

- J1 `intersect_keys` → left-semi joins, one per modality
  (mu.pp.intersect_obs, bin/concatenate.py:99-102).
- J2 `join_donor_metadata` → broadcast hash inner join (pandas merge +
  positional re-index at bin/concatenate.py:105-111; the positional
  idiom is deliberately NOT reproduced — keyed joins are order-free).
- J4 `zip_columns` → the one positional construct (pd.concat(axis=1),
  make_uuids_tsv.py:153-157), re-expressed as row_number over explicit
  total orders + equi-join, making it deterministic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def intersect_keys(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Restrict ``left`` to keys present in ``right`` (J1 half).

    A left-semi join never widens the row and never duplicates rows for
    multi-matches — exactly set-membership, and cheaper than inner+distinct
    (no right-side payload shuffled).
    """
    keys = [on] if isinstance(on, str) else list(on)
    return left.join(right.select(*keys).distinct(), keys, "left_semi")


def broadcast_dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on,
    how: str = "inner",
) -> DataFrame:
    """Fact-to-dimension join with an explicit broadcast hint.

    Dims here (manifest, organ codes, nation/region) are ≪ 10 MB: a
    broadcast hash join avoids shuffling the fact side entirely — the
    scale-critical property at 100 TB fact size.
    """
    return fact.join(F.broadcast(dim), on, how)


def zip_columns(
    left: DataFrame,
    right: DataFrame,
    left_order: Sequence[str],
    right_order: Sequence[str],
) -> DataFrame:
    """Positional column-zip of two equal-length frames (J4).

    The reference relies on pandas implicit row order
    (make_uuids_tsv.py:153-157).  Spark has no row order, so both sides
    are given explicit *total* orders (caller must pass unique sort keys)
    and zipped on row_number — computed with the DISTRIBUTED
    global_row_number (range-repartition + per-partition offsets,
    operators/windows.py) so arbitrarily large frames zip without a
    single-partition sort (round-5; previously a documented
    small-frame-only contract)."""
    from .windows import global_row_number

    ln = global_row_number(left, list(left_order), "__rn")
    rn = global_row_number(right, list(right_order), "__rn")
    return ln.join(rn, "__rn", "inner").drop("__rn")
