"""Wide-matrix pivot with operational guardrails (SURVEY.md §4.2, hard
part §7.1).

The engine's canonical matrix form is long/COO; a wide (cells ×
features) materialization is produced only on demand, and only bounded:
an unconstrained `pivot(feature_id)` over a 100k-bin ATAC matrix would
build a 100k-column plan (Catalyst chokes far earlier than storage
does).  Rules enforced here:

- the pivot value list is EXPLICIT (no discovery pass, no surprise
  width — the reference's anndata objects are implicitly wide, which is
  exactly its memory wall, bin/concatenate.py:128-136);
- width is capped (default 4000 columns — comfortably inside plan-size
  sanity);
- wider access patterns belong in long form or a map column
  (`map_from_entries(collect_list(struct(feature, value)))`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_PIVOT_WIDTH = 4000


def matrix_to_wide(
    x: DataFrame,
    row_key: str,
    col_key: str,
    value_col: str,
    col_values: Sequence,
    max_width: int = MAX_PIVOT_WIDTH,
) -> DataFrame:
    """Long/COO → wide pivot, summed per cell (duplicate-safe), bounded
    width, absent pairs null (the outer-union fill rule, documented per
    SURVEY hard-part 2)."""
    if len(col_values) > max_width:
        raise ValueError(
            f"pivot width {len(col_values)} exceeds the {max_width}-column "
            "guardrail; use the long form or a map column for wider access"
        )
    return x.groupBy(row_key).pivot(col_key, list(col_values)).agg(F.sum(value_col))

