"""Greedy one-to-one assignment, reference-parity mode (SURVEY.md §2.3 J6).

The reference sorts all candidate pairs by score descending and accepts a pair
iff neither side has been used (ref: src/match_utils.py:497-511).  This is
inherently sequential *within a block*, but blocks are independent — so the
Spark expression is applyInPandas per blocking key running the same greedy
loop on the (skew-capped, hence small) block.

Determinism (SURVEY §7.4.1): within a block, ties are broken by
(-score, left_id, right_id) — total order, so output is independent of
partitioning and row order.  Scores are rounded to 4dp upstream (the
reference rounds too, :489), which keeps the sort float-stable.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

RESOLVE_SCHEMA = StructType(
    [
        StructField("block_key", StringType()),
        StructField("left_id", StringType()),
        StructField("right_id", StringType()),
        StructField("score", DoubleType()),
    ]
)

# Safety net, not a tuning knob: the blocking stage's skew caps (reference
# MAX_REFS=MAX_BIBS=200, ref: src/match_utils.py:592-595 -> <=19,900 pairs
# per block) keep real blocks orders of magnitude below this.  A block this
# size reaching the greedy loop means an uncapped upstream — fail loudly
# rather than let one applyInPandas task straggle/OOM at scale.
DEFAULT_MAX_BLOCK_PAIRS = 2_000_000


def _greedy_block(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(
        ["score", "left_id", "right_id"], ascending=[False, True, True], kind="mergesort"
    )
    used_l: set[str] = set()
    used_r: set[str] = set()
    keep = []
    for row in pdf.itertuples(index=False):
        if row.left_id in used_l or row.right_id in used_r:
            continue
        used_l.add(row.left_id)
        used_r.add(row.right_id)
        keep.append(row)
    return pd.DataFrame(keep, columns=pdf.columns) if keep else pdf.iloc[0:0]


def greedy_one_to_one(
    scored_pairs: DataFrame,
    threshold: float,
    block_col: str = "block_key",
    max_block_pairs: int | None = DEFAULT_MAX_BLOCK_PAIRS,
) -> DataFrame:
    """Per-block greedy 1:1 matching of pairs with score >= threshold.

    ``max_block_pairs`` is a loud executor-side guard: each block is one
    applyInPandas task, so an unbounded block (an uncapped caller) becomes a
    single-task straggler or OOM at scale.  The check runs inside the pandas
    function — zero extra Spark jobs — and raises with the offending block
    key.  ``None`` disables (caller certifies its own capping)."""
    pruned = scored_pairs.select(
        block_col, "left_id", "right_id", "score"
    ).where(scored_pairs["score"] >= threshold)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if max_block_pairs is not None and len(pdf) > max_block_pairs:
            key = pdf[block_col].iloc[0] if len(pdf) else "?"
            raise ValueError(
                f"greedy_one_to_one: block {key!r} has {len(pdf)} pairs > "
                f"max_block_pairs={max_block_pairs}. The blocking stage's skew "
                "caps (reference 200x200, src/match_utils.py:592-595) bound "
                "blocks far below this — cap candidate generation upstream "
                "(blocking.candidate_pairs / cap_block) or pass a larger "
                "max_block_pairs / None to certify this block is intentional."
            )
        return _greedy_block(pdf)

    return pruned.groupBy(block_col).applyInPandas(run, schema=RESOLVE_SCHEMA)
