"""As-of (point-in-time) join — an operator Spark lacks natively.

``asof_join(left, right, ...)`` attaches, to every left row, the most recent
right row with ``right_ts <= left_ts`` (backward direction) for the same key —
the canonical "state as of event time" join of market-data and feature-store
pipelines.

Implementation is the **union + ordered window** formulation, NOT a range join:

1. tag and union both sides (one narrow map each),
2. one shuffle: partition by key, sort by (ts, side) — right rows sort before
   left rows at equal ts so ``<=`` is inclusive,
3. ``last(value, ignorenulls=True)`` over the running window carries the latest
   right-side values forward,
4. keep only left rows.

Cost: one shuffle of |L| + |R| rows and a per-partition sort — linear, no
quadratic range-condition explosion, no per-key driver loops. This is the
shape that survives 100 TB; a naive ``l JOIN r ON key AND rts <= lts`` +
``row_number`` materializes O(|L| × matches) intermediates.

The DuckDB oracle uses its native ``ASOF JOIN`` — an independent implementation
agreeing bit-for-bit is strong evidence of correctness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Backward as-of join: latest right row with ``right_ts <= left_ts`` per key.

    Output: all left columns + each requested right column renamed
    ``<col><suffix>`` (NULL when no right row precedes the left row).
    """
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, right_ts)]

    l_tagged = left.withColumn("_side", F.lit(0)).withColumn("_ats", F.col(left_ts))
    for c in right_cols:
        l_tagged = l_tagged.withColumn(f"_r_{c}", F.lit(None).cast(dict(right.dtypes)[c]))

    r_tagged = right.select(
        F.col(on),
        F.col(right_ts).alias("_ats"),
        F.lit(1).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    )
    # align schemas for unionByName
    for c in left.columns:
        if c not in (on,):
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))

    unioned = l_tagged.unionByName(r_tagged.select(l_tagged.columns))

    # right rows (side=1) sort BEFORE left rows at equal ts → inclusive <=
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("_ats").asc(), F.col("_side").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned
    for c in right_cols:
        filled = filled.withColumn(
            f"{c}{suffix}", F.last(F.col(f"_r_{c}"), ignorenulls=True).over(w)
        )
    out_cols = left.columns + [f"{c}{suffix}" for c in right_cols]
    return filled.filter(F.col("_side") == 0).select(*out_cols)
