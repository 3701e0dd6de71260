"""Incremental view maintenance for algebraic aggregates.

At 100 TB you do not recompute a rollup because a day of data arrived — you
merge the day's partial aggregate into the materialized one. That works
exactly for *algebraic* measures (Gray et al., "Data Cube", 1997 terminology):
SUM and COUNT add, MIN/MAX combine by min/max, AVG derives from (SUM, COUNT).
Holistic measures (exact DISTINCT, exact percentiles) do NOT merge — maintain
a sketch instead (``functions/sketch.py``: KMV for distinct, CMS for
frequencies — both mergeable by construction).

This is the batch half of the incremental story; the streaming half is
``streaming/sink.py`` (foreachBatch merge-on-read CDC commits). Scale shape:
the delta aggregates first (map-side combine over the small delta), then one
key-partitioned full-outer join against the base — the base is never
rescanned, only shuffled on the same key it is already keyed by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def aggregate_delta(
    delta: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str] | None = None,
    count_col: str = "n",
    min_cols: dict[str, str] | None = None,
    max_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Partial aggregate of a delta batch in the merged table's schema.

    ``sum_cols``/``min_cols``/``max_cols`` map source column → output column.
    """
    aggs = [F.count(F.lit(1)).alias(count_col)]
    for src, out in (sum_cols or {}).items():
        aggs.append(F.sum(src).alias(out))
    for src, out in (min_cols or {}).items():
        aggs.append(F.min(src).alias(out))
    for src, out in (max_cols or {}).items():
        aggs.append(F.max(src).alias(out))
    return delta.groupBy(*keys).agg(*aggs)


def merge_aggregates(
    base: DataFrame,
    delta_agg: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    count_col: str = "n",
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
) -> DataFrame:
    """Merge a partial aggregate into the materialized one (full-outer join on
    the group keys; measures combine per their algebra). Column sets of
    ``base`` and ``delta_agg`` must match: keys + measures."""
    # Base and delta often share lineage (both derived from the same table),
    # which makes plain column references ambiguous after a self-join — rename
    # the delta side outright instead of relying on aliases.
    d = delta_agg.select([F.col(c).alias(f"_d_{c}") for c in delta_agg.columns])
    cond = [base[k].eqNullSafe(d[f"_d_{k}"]) for k in keys]
    joined = base.join(d, cond, "full")
    bcol = lambda c: base[c]
    dcol = lambda c: d[f"_d_{c}"]
    out_cols = [F.coalesce(bcol(k), dcol(k)).alias(k) for k in keys]
    zero = F.lit(0)
    out_cols.append(
        (F.coalesce(bcol(count_col), zero) + F.coalesce(dcol(count_col), zero)).alias(count_col)
    )
    for c in sum_cols:
        out_cols.append((F.coalesce(bcol(c), zero) + F.coalesce(dcol(c), zero)).alias(c))
    for c in min_cols or []:
        out_cols.append(F.least(bcol(c), dcol(c)).alias(c))  # least/greatest skip NULLs
    for c in max_cols or []:
        out_cols.append(F.greatest(bcol(c), dcol(c)).alias(c))
    return joined.select(*out_cols)


# ---------------------------------------------------------------------------
# Retractions (deletes in the delta)
# ---------------------------------------------------------------------------


def retract_aggregate_delta(
    delta: DataFrame,
    keys: list[str],
    op_col: str,
    sum_cols: dict[str, str] | None = None,
    count_col: str = "n",
) -> DataFrame:
    """SIGNED partial aggregate of a delta carrying inserts AND deletes
    (``op_col`` = +1 / −1): COUNT becomes Σop, SUM(x) becomes Σop·x — the
    group-invertible measures retract exactly with no base access (the DBSP
    / Materialize Z-set formulation). MIN/MAX are NOT invertible; see
    :func:`merge_with_retractions` for their group-scoped repair."""
    sign = F.col(op_col).cast("long")
    aggs = [F.sum(sign).alias(count_col)]
    for src, out in (sum_cols or {}).items():
        aggs.append(F.sum(sign * F.col(src)).alias(out))
    return delta.groupBy(*keys).agg(*aggs)


def merge_with_retractions(
    base_agg: DataFrame,
    delta: DataFrame,
    base_data: DataFrame,
    keys: list[str],
    row_key: str,
    op_col: str = "op",
    sum_cols: dict[str, str] | None = None,
    count_col: str = "n",
    max_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Maintain a materialized rollup under a delta containing DELETES.

    SUM/COUNT merge as signed deltas — one key-partitioned join, base DATA
    never read. MAX cannot un-see a deleted maximum, so it is REPAIRED for
    exactly the groups a delete touched: the post-delta rows of those groups
    (base_data anti-join deleted row keys, plus the delta's inserts) are
    re-aggregated and override the additive candidate. Untouched groups pay
    nothing beyond ``greatest(old, inserted)``; at scale the repair scan is
    partition-pruned to the touched groups. Groups whose count reaches zero
    disappear (a rollup never shows empty groups)."""
    sum_cols = sum_cols or {}
    d = retract_aggregate_delta(delta, keys, op_col, sum_cols, count_col)
    ins = delta.filter(F.col(op_col) == 1).drop(op_col)
    if max_cols:
        d_max = ins.groupBy(*keys).agg(
            *[F.max(src).alias(out) for src, out in max_cols.items()]
        )
        d = d.join(d_max, keys, "left")
    dd = d.select([F.col(c).alias(f"_d_{c}") for c in d.columns])
    cond = [base_agg[k].eqNullSafe(dd[f"_d_{k}"]) for k in keys]
    joined = base_agg.join(dd, cond, "full")
    zero = F.lit(0)
    out_cols = [
        F.coalesce(base_agg[k], dd[f"_d_{k}"]).alias(k) for k in keys
    ]
    out_cols.append(
        (
            F.coalesce(base_agg[count_col], zero)
            + F.coalesce(dd[f"_d_{count_col}"], zero)
        ).alias(count_col)
    )
    for out in sum_cols.values():
        out_cols.append(
            (F.coalesce(base_agg[out], zero) + F.coalesce(dd[f"_d_{out}"], zero)).alias(out)
        )
    for out in (max_cols or {}).values():
        out_cols.append(F.greatest(base_agg[out], dd[f"_d_{out}"]).alias(out))
    merged = joined.select(*out_cols)
    if max_cols:
        deletes = delta.filter(F.col(op_col) == -1)
        # NULL grouping keys are legal groups: every repair-path join below
        # must match them null-safely, or a NULL-keyed group touched by a
        # delete keeps its stale additive max — the exact bug the repair
        # exists to fix (mirrors the eqNullSafe main merge above).
        touched = deletes.select(
            *[F.col(k).alias(f"_t_{k}") for k in keys]
        ).distinct()
        # The repair only reads (row_key, keys, max sources): project both
        # union sides to exactly those columns so the anti-join and repair
        # aggregate shuffle the narrow tuple, never the full row width —
        # and so callers may hand a changelog already pruned to this set.
        need = list(dict.fromkeys([row_key, *keys, *max_cols.keys()]))
        survivors = base_data.select(*need).join(
            deletes.select(row_key), row_key, "left_anti"
        ).unionByName(ins.select(*need))
        post = survivors.join(
            touched,
            [survivors[k].eqNullSafe(touched[f"_t_{k}"]) for k in keys],
            "left_semi",
        )
        # touched-ness must be an explicit marker, NOT repaired-value
        # nullability: a touched group whose surviving rows are all NULL in
        # the max column has a NULL repaired max that must still override
        # the additive candidate (the deleted maximum is gone).
        repaired = post.groupBy(*keys).agg(
            *[F.max(src).alias(f"_r_{out}") for src, out in max_cols.items()]
        ).withColumn("_r_touched", F.lit(True))
        repaired = repaired.select(
            *[F.col(k).alias(f"_rk_{k}") for k in keys],
            *[F.col(f"_r_{out}") for out in max_cols.values()],
            F.col("_r_touched"),
        )
        merged = merged.join(
            repaired,
            [merged[k].eqNullSafe(repaired[f"_rk_{k}"]) for k in keys],
            "left",
        ).drop(*[f"_rk_{k}" for k in keys])
        fixed = [F.col(k) for k in keys] + [F.col(count_col)]
        fixed += [F.col(out) for out in sum_cols.values()]
        is_touched = F.coalesce(F.col("_r_touched"), F.lit(False))
        for out in max_cols.values():
            fixed.append(
                F.when(is_touched, F.col(f"_r_{out}")).otherwise(F.col(out)).alias(out)
            )
        merged = merged.select(*fixed)
    return merged.filter(F.col(count_col) > 0)


def delta_join_rows(
    base_left: DataFrame,
    base_right: DataFrame,
    delta_left: DataFrame,
    delta_right: DataFrame,
    keys: list[str],
) -> DataFrame:
    """The NEW rows of a materialized inner-join view after both inputs
    receive inserts — the bilinear delta rule (DBSP / differential
    dataflow): ``Δ(A ⋈ B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB``. The maintained view
    is ``V ∪ delta_join_rows(...)``; neither base relation is re-joined
    against the other.

    Scale shape: each term joins a DELTA against a base (or the other
    delta) — with day-sized deltas both ΔA sides broadcast, so refreshing
    a 100 TB join view costs two broadcast joins plus a delta×delta join,
    never a base×base shuffle. Inserts only; deletes compose with the
    signed Z-set discipline of :func:`merge_with_retractions`."""
    t1 = delta_left.join(base_right, keys, "inner")
    t2 = base_left.join(delta_right, keys, "inner")
    t3 = delta_left.join(delta_right, keys, "inner")
    return t1.unionByName(t2).unionByName(t3)


def maintain_from_changelog(
    base_agg: DataFrame,
    changelog: DataFrame,
    base_data: DataFrame,
    keys: list[str],
    row_key: str,
    change_col: str = "_change_type",
    sum_cols: dict[str, str] | None = None,
    count_col: str = "n",
    max_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Maintain a materialized rollup directly from a TABLE CHANGELOG —
    the consumer ``SnapshotTable.changes_between`` exists for: its
    'insert'/'delete' rows ARE the Z-set delta, so a snapshot table's
    rollup refreshes between any two versions without rescanning the
    table (``refreshed = maintain_from_changelog(old_rollup,
    t.changes_between(spark, v_old, v_new), t.read(spark,
    version=v_new), ...)``).

    Thin, deliberately: the changelog's ``_change_type`` maps to the
    signed op column and everything else is
    :func:`merge_with_retractions` — SUM/COUNT retract exactly, MAX
    repairs only the touched groups against ``base_data`` (the CURRENT
    snapshot read — under merge-on-read that read already subtracts the
    delete files, so the repair sees exactly the post-change rows).

    Scale shape inherits from both halves: the changelog is
    O(changes + one scan) by construction, the merge is one
    key-partitioned join against the change-sized signed delta — a 100 TB
    table's rollup refresh costs its changes, never its size."""
    delta = changelog.withColumn(
        "_op",
        F.when(F.col(change_col) == "insert", F.lit(1)).otherwise(F.lit(-1)),
    ).drop(change_col)
    return merge_with_retractions(
        base_agg,
        delta,
        base_data,
        keys,
        row_key,
        op_col="_op",
        sum_cols=sum_cols,
        count_col=count_col,
        max_cols=max_cols,
    )
