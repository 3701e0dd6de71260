"""Merge / upsert over plain DataFrames — MERGE INTO semantics without a
transactional table format.

``merge_upsert`` implements the classic SCD-1 rule set:

* matched key → take the update row's values,
* unmatched update → insert,
* unmatched target → keep (or drop with ``delete_missing=True``, turning the
  merge into a full snapshot replace).

Shape: ONE full-outer shuffle join on the key, then a coalesce projection —
no driver loops, no collects. At 100 TB both sides hash-partition on the key.
Against a real Iceberg catalog the same call site would emit ``MERGE INTO``
and let the format do copy-on-write/merge-on-read; this operator is the
engine-level equivalent for raw parquet lakes, and composes with the schema
engine: run ``migrate_dataframe`` on the updates first when their schema is a
newer version of the target's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    delete_missing: bool = False,
) -> DataFrame:
    """Upsert ``updates`` into ``target`` by ``key``; both sides must share a
    schema (evolve the updates with ``migrate_dataframe`` first if not)."""
    if target.columns != updates.columns:
        raise ValueError(
            f"schema mismatch: target {target.columns} vs updates "
            f"{updates.columns}; run migrate_dataframe on the updates first"
        )
    t = target.alias("t")
    u = updates.alias("u")
    cond = F.col(f"t.{key}") == F.col(f"u.{key}")
    joined = t.join(u, cond, "full_outer")
    matched_or_insert = F.col(f"u.{key}").isNotNull()
    out_cols = [
        F.when(matched_or_insert, F.col(f"u.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in target.columns
    ]
    merged = joined.select(*out_cols) if not delete_missing else (
        joined.filter(matched_or_insert).select(*[F.col(f"u.{c}").alias(c) for c in updates.columns])
    )
    return merged


def merge_into(
    spark,
    table,
    source: DataFrame,
    on: str,
    when_matched: str | None = "update",
    when_not_matched: str | None = "insert",
    note: str | None = None,
    ts: float | None = None,
) -> int:
    """MERGE INTO over a :class:`~iceberg_evolve_spark.sources.snapshots.
    SnapshotTable` with MERGE-ON-READ commits — Iceberg's
    ``MERGE INTO ... WHEN MATCHED ... WHEN NOT MATCHED`` under its
    merge-on-read write mode: the merge is ONE row-delta commit
    (``SnapshotTable.row_delta``: an equality delete retiring matched keys
    plus the new row versions), never a rewrite of any target data file,
    and no reader sees the delete without the rows.

    Clauses (SCD-1 semantics, as :func:`merge_upsert`):

    * ``when_matched="update"`` — matched target rows take the source
      row's values (retire + re-append);
    * ``when_matched="delete"`` — matched target rows are deleted;
    * ``when_matched=None`` — matched source rows are ignored;
    * ``when_not_matched="insert"`` — unmatched source rows are appended;
    * ``when_not_matched=None`` — unmatched source rows are ignored.

    The classic upsert (update + insert) needs NO target scan at all: every
    source key is retired and every source row appended — matched or not,
    the outcome is identical, so the match set is never computed (the same
    shortcut Iceberg's streaming upsert takes). Asymmetric clause pairs
    need the match set: ONE column-pruned scan of the target's key column,
    semi-/anti-joined against the (usually much smaller) source. Returns
    the new version. Source rows must be key-distinct — a MERGE with
    several rows per key is ambiguous (Iceberg raises the same way)."""
    if when_matched not in ("update", "delete", None):
        raise ValueError(f"when_matched={when_matched!r}")
    if when_not_matched not in ("insert", None):
        raise ValueError(f"when_not_matched={when_not_matched!r}")
    if when_matched is None and when_not_matched is None:
        raise ValueError("at least one clause is required")
    dup = source.groupBy(on).count().filter(F.col("count") > 1).limit(1)
    if dup.count():
        raise ValueError(
            f"source has several rows per {on!r} — MERGE is ambiguous; "
            "pre-aggregate to the latest row per key"
        )
    note = note or f"merge_into on {on}"
    if when_matched == "update" and when_not_matched == "insert":
        return table.row_delta(
            add=source, delete_keys=source, cols=[on], note=note, ts=ts
        )
    # asymmetric clauses: compute the match set from the key column only
    # (column-pruned target scan; the source side is the small one)
    target_keys = table.read(spark).select(on)
    matched = source.join(target_keys, on=[on], how="semi")
    # one side at most: update+insert took the shortcut above
    add = matched if when_matched == "update" else (
        source.join(target_keys, on=[on], how="anti")
        if when_not_matched
        else None
    )
    return table.row_delta(
        add=add, delete_keys=matched if when_matched else None,
        cols=[on], note=note, ts=ts,
    )
