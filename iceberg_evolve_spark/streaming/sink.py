"""Exactly-once-effect streaming CDC sink: foreachBatch + merge-on-read commits.

Structured Streaming's ``foreachBatch`` gives at-least-once batch delivery —
a crashed batch replays with the SAME ``batch_id``. Exactly-once *effects*
therefore need the write to be idempotent. This module applies each
micro-batch of CDC envelopes to a ``SnapshotTable`` as ONE row-delta commit
(equality deletes + new rows together), and stamps the batch id into its
note so a replayed batch is recognised and skipped (see
``mor_cdc_batch_writer``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def mor_cdc_batch_writer(
    spark: SparkSession,
    table_path: str,
    key: str,
    op_col: str = "op",
    order_col: str = "ts_ms",
    max_delete_files: int | None = None,
    delete_mode: str = "rewrite",
):
    """``foreachBatch`` CDC apply — the streaming twin of
    ``operators/cdc.py:apply_cdc``: each micro-batch carries upserts
    (``op`` = 'c'/'u', full row) AND deletes ('d'), reduced to the last
    change per key (event-time; delete beats upsert on ties — same total
    order as the batch operator). Instead of rewriting the table per batch
    (O(table) per batch), each micro-batch lands as ONE merge-on-read
    commit, ``SnapshotTable.row_delta``: an equality-delete file retiring
    every changed key — delete envelopes AND the superseded versions of
    upserted rows, the data never scanned — plus the batch's new row
    versions, which the commit's data-sequence number keeps alive past its
    own delete. No reader ever sees a batch half applied. Empty sides are
    counted from the written footers driver-side — no probe job.

    That is Iceberg's streaming-upsert shape: O(batch) work per batch
    regardless of table size, with compaction
    (``rewrite_data_files``) amortized separately.

    Exactly-once effects under foreachBatch's at-least-once replay: the
    commit's note starts with the token ``cdc-batch:{id}``, and a replayed
    batch whose token is already in the log is skipped whole. A crash
    before the commit links leaves only unreferenced files (reclaimed by
    ``expire_snapshots``), so the replay commits the batch exactly once.

    ``max_delete_files`` bounds read amplification: after each batch,
    ``SnapshotTable.maintain`` folds the merge-on-read stack once the
    delete-file count reaches the threshold (every read scans them all
    otherwise) — the amortized compaction loop a long-running MOR stream
    needs. A crash after the commit but before the compaction just defers
    the fold to the next batch. ``delete_mode="vector"`` makes that fold the
    CHEAP one — equality-delete files collapse into one deletion vector,
    O(deleted rows) written and zero data files touched — reserving the
    data-file binpack for the manifest-count trigger; at streaming cadence
    on a large table this is the difference between a recurring
    metadata-sized job and a recurring file-rewrite job."""
    from iceberg_evolve_spark.sources.snapshots import SnapshotTable

    def write(batch_df: DataFrame, batch_id: int) -> None:
        t = SnapshotTable(table_path)
        stamp = f"cdc-batch:{batch_id}"
        # exact-token match: "cdc-batch:1" must not match "cdc-batch:10 ..."
        if any(
            (e.get("note") or "").split(" ", 1)[0] == stamp
            for e in t.versions()
        ):
            return  # replayed batch, already committed
        w = Window.partitionBy(key).orderBy(
            F.col(order_col).desc(),
            (F.col(op_col) == "d").cast("int").desc(),
            F.col(op_col).desc(),
        )
        # Persist the per-key reduction: the upsert write and the delete
        # write both act on it, and without the cache every action re-runs
        # the window over a re-read of the micro-batch source. Batch-sized
        # state — the standard cache-per-micro-batch discipline for
        # multi-action foreachBatch sinks.
        last = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .persist()
        )
        try:
            data_cols = [
                c for c in last.columns if c not in (op_col, order_col)
            ]
            t.row_delta(
                add=last.filter(F.col(op_col) != "d").select(*data_cols),
                delete_keys=last,
                cols=[key],
                note=f"{stamp} row delta",
            )
        finally:
            last.unpersist()
        if max_delete_files is not None:
            t.maintain(
                spark,
                max_delete_files=max_delete_files,
                delete_mode=delete_mode,
            )

    return write


def run_mor_cdc_stream(
    stream: DataFrame,
    table_path: str,
    key: str,
    checkpoint: str,
    op_col: str = "op",
    order_col: str = "ts_ms",
    max_delete_files: int | None = None,
    delete_mode: str = "rewrite",
):
    """Start a merge-on-read CDC-apply stream (availableNow-compatible; see
    ``mor_cdc_batch_writer``)."""
    return (
        stream.writeStream.foreachBatch(
            mor_cdc_batch_writer(
                stream.sparkSession, table_path, key, op_col, order_col,
                max_delete_files=max_delete_files, delete_mode=delete_mode,
            )
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )
