"""Exactly-once-effect streaming CDC sink: foreachBatch + merge-on-read commits.

Structured Streaming's ``foreachBatch`` gives at-least-once batch delivery —
a crashed batch replays with the SAME ``batch_id``. Exactly-once *effects*
therefore need the write to be idempotent. This module applies each
micro-batch of CDC envelopes to a ``SnapshotTable`` as an equality-delete
commit plus a fast-append commit, and stamps the batch id into the commit
notes so a replayed batch is recognised and skipped (see
``mor_cdc_batch_writer``).
"""

from __future__ import annotations

import os

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
    (O(table) per batch), each micro-batch lands with MERGE-ON-READ commits as

    1. ONE equality-delete commit (``SnapshotTable.delete_by_key``) retiring
       every changed key — delete envelopes AND the superseded versions of
       upserted rows; the data is never scanned, and
    2. ONE fast-append commit (``SnapshotTable.publish(mode="append")`` of
       the batch's pre-staged upsert files — the WAP ingest path, so the
       has-upserts decision reads the staged footers driver-side instead of
       running a probe job) adding the new row versions — data-sequence
       numbers keep them alive past the delete.

    That is Iceberg's streaming-upsert shape: O(batch) work per batch
    regardless of table size, with compaction
    (``rewrite_data_files``) amortized separately.

    Exactly-once effects under foreachBatch's at-least-once replay: BOTH
    commits carry a batch-id stamp token. A replayed batch whose FINAL
    commit's stamp is already in the manifest is skipped whole; a crash
    between the delete commit and the append commit replays the batch and
    the retire stamp (``cdc-batch:{id}:retire``) skips the delete step too —
    without it, every crash-loop replay would stack one more identical
    equality-delete file (state-correct but unbounded metadata growth until
    maintain() fires).

    ``max_delete_files`` bounds read amplification: after each batch,
    ``SnapshotTable.maintain`` folds the merge-on-read stack once the
    delete-file count reaches the threshold (one anti-join per delete file
    on every read otherwise) — the amortized compaction loop a long-running
    MOR stream needs. A crash after the append but before the compaction
    just defers the fold to the next batch. ``delete_mode="vector"`` makes
    that fold the CHEAP one — equality-delete files collapse into one
    deletion vector, O(deleted rows) written and zero data files touched —
    reserving the data-file binpack for the manifest-count trigger; at
    streaming cadence on a large table this is the difference between a
    recurring metadata-sized job and a recurring file-rewrite job."""
    from iceberg_evolve_spark.sources.snapshots import (
        SnapshotTable,
        _parquet_dir_rows,
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        t = SnapshotTable(table_path)
        stamp = f"cdc-batch:{batch_id}"
        retire_stamp = f"{stamp}:retire"
        # exact-token match: "cdc-batch:1" must not match "cdc-batch:10 ..."
        tokens = {
            (e.get("note") or "").split(" ", 1)[0] for e in t.versions()
        }
        if stamp in tokens:  # replayed batch, already fully committed
            return
        w = Window.partitionBy(key).orderBy(
            F.col(order_col).desc(),
            (F.col(op_col) == "d").cast("int").desc(),
            F.col(op_col).desc(),
        )
        # Persist the per-key reduction: the staged upsert write and the
        # delete commit both act on it, and without the cache every action
        # re-runs the window over a re-read of the micro-batch source.
        # Batch-sized state — the standard cache-per-micro-batch discipline
        # for multi-action foreachBatch sinks.
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
            upserts = last.filter(F.col(op_col) != "d").select(*data_cols)
            # Stage the upserts FIRST (staged dirs are invisible to readers,
            # so commit order is unchanged), then read has_upserts from the
            # staged footers' row counts driver-side: one Spark job per
            # batch replaces the old probe + append pair (the limit(1)
            # probe was a full extra job per micro-batch). A replayed batch
            # restages the same id, which replaces a crashed attempt.
            sid = f"cdc_{batch_id}"
            t.stage(upserts, sid)
            has_upserts = (
                _parquet_dir_rows(os.path.join(t.path, f"stage_{sid}")) > 0
            )
            if not t.versions():
                if not has_upserts:
                    t.discard_staged(sid)
                    return  # nothing to delete from an empty table
                t.publish(sid, note=f"{stamp} bootstrap")
                return
            # delete-only batches: the delete IS the final commit, stamped
            # with the full-batch token. Upsert batches stamp the delete
            # commit with its own retire token so a crash-replay skips it
            # (ADVICE r9).
            if retire_stamp not in tokens:
                t.delete_by_key(
                    last.select(key),
                    [key],
                    note=f"{stamp} retire"
                    if not has_upserts
                    else f"{retire_stamp} of batch {batch_id}",
                )
            if has_upserts:
                t.publish(sid, mode="append", note=f"{stamp} append")
            else:
                t.discard_staged(sid)
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
