"""Partition-spec evolution — rewrite a table's directory layout under a new
partitioning, crash-safely.

The reference system (anatol-ju/iceberg-evolve) evolves a table's SCHEMA
between snapshots; the other evolution a lakehouse table undergoes is its
PARTITION SPEC (Iceberg's `ALTER TABLE ... REPLACE PARTITION FIELD`): what
was partitioned by `status` becomes partitioned by `(status, year)` once
the table grows past per-status pruning. Without a table format, spec
evolution is a layout REWRITE: read, re-derive the partition columns,
write the new layout next to the old one, and atomically swap
(``sources/swap.py`` — the same crash-safe rename discipline as
compaction: a crash at any step leaves the old layout or the new one,
never a mix).

Derived partition columns are first-class: pass ``{"o_year":
F.year("o_orderdate")}`` and the rewrite materializes the column before
partitioning — the hidden-partitioning transforms (year/month/day/bucket)
Iceberg computes in metadata become real columns here, and filters on them
prune directories (``PartitionFilters`` in the scan plan).

Scale shape: one full read + one ``repartition(new_cols)`` shuffle + one
write — the cost of any layout rewrite; at 100 TB this runs per-partition
of the OLD spec (each old directory rewritten independently) rather than
as one job, which the swap discipline supports unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_evolve_spark.sources import swap as _swap
from iceberg_evolve_spark.sources.formats import write_partitioned


def partition_dirs(path: str) -> list[str]:
    """The relative partition directories under a layout (leaf dirs that
    contain data files), sorted — the observable spec."""
    out = []
    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            rel = os.path.relpath(root, path)
            if rel != ".":
                out.append(rel)
    return sorted(out)


def evolve_partition_spec(
    spark: SparkSession,
    path: str,
    new_spec: dict[str, Column | str],
) -> int:
    """Rewrite the layout at ``path`` under ``new_spec`` (ordered mapping
    column name → expression; plain strings reference existing columns).
    Returns the number of partition directories in the new layout.

    Derived columns are added before the write and kept in the data
    (matching Spark's partition-column round-trip on read). The swap is
    atomic-per-rename: readers see the old layout until the final rename
    lands."""
    _swap.recover(path)
    df = spark.read.parquet(path)
    for name, expr in new_spec.items():
        if isinstance(expr, str):
            if expr != name:
                df = df.withColumn(name, F.col(expr))
        elif name not in df.columns:
            df = df.withColumn(name, expr)
    tmp = path.rstrip("/") + "._spec_tmp"
    write_partitioned(df, tmp, list(new_spec.keys()))
    _swap.swap(tmp, path)
    return len(partition_dirs(path))
