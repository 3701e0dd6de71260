"""Parquet footer statistics — the package's ONE reader of row-group
statistics, and what is built on it: scan pruning and aggregate elision.

:func:`read_footer` opens a file's footer once and answers, for each
requested column, what the footer PROVES about it (a :class:`ColumnFooter`):
the NULL count (or unknown) and the (min, max) over the row groups, in one
of three states — bounds known; no non-null value (all-null or empty: no
range or key can match); unknown (a row group lacks usable statistics: the
caller keeps the file, falls back to a data read, or raises). Columns are
found by their full parquet column PATH, so a struct field ``s.k`` never
answers for a top-level column ``k``. :func:`read_dir_footer` folds it over
a directory, and :func:`parquet_files` is the one lister of a directory's
part files.

Callers: :func:`prune_files_multi` (scan planning — ``SnapshotTable``'s
``plan_scan``/``read(where=)`` and the equality-delete scoping of
``rewrite_data_files``; :func:`prune_files` is its one-column form),
:func:`table_stats_from_footers`, and in ``sources/snapshots.py`` the
NULL-key gate of equality-delete writes, the delete-key bounds of
``rewrite_data_files`` and ``files_df``'s per-file bounds.

Aggregate elision: for COUNT/MIN/MAX the statistics are closed under merge,
so a table-level answer is ``Σ``/``min``/``max`` over row-group stats — a
footer read per file, KB each, regardless of data volume (the trick Spark's
``spark.sql.parquet.aggregatePushDown`` applies), served without a cluster
job. Correctness boundary: stats may be absent (written without
statistics), and for BYTE_ARRAY columns (strings/binary) writers may
TRUNCATE min/max — a truncated min is a prefix and the max an incremented
prefix, neither an actual value — and pyarrow exposes no exactness flag.
:func:`table_stats_from_footers` therefore raises on missing stats AND
refuses BYTE_ARRAY columns outright (numeric/temporal stats are always
exact); AVG/SUM are not served (sums are not in the footer). Pruning has
the opposite discipline: it needs only BOUNDS, so missing stats keep the
file and truncated string stats are still valid bounds.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass
from typing import Iterable, NamedTuple

import pyarrow.parquet as pq

_EPOCH = datetime.datetime(1970, 1, 1)


@dataclass(frozen=True)
class ColumnStats:
    column: str
    n_values: int  # non-null values (num_rows - null_count)
    min_value: object
    max_value: object


class ColumnFooter(NamedTuple):
    """What a footer proves about one column. ``bounds`` is the raw footer
    (min, max) over the row groups holding a non-null value; it is None
    when ``all_null`` (no non-null value: nothing can match) and when some
    row group lacks usable statistics (unknown)."""

    nulls: int | None  # None when a row group records no NULL count
    bounds: tuple[object, object] | None
    all_null: bool
    physical_type: str


def _to_comparable(v: object) -> object:
    """Normalize footer stat values: naive timestamps -> epoch micros (the
    parquet physical representation), everything else passes through."""
    if isinstance(v, datetime.datetime):
        # Aware values must be CONVERTED to UTC, not have their offset
        # stripped: dropping tzinfo from 12:00+02:00 would yield the epoch
        # micros of 12:00Z instead of 10:00Z — wrong min/max by the offset.
        base = (
            v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            if v.tzinfo
            else v
        )
        td = base - _EPOCH
        return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
    return v


def parquet_files(path: str) -> list[str]:
    """Sorted paths, relative to ``path``, of the parquet part files under
    it: recursive (key=value partition dirs nest their files), skipping
    ``_``-prefixed names (writer markers and sidecars)."""
    out = []
    for root, _dirs, names in os.walk(path):
        rel = os.path.relpath(root, path)
        for fn in names:
            if fn.endswith(".parquet") and not fn.startswith("_"):
                out.append(fn if rel == "." else os.path.join(rel, fn))
    return sorted(out)


def _files(path: str) -> list[str]:
    if os.path.isdir(path):
        out = [os.path.join(path, rel) for rel in parquet_files(path)]
        if not out:
            raise ValueError(f"no parquet files under {path}")
        return out
    return [path]


def read_footer(
    fp: str, columns: Iterable[str]
) -> tuple[int, dict[str, ColumnFooter | None]]:
    """(row count, {column: ColumnFooter, or None when the file has no
    column at that path}) from one read of ``fp``'s footer."""
    meta = pq.ParquetFile(fp).metadata
    schema = meta.schema
    # keyed on the full column path: a nested leaf's path has its parents
    # in it, so only a top-level leaf can answer for a top-level column
    idx = {schema.column(i).path: i for i in range(meta.num_columns)}
    groups = [meta.row_group(g) for g in range(meta.num_row_groups)]
    out: dict[str, ColumnFooter | None] = {}
    for c in columns:
        i = idx.get(c)
        if i is None:
            out[c] = None
            continue
        nulls: int | None = 0
        lo = hi = None
        known, all_null = True, True
        for g in groups:
            if not g.num_rows:
                continue  # empty row group: no stats (pyarrow omits them)
            st = g.column(i).statistics
            n = None if st is None else st.null_count
            nulls = None if nulls is None or n is None else nulls + n
            if n == g.num_rows:
                continue  # all-null row group: no value to bound
            all_null = False
            if st is None or not st.has_min_max:
                known = False
                continue
            lo = st.min if lo is None else min(lo, st.min, key=_to_comparable)
            hi = st.max if hi is None else max(hi, st.max, key=_to_comparable)
        out[c] = ColumnFooter(
            nulls,
            (lo, hi) if known and not all_null else None,
            all_null,
            schema.column(i).physical_type,
        )
    return meta.num_rows, out


def _merge(a: ColumnFooter | None, b: ColumnFooter | None) -> ColumnFooter | None:
    """Two files' footers of one column as one: missing anywhere is
    missing, unknown anywhere is unknown."""
    if a is None or b is None:
        return None
    nulls = None if a.nulls is None or b.nulls is None else a.nulls + b.nulls
    all_null = a.all_null and b.all_null
    if a.all_null or b.all_null:
        bounds = b.bounds if a.all_null else a.bounds
    elif a.bounds is None or b.bounds is None:
        bounds = None
    else:
        bounds = (
            min(a.bounds[0], b.bounds[0], key=_to_comparable),
            max(a.bounds[1], b.bounds[1], key=_to_comparable),
        )
    return ColumnFooter(nulls, bounds, all_null, a.physical_type)


def read_dir_footer(
    path: str, columns: Iterable[str]
) -> tuple[int, dict[str, ColumnFooter | None]]:
    """:func:`read_footer` folded over every part file under ``path``: rows
    and NULLs summed, bounds merged. A column missing from any file (or a
    dir with no files) maps to None."""
    columns = list(columns)
    rows = 0
    acc: dict[str, ColumnFooter | None] | None = None
    for rel in parquet_files(path):
        n, cols = read_footer(os.path.join(path, rel), columns)
        rows += n
        acc = cols if acc is None else {c: _merge(acc[c], cols[c]) for c in columns}
    return rows, acc or dict.fromkeys(columns)


def _can_overlap(mn: object, mx: object, clo: object, chi: object) -> bool:
    """True unless [mn, mx] PROVABLY misses [clo, chi]. Incomparable
    operands (e.g. DATE stats against datetime bounds) fall back to True —
    pruning may only skip what it can prove absent, so an unprovable
    comparison keeps the file rather than raising."""
    try:
        return (chi is None or mn <= chi) and (clo is None or mx >= clo)
    except TypeError:
        return True


def _partition_value(path_root: str, fp: str, column: str) -> object | None:
    """Value of ``column`` encoded as a ``column=value`` path segment of
    ``fp`` under ``path_root`` (Hive/Iceberg partitioned layout), or None.
    ``partitionBy`` drops partition keys from the data files, so pruning on
    the partition key — the canonical pruning use — must read the directory
    value instead of the footer."""
    rel = os.path.relpath(fp, path_root)
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            if k == column:
                if v == "__HIVE_DEFAULT_PARTITION__":
                    return None
                from urllib.parse import unquote

                return unquote(v)  # Hive escapes specials as %XX
    return None


def _coerce_like(raw: str, bound: object) -> object:
    """Coerce a directory-encoded partition value (always a string) to the
    type of the caller's bound so the overlap test compares like to like;
    an un-coercible value falls back to the raw string (then
    :func:`_can_overlap`'s TypeError fallback keeps the file)."""
    try:
        if isinstance(bound, bool):
            return raw in ("true", "True", "1")
        if isinstance(bound, int):
            return int(raw)
        if isinstance(bound, float):
            return float(raw)
        if isinstance(bound, datetime.datetime):
            return _to_comparable(datetime.datetime.fromisoformat(raw))
        if isinstance(bound, datetime.date):
            return datetime.date.fromisoformat(raw)
    except (ValueError, TypeError):
        pass
    return raw


def _may_match(
    path: str, fp: str, ranges: dict[str, tuple[object, object]]
) -> bool:
    """False only when ``fp`` provably holds no row inside every range:
    a column's bounds miss its range, or it holds no non-null value. A
    column absent from the footer answers from its key=value path segment;
    anything unknown keeps the file."""
    _rows, footer = read_footer(fp, ranges)
    for c, (lo, hi) in ranges.items():
        clo, chi = _to_comparable(lo), _to_comparable(hi)
        fc = footer[c]
        if fc is None:
            pv = _partition_value(path, fp, c)
            if pv is None:
                continue  # in neither footer nor path: cannot exclude
            v = _coerce_like(pv, lo if lo is not None else hi)
            if not _can_overlap(v, v, clo, chi):
                return False
        elif fc.all_null:
            return False  # a NULL satisfies no range and matches no key
        elif fc.bounds is not None and not _can_overlap(
            _to_comparable(fc.bounds[0]), _to_comparable(fc.bounds[1]), clo, chi
        ):
            return False
    return True


def prune_files_multi(
    path: str,
    ranges: dict[str, tuple[object, object]],
    files: list[str] | None = None,
) -> tuple[list[str], int]:
    """Stats-based FILE SKIPPING (Iceberg/Delta scan planning, done from
    parquet footers): the sorted subset of files that CAN hold a row with
    ``lo <= column <= hi`` for EVERY ``column: (lo, hi)`` of ``ranges``
    (either bound None for open-ended), plus the total file count. One
    footer read per file; a file is skipped only when some column's
    bounds over its row groups provably miss the range.

    The correctness discipline is the opposite of
    :func:`table_stats_from_footers`: stats here only need to be BOUNDS, so
    missing statistics keep the file (never skips data it can't prove
    absent) and BYTE_ARRAY columns are fine (a truncated min is <= the true
    min, the incremented-prefix max >= the true max).

    ``files`` restricts the candidates to an explicit list (a snapshot's
    manifest-listed files — ``SnapshotTable`` lineage dirs are shared
    across snapshots, so the dir walk would see files the snapshot does not
    own); ``path`` stays the root that key=value partition segments are
    resolved against."""
    if not ranges:
        raise ValueError("provide at least one column range")
    if any(lo is None and hi is None for lo, hi in ranges.values()):
        raise ValueError("provide at least one of lo/hi")
    if files is None:
        files = _files(path)
    return sorted(fp for fp in files if _may_match(path, fp, ranges)), len(files)


def prune_files(
    path: str,
    column: str,
    lo: object = None,
    hi: object = None,
    files: list[str] | None = None,
) -> tuple[list[str], int]:
    """:func:`prune_files_multi` on one column. At 100 TB this is the
    planning step that makes a sorted/clustered layout pay: #files footer
    reads on the driver replace scanning every file for a selective
    range."""
    return prune_files_multi(path, {column: (lo, hi)}, files=files)


def read_pruned(spark, path: str, column: str, lo: object = None, hi: object = None):
    """Read only the files :func:`prune_files` keeps, with the residual range
    filter applied (files are kept on OVERLAP, so in-file rows outside the
    range still need the predicate — which Spark additionally pushes down to
    row-group level inside the kept files)."""
    from pyspark.sql import functions as F

    kept, _total = prune_files(path, column, lo, hi)
    if not kept:
        return spark.read.parquet(path).filter(F.lit(False))
    df = spark.read.parquet(*kept)
    if lo is not None:
        df = df.filter(F.col(column) >= F.lit(lo))
    if hi is not None:
        df = df.filter(F.col(column) <= F.lit(hi))
    return df


def table_stats_from_footers(path: str, columns: list[str]) -> dict[str, ColumnStats]:
    """COUNT/MIN/MAX per column for a parquet file or directory, computed
    purely from row-group footer statistics. Raises if any row group lacks
    exact statistics for a requested column (never guesses)."""
    acc: dict[str, list] = {c: [0, None, None] for c in columns}
    for fp in _files(path):
        rows, footer = read_footer(fp, columns)
        for c in columns:
            fc = footer[c]
            if fc is None:
                raise ValueError(f"column {c!r} not in {fp}")
            if fc.physical_type == "BYTE_ARRAY":
                raise ValueError(
                    f"column {c!r} is BYTE_ARRAY: writers may truncate string "
                    "min/max and no exactness flag exists — refusing rather "
                    "than risking a silently wrong answer"
                )
            if fc.nulls is None or (fc.bounds is None and not fc.all_null):
                raise ValueError(f"{fp} has no exact stats for {c!r}")
            slot = acc[c]
            slot[0] += rows - fc.nulls
            if fc.bounds is None:
                continue  # all-null: no min/max exists, 0 values
            lo, hi = _to_comparable(fc.bounds[0]), _to_comparable(fc.bounds[1])
            slot[1] = lo if slot[1] is None else min(slot[1], lo)
            slot[2] = hi if slot[2] is None else max(slot[2], hi)
    return {
        c: ColumnStats(c, n, lo, hi) for c, (n, lo, hi) in acc.items()
    }
