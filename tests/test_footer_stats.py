"""Footer-statistics scan elision (`sources/footer_stats.py`): metadata-only
COUNT/MIN/MAX must equal full-scan answers across files, row groups, nulls,
and timestamps; absent statistics must raise, never guess."""

import datetime
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from iceberg_evolve_spark.sources.footer_stats import (
    table_stats_from_footers,
)


@pytest.fixture()
def multi_file_dir(tmp_path):
    d = tmp_path / "tbl"
    d.mkdir()
    t1 = pa.table({"k": [3, 1, None, 7], "v": [1.5, -2.0, 0.5, None]})
    t2 = pa.table({"k": [10, None, 2], "v": [9.25, 3.0, None]})
    pq.write_table(t1, d / "a.parquet", row_group_size=2)
    pq.write_table(t2, d / "b.parquet", row_group_size=2)
    return str(d)


class TestFooterStats:
    def test_multi_file_multi_rowgroup_with_nulls(self, multi_file_dir):
        st = table_stats_from_footers(multi_file_dir, ["k", "v"])
        assert (st["k"].n_values, st["k"].min_value, st["k"].max_value) == (5, 1, 10)
        assert (st["v"].n_values, st["v"].min_value, st["v"].max_value) == (
            5, -2.0, 9.25,
        )

    def test_timestamps_as_epoch_micros(self, tmp_path):
        ts = [
            datetime.datetime(2024, 1, 1, 12, 0, 0, 250),
            datetime.datetime(1969, 12, 31, 23, 59, 59),  # pre-epoch
        ]
        f = str(tmp_path / "t.parquet")
        pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("us"))}), f)
        s = table_stats_from_footers(f, ["ts"])["ts"]
        assert s.min_value == -1_000_000  # 1969-12-31T23:59:59 in micros
        epoch = datetime.datetime(1970, 1, 1)
        assert s.max_value == int((ts[0] - epoch).total_seconds()) * 1_000_000 + 250

    def test_missing_stats_raise(self, tmp_path):
        f = str(tmp_path / "nostats.parquet")
        pq.write_table(
            pa.table({"k": [1, 2, 3]}), f, write_statistics=False
        )
        with pytest.raises(ValueError, match="no exact stats"):
            table_stats_from_footers(f, ["k"])

    def test_unknown_column_raises(self, tmp_path):
        f = str(tmp_path / "t.parquet")
        pq.write_table(pa.table({"k": [1]}), f)
        with pytest.raises(ValueError, match="not in"):
            table_stats_from_footers(f, ["missing"])

    def test_matches_full_scan_on_testdata(self, sf_dir):
        import duckdb

        path = os.path.join(sf_dir, "lineitem.parquet")
        st = table_stats_from_footers(path, ["l_orderkey", "l_extendedprice"])
        (n, lo, hi, flo, fhi), = duckdb.sql(
            f"SELECT COUNT(l_orderkey), MIN(l_orderkey), MAX(l_orderkey), "
            f"MIN(l_extendedprice), MAX(l_extendedprice) FROM '{path}'"
        ).fetchall()
        assert (st["l_orderkey"].n_values, st["l_orderkey"].min_value,
                st["l_orderkey"].max_value) == (n, lo, hi)
        assert (st["l_extendedprice"].min_value, st["l_extendedprice"].max_value) == (
            flo, fhi,
        )

    def test_refuses_string_columns(self, tmp_path):
        """BYTE_ARRAY min/max may be writer-truncated with no exactness flag
        — the guard refuses rather than risking a wrong answer."""
        f = str(tmp_path / "s.parquet")
        pq.write_table(pa.table({"s": ["aaa", "zzz"]}), f)
        with pytest.raises(ValueError, match="BYTE_ARRAY"):
            table_stats_from_footers(f, ["s"])


class TestPruneFiles:
    """Stats-based file skipping: prune on proof, keep on doubt."""

    @pytest.fixture()
    def year_dir(self, tmp_path):
        d = tmp_path / "by_year"
        d.mkdir()
        for i, lo in enumerate((0, 100, 200)):
            pq.write_table(
                pa.table({"k": list(range(lo, lo + 50)), "v": [1.0] * 50}),
                d / f"f{i}.parquet",
            )
        return str(d)

    def test_prunes_non_overlapping_files(self, year_dir):
        from iceberg_evolve_spark.sources.footer_stats import prune_files

        kept, total = prune_files(year_dir, "k", 120, 130)
        assert total == 3
        assert [os.path.basename(f) for f in kept] == ["f1.parquet"]

    def test_boundary_overlap_is_inclusive(self, year_dir):
        from iceberg_evolve_spark.sources.footer_stats import prune_files

        # hi == f0's max (49) and lo == f2's min (200): both must be kept
        kept, _ = prune_files(year_dir, "k", 49, 200)
        assert len(kept) == 3

    def test_open_ranges(self, year_dir):
        from iceberg_evolve_spark.sources.footer_stats import prune_files

        kept, _ = prune_files(year_dir, "k", lo=210)
        assert [os.path.basename(f) for f in kept] == ["f2.parquet"]
        kept, _ = prune_files(year_dir, "k", hi=40)
        assert [os.path.basename(f) for f in kept] == ["f0.parquet"]
        with pytest.raises(ValueError):
            prune_files(year_dir, "k")

    def test_missing_stats_keep_file_conservatively(self, tmp_path):
        from iceberg_evolve_spark.sources.footer_stats import prune_files

        d = tmp_path / "nostats"
        d.mkdir()
        pq.write_table(
            pa.table({"k": [500, 600]}), d / "a.parquet", write_statistics=False
        )
        pq.write_table(pa.table({"k": [1, 2]}), d / "b.parquet")
        kept, total = prune_files(str(d), "k", 100, 200)
        # a.parquet has no bounds -> kept; b.parquet provably misses -> pruned
        assert total == 2
        assert [os.path.basename(f) for f in kept] == ["a.parquet"]

    def test_all_null_file_is_pruned(self, tmp_path):
        from iceberg_evolve_spark.sources.footer_stats import prune_files

        d = tmp_path / "nulls"
        d.mkdir()
        pq.write_table(
            pa.table({"k": pa.array([None, None], type=pa.int64())}),
            d / "a.parquet",
        )
        pq.write_table(pa.table({"k": [150]}), d / "b.parquet")
        kept, _ = prune_files(str(d), "k", 100, 200)
        assert [os.path.basename(f) for f in kept] == ["b.parquet"]

    def test_read_pruned_equals_full_filter(self, spark, year_dir):
        from iceberg_evolve_spark.sources.footer_stats import read_pruned

        got = sorted(
            r["k"] for r in read_pruned(spark, year_dir, "k", 40, 110).collect()
        )
        want = sorted(
            r["k"]
            for r in spark.read.parquet(year_dir)
            .filter("k >= 40 AND k <= 110")
            .collect()
        )
        assert got == want and len(got) == 21

    def test_read_pruned_empty_result_keeps_schema(self, spark, year_dir):
        from iceberg_evolve_spark.sources.footer_stats import read_pruned

        df = read_pruned(spark, year_dir, "k", 1000, 2000)
        assert df.count() == 0
        assert set(df.columns) == {"k", "v"}

    def test_timestamp_bounds(self, tmp_path):
        from iceberg_evolve_spark.sources.footer_stats import prune_files

        d = tmp_path / "ts"
        d.mkdir()
        base = datetime.datetime(2020, 1, 1)
        pq.write_table(
            pa.table({"t": [base, base + datetime.timedelta(days=30)]}),
            d / "a.parquet",
        )
        pq.write_table(
            pa.table(
                {
                    "t": [
                        base + datetime.timedelta(days=400),
                        base + datetime.timedelta(days=430),
                    ]
                }
            ),
            d / "b.parquet",
        )
        kept, _ = prune_files(
            str(d),
            "t",
            datetime.datetime(2021, 1, 1),
            datetime.datetime(2021, 6, 1),
        )
        assert [os.path.basename(f) for f in kept] == ["b.parquet"]

    def test_multi_column_pruning_intersects(self, tmp_path):
        from iceberg_evolve_spark.sources.footer_stats import prune_files_multi

        d = tmp_path / "multi"
        d.mkdir()
        # f0: k 0-49 / g 0-4; f1: k 100-149 / g 0-4; f2: k 100-149 / g 10-14
        for i, (klo, glo) in enumerate(((0, 0), (100, 0), (100, 10))):
            pq.write_table(
                pa.table(
                    {
                        "k": list(range(klo, klo + 50)),
                        "g": [glo + (j % 5) for j in range(50)],
                    }
                ),
                d / f"f{i}.parquet",
            )
        kept, total = prune_files_multi(
            str(d), {"k": (100, 200), "g": (0, 5)}
        )
        assert total == 3
        assert [os.path.basename(f) for f in kept] == ["f1.parquet"]
        with pytest.raises(ValueError):
            prune_files_multi(str(d), {})

    def test_prune_walks_partitioned_layout(self, tmp_path):
        """key=value partitioned layouts nest part files in subdirs — the
        walk must find them (files_df's discipline, ADVICE r7)."""
        from iceberg_evolve_spark.sources.footer_stats import prune_files

        d = tmp_path / "partd"
        for g in (0, 1):
            sub = d / f"g={g}"
            sub.mkdir(parents=True)
            pq.write_table(
                pa.table({"k": list(range(g * 100, g * 100 + 50))}),
                sub / "part.parquet",
            )
        kept, total = prune_files(str(d), "k", 100, 120)
        assert total == 2
        assert [os.path.basename(os.path.dirname(f)) for f in kept] == ["g=1"]

    def test_incomparable_stats_keep_file(self, tmp_path):
        """DATE stats against datetime bounds are incomparable in Python —
        the conservative rule keeps the file instead of raising."""
        import datetime

        from iceberg_evolve_spark.sources.footer_stats import prune_files

        d = tmp_path / "datecol"
        d.mkdir()
        pq.write_table(
            pa.table(
                {"d": pa.array([datetime.date(2021, 1, 1)], pa.date32())}
            ),
            d / "a.parquet",
        )
        kept, total = prune_files(
            str(d),
            "d",
            datetime.datetime(2020, 1, 1),
            datetime.datetime(2022, 1, 1),
        )
        assert total == 1 and len(kept) == 1

    def test_prunes_on_partition_key_via_path(self, tmp_path):
        """partitionBy drops the key from the data files; pruning on the
        partition key must read the key=value path segment instead of
        raising (ADVICE r8). Canonical use: prune the partitioned layout
        on its own partition column."""
        from iceberg_evolve_spark.sources.footer_stats import prune_files

        d = tmp_path / "bykey"
        for g in (0, 1, 2):
            sub = d / f"g={g}"
            sub.mkdir(parents=True)
            pq.write_table(
                pa.table({"k": list(range(5))}), sub / "part.parquet"
            )
        kept, total = prune_files(str(d), "g", 1, 1)
        assert total == 3
        assert [os.path.basename(os.path.dirname(f)) for f in kept] == ["g=1"]
        # string-typed bound compares as string
        kept2, _ = prune_files(str(d), "g", "2", None)
        assert [os.path.basename(os.path.dirname(f)) for f in kept2] == ["g=2"]

    def test_unknown_column_keeps_conservatively(self, tmp_path):
        """A column in neither footer nor path cannot be proven absent —
        keep the file (never raise mid-plan)."""
        from iceberg_evolve_spark.sources.footer_stats import prune_files

        d = tmp_path / "unk"
        d.mkdir()
        pq.write_table(pa.table({"k": [1]}), d / "a.parquet")
        kept, total = prune_files(str(d), "missing", 0, 10)
        assert total == 1 and len(kept) == 1


class TestColumnPath:
    """A struct field ``s.k`` has parquet leaf name ``k``; only the
    top-level leaf may answer for the top-level column ``k``."""

    @pytest.fixture()
    def shadowed(self, tmp_path):
        d = tmp_path / "shadow"
        d.mkdir()
        k = pa.array([100, 101, 102], pa.int64())
        s = pa.StructArray.from_arrays([pa.array([1, 2, 3], pa.int64())], ["k"])
        pq.write_table(pa.table({"k": k, "s": s}), d / "a.parquet")
        return str(d)

    def test_table_stats_read_the_top_level_column(self, shadowed):
        st = table_stats_from_footers(shadowed, ["k"])["k"]
        assert (st.n_values, st.min_value, st.max_value) == (3, 100, 102)

    def test_pruning_reads_the_top_level_column(self, shadowed):
        from iceberg_evolve_spark.sources.footer_stats import prune_files

        kept, total = prune_files(shadowed, "k", 100, 102)
        assert (len(kept), total) == (1, 1)
        kept, _ = prune_files(shadowed, "k", 1, 3)
        assert kept == []


# -- property test of the footer reader (pyarrow only) -----------------------

_DAY0 = datetime.date(2020, 1, 1)
_TS0 = datetime.datetime(2020, 1, 1)
_TYPES = {
    "i": pa.int64(),
    "d": pa.date32(),
    "t": pa.timestamp("us"),
    "s": pa.string(),
}


def _value(col):
    from hypothesis import strategies as hs

    return {
        "i": hs.integers(-4, 4),
        "d": hs.integers(0, 8).map(lambda n: _DAY0 + datetime.timedelta(days=n)),
        "t": hs.integers(0, 8).map(
            lambda n: _TS0 + datetime.timedelta(hours=n, microseconds=n)
        ),
        "s": hs.text("abc", max_size=2),
        "g": hs.integers(6, 8),
    }[col]


def _files_strategy():
    """1-4 files, each 0-7 rows (any value may be NULL) written with a
    1-3 row ``row_group_size``; some land in the partition dir ``g=7``."""
    from hypothesis import strategies as hs

    row = hs.fixed_dictionaries(
        {c: hs.none() | _value(c) for c in _TYPES}
        # a struct whose leaf is named like the top-level ``i``, with
        # values outside ``i``'s domain
        | {"st": hs.none() | hs.integers(50, 60)}
    )
    one = hs.tuples(hs.lists(row, max_size=7), hs.integers(1, 3), hs.booleans())
    return hs.lists(one, min_size=1, max_size=4)


def _ranges_strategy():
    from hypothesis import strategies as hs

    def bounds(col):
        v = hs.none() | _value(col)
        return hs.tuples(v, v).filter(lambda b: b != (None, None))

    cols = hs.lists(
        hs.sampled_from(["i", "d", "t", "s", "g"]), min_size=1, max_size=3,
        unique=True,
    )
    return cols.flatmap(
        lambda cs: hs.fixed_dictionaries({c: bounds(c) for c in cs})
    )


def _write_files(root, files):
    """Write ``files``; return [(path, rows-with-g)] for brute force."""
    out = []
    for n, (rows, rg_size, partitioned) in enumerate(files):
        sub = os.path.join(root, "g=7") if partitioned else root
        os.makedirs(sub, exist_ok=True)
        cols = {c: pa.array([r[c] for r in rows], t) for c, t in _TYPES.items()}
        cols["st"] = pa.StructArray.from_arrays(
            [pa.array([r["st"] for r in rows], pa.int64())], ["i"]
        )
        fp = os.path.join(sub, f"f{n}.parquet")
        pq.write_table(pa.table(cols), fp, row_group_size=rg_size)
        out.append((fp, [{**r, "g": 7 if partitioned else None} for r in rows]))
    return out


def _matches(row, ranges):
    return all(
        row[c] is not None
        and (lo is None or row[c] >= lo)
        and (hi is None or row[c] <= hi)
        for c, (lo, hi) in ranges.items()
    )


class TestFooterReaderProperties:
    """Brute force over generated files: pruning never drops a file holding
    a matching row; dir bounds are exactly the non-null min/max; NULL counts
    are the counted NULLs; footer COUNT/MIN/MAX equal pyarrow's."""

    def test_reader_agrees_with_the_rows(self):
        import tempfile

        from hypothesis import HealthCheck, given, settings

        from iceberg_evolve_spark.sources.footer_stats import (
            _to_comparable,
            prune_files_multi,
            read_dir_footer,
        )

        @settings(
            max_examples=300,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(files=_files_strategy(), ranges=_ranges_strategy())
        def check(files, ranges):
            with tempfile.TemporaryDirectory() as root:
                written = _write_files(root, files)
                kept, total = prune_files_multi(root, ranges)
                assert total == len(written)
                for fp, rows in written:
                    if any(_matches(r, ranges) for r in rows):
                        assert fp in kept, (fp, ranges)

                all_rows = [r for _fp, rs in written for r in rs]
                n_rows, footer = read_dir_footer(root, _TYPES)
                assert n_rows == len(all_rows)
                for c in _TYPES:
                    values = [r[c] for r in all_rows if r[c] is not None]
                    fc = footer[c]
                    assert fc.nulls == len(all_rows) - len(values)
                    assert fc.all_null == (not values)
                    if values:
                        assert fc.bounds == (min(values), max(values))
                    else:
                        assert fc.bounds is None

                for c in ("i", "d", "t"):
                    got = table_stats_from_footers(root, [c])[c]
                    col = pa.array([r[c] for r in all_rows], _TYPES[c])
                    mm = pc.min_max(col).as_py()
                    assert got.n_values == pc.count(col).as_py()
                    assert (got.min_value, got.max_value) == (
                        _to_comparable(mm["min"]),
                        _to_comparable(mm["max"]),
                    )
                with pytest.raises(ValueError, match="BYTE_ARRAY"):
                    table_stats_from_footers(root, ["s"])

        check()
