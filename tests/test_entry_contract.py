"""Driver-contract test: every queries() entry runs and matches its DuckDB
oracle at sf0.001 (the driver's own gate runs the same comparison at sf0.01).

The comparison is TYPED, mirroring the driver's typed value hash: the oracle
result is fetched through Arrow (DuckDB HUGEINT surfaces as decimal128(38,0),
not a Python int) and each column's logical type must match the Spark schema
under a canonical mapping. Round 3's only red row (`events_variant_extract`)
was a HUGEINT-vs-BIGINT skew that Python-coerced `str(v)` hashing could not
see — this gate now fails locally on exactly that class of bug."""

import math

import duckdb
import pyarrow as pa
import pytest

from pyspark.sql import types as T

import __spark_entry__ as entry_mod
from iceberg_evolve_spark.sources.tables import TABLES


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


# Canonical logical-type lattice shared by both sides. Integer widths 8-64
# collapse (COUNT is int64 everywhere; literals differ benignly in width) but
# int128/HUGEINT stays DISTINCT — that is the skew class the driver's typed
# hash catches and Python coercion hides.
def _canon_pa(t):
    if pa.types.is_decimal(t):
        if t.scale == 0 and t.precision == 38:
            return "int128"  # DuckDB HUGEINT (un-cast SUM over BIGINT)
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "double" if t.bit_width == 64 else "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t) or pa.types.is_fixed_size_binary(t):
        return "binary"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"list<{_canon_pa(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{_canon_pa(f.type)}" for f in t) + ">"
    if pa.types.is_map(t):
        return f"map<{_canon_pa(t.key_type)},{_canon_pa(t.item_type)}>"
    if pa.types.is_null(t):
        return "null"
    return str(t)


def _canon_spark(dt):
    from pyspark.sql import types as T

    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    scalars = [
        (T.ByteType, "int"), (T.ShortType, "int"), (T.IntegerType, "int"),
        (T.LongType, "int"), (T.FloatType, "float"), (T.DoubleType, "double"),
        (T.BooleanType, "bool"), (T.StringType, "string"), (T.BinaryType, "binary"),
        (T.DateType, "date"), (T.TimestampType, "timestamp"),
        (T.TimestampNTZType, "timestamp"), (T.NullType, "null"),
    ]
    for cls, name in scalars:
        if isinstance(dt, cls):
            return name
    if isinstance(dt, T.ArrayType):
        return f"list<{_canon_spark(dt.elementType)}>"
    if isinstance(dt, T.StructType):
        return "struct<" + ",".join(f"{f.name}:{_canon_spark(f.dataType)}" for f in dt.fields) + ">"
    if isinstance(dt, T.MapType):
        return f"map<{_canon_spark(dt.keyType)},{_canon_spark(dt.valueType)}>"
    return dt.simpleString()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns


def _all_queries():
    # the full correctness surface: driver-windowed entries PLUS the
    # extended (local-only) registry — the bench-budget split must never
    # shrink what gets oracle-verified (r10 task 8 mechanics)
    return {**entry_mod.queries(), **entry_mod.queries_extended()}


def test_every_query_has_oracle_or_documented_absence():
    qs, os_ = _all_queries(), entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    missing = set(qs) - set(os_)
    assert missing == set()  # every entry is oracle-checked (r3: IVF included)


def test_registry_split_is_disjoint():
    dup = set(entry_mod.queries()) & set(entry_mod.queries_extended())
    assert dup == set()  # an entry is driver-billed or local-only, never both


@pytest.mark.parametrize("name", sorted(_all_queries()))
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    fn = _all_queries()[name]
    sdf = fn(spark, sf_dir)
    # REGISTRY-SURFACE LINT (r6, VERDICT task 3): no entry may return an
    # array/map/struct column — the driver's canonicalizer sorts result
    # frames with pandas, which cannot hash list cells, so such an entry
    # errors at the driver before any comparison runs (exactly how
    # docs_bpe_encode's array<long> slipped through five local gates).
    # Stringify instead (concat_ws / to_json) on BOTH engines.
    complex_cols = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not complex_cols, (
        f"{name} returns non-hashable column(s) {complex_cols}; the driver "
        "canonicalizer cannot sort/hash array/map/struct cells — emit a "
        "string surface (concat_ws) in both the entry and its oracle"
    )
    scols, srows = _norm(sdf.columns, [tuple(r) for r in sdf.collect()])
    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        assert len(srows) >= 0
        return
    tbl = oracle_con.execute(oracle).arrow()
    col_data = [c.to_pylist() for c in tbl.columns]
    orows = [tuple(c[i] for c in col_data) for i in range(tbl.num_rows)]
    ocols, orows = _norm(tbl.column_names, orows)
    assert scols == ocols
    # Typed comparison (driver parity): logical types must agree per column,
    # so a HUGEINT/BIGINT or decimal/double skew fails here, not at the driver.
    stypes = {f.name: _canon_spark(f.dataType) for f in sdf.schema.fields}
    otypes = {f.name: _canon_pa(f.type) for f in tbl.schema}
    assert stypes == otypes
    assert len(srows) == len(orows)
    assert srows == orows


def test_sql_api_parity(spark, sf_dir):
    """The engine is usable through plain spark.sql over registered views —
    same results as the DataFrame formulation (same Catalyst plan space)."""
    from pyspark.sql import functions as F

    from iceberg_evolve_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    via_sql = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(ROUND(l_quantity, 1) AS DECIMAL(22,1))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )
    li = spark.table("lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    via_df = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.round(F.col("l_quantity"), 1).cast("decimal(22,1)"))
        .cast("double")
        .alias("sum_qty"),
        F.count("*").alias("count_order"),
    )
    a = sorted(tuple(r) for r in via_sql.collect())
    b = sorted(tuple(r) for r in via_df.collect())
    assert a == b


def _imported_modules(path, package):
    """Every module an `import`/`from ... import` anywhere in `path` names,
    including the parent packages that importing it runs."""
    import ast

    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:  # relative import: resolve against `package`
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[: i + 1]) for i in range(len(parts)))
    return out


def test_every_package_module_is_reached():
    """Every `iceberg_evolve_spark` module is reached by an import walk from
    the traffic the project serves: the entry registry, `bench.py`, the CLI
    and the benchmark workloads. A module only tests import is dead
    weight — delete it or register a caller for it."""
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    pkg = root / "iceberg_evolve_spark"

    def mod_path(name):
        rel = Path(*name.split("."))
        for p in (root / rel / "__init__.py", root / rel.with_suffix(".py")):
            if p.is_file():
                return p
        return None

    seeds = [root / "__spark_entry__.py", root / "bench.py", pkg / "cli.py",
             *sorted((root / "perfbench").glob("*.py"))]
    todo = [(p, "") for p in seeds]
    seen = set(seeds)
    while todo:
        path, package = todo.pop()
        for name in _imported_modules(path, package):
            p = mod_path(name)
            if p is not None and p not in seen:
                seen.add(p)
                todo.append((p, name if p.name == "__init__.py" else name.rpartition(".")[0]))
    unreached = sorted(str(p.relative_to(pkg)) for p in pkg.rglob("*.py") if p not in seen)
    assert unreached == []
