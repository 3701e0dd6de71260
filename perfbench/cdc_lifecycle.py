"""Workload ``cdc_lifecycle``: merge-on-read CDC commits and reads on one
``SnapshotTable``.

Set-up builds a template table from a seeded ``orders`` table (TPC-H sf0.1
shape, ``ROWS`` rows, in key-ordered files) and copies it for the run.
The timed phase runs whole cycles of ``BATCHES_PER_CYCLE`` seeded
Debezium-style batches (``BATCH_ROWS`` envelopes each: upserts, deletes and
inserts, some keys changed twice). Each batch is applied by calling
``mor_cdc_batch_writer(...)(batch_df, batch_id)`` directly; the writer runs
with ``max_delete_files=None``, so no maintenance fires inside a batch call.
Once per cycle, at fixed points between the batches, come a
``where``-pruned read, ``read(version=)`` of the previous head, the head
read (an aggregate over the current snapshot), ``changes_between`` over a
batch,
``evolve_schema`` (add-with-default, widen, rename), and ``maintain``
(folding the delete stack into a deletion vector) followed by
``expire_snapshots``.

Every read is checked against a DuckDB last-write-wins fold of the same
envelopes, and at the end every retained version's row count is too.
"""

from __future__ import annotations

import gc
import os
import shutil
import time
from functools import reduce

import numpy as np

from perfbench.common import HostSpeed, dir_bytes, median, metric, tree_cpu_s, tree_peak_rss_mb
from perfbench.spark_env import start_session, stop_session
from perfbench.trace import NullTracer

ROWS = 150_000
BATCH_ROWS = ROWS // 100
BATCHES_PER_CYCLE = 3
MAX_BATCHES = 96
TEMPLATE_FILES = 8
KEEP_SNAPSHOTS = 4
#: Width of the pruned read's key range.
PRUNE_SPAN = ROWS // 10
#: Fixed commit time of the template snapshot.
TEMPLATE_TS = 1_700_000_000.0
KEY = "o_orderkey"

_STATUS = np.array(["O", "F", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


def _payload(rng: np.random.Generator, keys: np.ndarray) -> dict:
    n = len(keys)
    days = rng.integers(0, 2405, n)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(1, 15_001, n, dtype=np.int64),
        "o_orderstatus": _STATUS[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(850.0, 555_000.0, n), 2),
        "o_orderdate": np.datetime64("1992-01-01") + days.astype("timedelta64[D]"),
        "o_orderpriority": _PRIORITY[rng.integers(0, 5, n)],
        "o_shippriority": np.zeros(n, dtype=np.int32),
    }


def make_inputs(seed: int, inputs: str) -> dict:
    """Write the ``orders`` files and ``MAX_BATCHES`` envelope files.
    Returns each batch's pruned-read key range."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(inputs, exist_ok=True)
    rng = np.random.default_rng(seed)
    keys = np.arange(ROWS, dtype=np.int64)
    # key-ordered files, each a contiguous key range: the template's data
    # files keep those ranges, so a key-range read can prune files
    orders = pa.table(_payload(rng, keys))
    os.makedirs(os.path.join(inputs, "orders"))
    step = ROWS // TEMPLATE_FILES
    for k in range(TEMPLATE_FILES):
        pq.write_table(orders.slice(k * step, step), os.path.join(inputs, "orders", f"part-{k:02d}.parquet"))
    alive = np.ones(ROWS * 2, dtype=bool)
    alive[ROWS:] = False
    next_key = ROWS
    ts = 1
    ranges = []
    for b in range(MAX_BATCHES):
        live = np.flatnonzero(alive)
        n_upd = int(BATCH_ROWS * 0.55)
        n_del = int(BATCH_ROWS * 0.15)
        n_ins = int(BATCH_ROWS * 0.25)
        n_twice = BATCH_ROWS - n_upd - n_del - n_ins
        picked = rng.choice(live, n_upd + n_del, replace=False)
        upd, dele = picked[:n_upd], picked[n_upd:]
        ins = np.arange(next_key, next_key + n_ins, dtype=np.int64)
        next_key += n_ins
        # keys changed twice in one batch: the later envelope wins
        twice = rng.choice(np.concatenate([upd, ins]), n_twice, replace=False)
        k = np.concatenate([upd, dele, ins, twice])
        op = np.array(["u"] * n_upd + ["d"] * n_del + ["c"] * n_ins + [None] * n_twice, dtype=object)
        op[-n_twice:] = np.where(rng.random(n_twice) < 0.5, "u", "d")
        cols = _payload(rng, k)
        cols["op"] = op.astype(str)
        cols["ts_ms"] = np.arange(ts, ts + len(k), dtype=np.int64)
        ts += len(k)
        order = rng.permutation(len(k))
        pq.write_table(
            pa.table({c: v[order] for c, v in cols.items()}),
            os.path.join(inputs, f"batch_{b:03d}.parquet"),
        )
        alive[upd] = True
        alive[dele] = False
        alive[ins] = True
        last_op = dict(zip(twice.tolist(), op[-n_twice:].tolist()))
        for key, o in last_op.items():
            alive[key] = o != "d"
        lo = int(rng.integers(0, ROWS - PRUNE_SPAN))
        ranges.append((lo, lo + PRUNE_SPAN - 1))
    return {"ranges": ranges}


def build_template(spark, inputs: str, path: str) -> None:
    from iceberg_evolve_spark.sources.snapshots import SnapshotTable

    df = spark.read.parquet(os.path.join(inputs, "orders"))
    SnapshotTable(path).write(df, ts=TEMPLATE_TS, track_schema=True)


# ---------------------------------------------------------------------------
# Schema evolution
# ---------------------------------------------------------------------------


class _Evolver:
    """The cycle's schema change: add ``e{c}`` (int, default ``c``), widen
    the newest int column to long, and toggle the rename of
    ``o_orderpriority``. Tracks the current name of every column that
    started in the envelope files."""

    def __init__(self) -> None:
        self.cycle = 0
        self.int_col = "o_shippriority"
        self.names = {c: c for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                                     "o_orderdate", "o_orderpriority", "o_shippriority")}

    def target(self, table):
        from iceberg_evolve_spark.schema import Schema

        doc = table.table_schema().to_json()
        next_id = 1 + max(_max_id(f) for f in doc["fields"])
        renamed = "o_priority" if self.names["o_orderpriority"] == "o_orderpriority" else "o_orderpriority"
        for f in doc["fields"]:
            if f["name"] == self.int_col:
                f["type"] = "long"
            if f["name"] == self.names["o_orderpriority"]:
                f["name"] = renamed
        added = f"e{self.cycle}"
        doc["fields"].append(
            {"id": next_id, "name": added, "required": False, "type": "int", "initial-default": self.cycle}
        )
        return Schema.from_json(doc), renamed, added

    def commit(self, renamed: str, added: str) -> None:
        self.names["o_orderpriority"] = renamed
        self.int_col = added
        self.cycle += 1


def _max_id(f: dict) -> int:
    t = f["type"]
    ids = [f["id"]]
    if isinstance(t, dict):
        for sub in t.get("fields", []):
            ids.append(_max_id(sub))
    return max(ids)


def batch_frame(spark, inputs: str, b: int, spark_schema, names: dict):
    """Envelope file ``b`` projected onto the table's current schema."""
    from pyspark.sql import functions as F

    raw = spark.read.parquet(os.path.join(inputs, f"batch_{b:03d}.parquet"))
    back = {v: k for k, v in names.items()}
    cols = []
    for f in spark_schema.fields:
        if f.name in back:
            cols.append(F.col(back[f.name]).cast(f.dataType).alias(f.name))
        else:  # a column added by evolution: derived from the payload
            cols.append((F.col("o_custkey") % 97).cast(f.dataType).alias(f.name))
    return raw.select(*cols, "op", "ts_ms")


# ---------------------------------------------------------------------------
# Oracle
# ---------------------------------------------------------------------------


class Oracle:
    """DuckDB last-write-wins fold of the template rows and envelopes."""

    def __init__(self, inputs: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.inputs = inputs
        self.con.execute(
            f"CREATE TABLE env AS SELECT o_orderkey k, o_custkey ck, 'c' op, 0::BIGINT ts, -1 b "
            f"FROM read_parquet('{inputs}/orders/*.parquet')"
        )
        self.loaded = 0

    def _load(self, upto: int) -> None:
        for b in range(self.loaded, upto + 1):
            self.con.execute(
                f"INSERT INTO env SELECT o_orderkey, o_custkey, op, ts_ms, {b} "
                f"FROM read_parquet('{self.inputs}/batch_{b:03d}.parquet')"
            )
        self.loaded = max(self.loaded, upto + 1)

    def state(self, b: int, lo: int, hi: int) -> tuple:
        """After batch ``b`` (-1: the template): (count, sum k, sum ck,
        count in [lo, hi])."""
        self._load(b)
        row = self.con.execute(
            f"""SELECT count(*), sum(k)::BIGINT, sum(ck)::BIGINT,
                       count(*) FILTER (WHERE k BETWEEN {lo} AND {hi})
                FROM (SELECT k, arg_max(ck, ts) ck, arg_max(op, ts) op
                      FROM env WHERE b <= {b} GROUP BY k)
                WHERE op <> 'd'"""
        ).fetchone()
        return tuple(int(x or 0) for x in row)

    def changes(self, b: int) -> tuple[int, int]:
        """(inserts, deletes) ``changes_between`` reports over batch ``b``."""
        self._load(b)
        row = self.con.execute(
            f"""WITH last AS (SELECT k, arg_max(op, ts) op FROM env WHERE b = {b} GROUP BY k),
                     before AS (SELECT k FROM (SELECT k, arg_max(op, ts) op FROM env
                                               WHERE b < {b} GROUP BY k) WHERE op <> 'd')
                SELECT count(*) FILTER (WHERE last.op <> 'd'),
                       count(*) FILTER (WHERE before.k IS NOT NULL)
                FROM last LEFT JOIN before ON last.k = before.k"""
        ).fetchone()
        return int(row[0]), int(row[1])

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------------------
# Run
# ---------------------------------------------------------------------------


class _Lifecycle:
    """One table's timed phase: batches, reads, evolution and maintenance
    on a fixed cadence, with every result recorded for the oracle."""

    def __init__(self, spark, path: str, inputs: str, ranges: list, tr, host) -> None:
        from iceberg_evolve_spark.sources.snapshots import SnapshotTable
        from iceberg_evolve_spark.streaming.sink import mor_cdc_batch_writer

        self.spark = spark
        self.t = SnapshotTable(path)
        self.path = path
        self.inputs = inputs
        self.ranges = ranges
        self.tr = tr
        self.host = host
        self.writer = mor_cdc_batch_writer(spark, path, KEY, max_delete_files=None)
        self.evolver = _Evolver()
        self.spark_schema = self.t.table_schema().to_spark_struct()
        self.call_ms: list[float] = []
        self.read_ms: list[float] = []
        self.observed: list[tuple] = []  # (check, batch, observed value)
        self.version_batch: dict[int, tuple] = {}  # version -> expected state key
        self.attempted = 0
        self.failed = 0
        self.items = 0
        head = self.t.versions()[-1]["version"]
        self.version_batch[head] = ("state", -1)

    def _op(self, fn):
        """Run one operation, counting it; a raise counts as failed. A
        host-speed sample follows every operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # the lifecycle goes on; the failure is counted
            self.failed += 1
            self.observed.append(("error", -1, repr(exc)))
            return None
        finally:
            self.host.sample()

    def _versions(self) -> list:
        with self.tr.span("snapshots.versions") as sp:
            entries = self.t.versions()
        sp.count("log_entries", len(entries))
        return entries

    def batch(self, b: int, timed: bool) -> tuple[int, int]:
        """Apply batch ``b``. Returns the head versions before and after."""
        tr = self.tr
        v_before = self._versions()[-1]["version"]
        df = batch_frame(self.spark, self.inputs, b, self.spark_schema, self.evolver.names)
        before = dir_bytes(self.path) if tr.enabled else None

        def call():
            with tr.span("sink.batch") as sp:
                t0 = time.perf_counter()
                self.writer(df, b)
                ms = (time.perf_counter() - t0) * 1000.0
            sp.count("rows", BATCH_ROWS)
            if tr.enabled:
                after = dir_bytes(self.path)
                sp.count("bytes_written", after[0] - before[0])
                sp.count("files_written", after[1] - before[1])
            return ms

        ms = self._op(call)
        if ms is None:
            return v_before, v_before
        if timed:
            self.call_ms.append(ms)
            self.items += BATCH_ROWS
        entries = self._versions()
        v_after = entries[-1]["version"]
        for e in entries:
            if v_before < e["version"] < v_after:
                self.version_batch[e["version"]] = ("retire", b)
        self.version_batch[v_after] = ("state", b)
        return v_before, v_after

    def head_read(self, b: int, timed: bool) -> None:
        """The aggregate over the current snapshot: count and two sums."""
        from pyspark.sql import functions as F

        tr = self.tr
        head = self.t.versions()[-1]

        def call():
            with tr.span("snapshots.read") as sp:
                t0 = time.perf_counter()
                row = (
                    self.t.read(self.spark)
                    .agg(F.count("*"), F.sum(KEY), F.sum("o_custkey"))
                    .collect()[0]
                )
                ms = (time.perf_counter() - t0) * 1000.0
            sp.count("delete_files", len(head.get("deletes", [])))
            return ms, tuple(int(x or 0) for x in row)

        res = self._op(call)
        if res is not None:
            if timed:
                self.read_ms.append(res[0])
            self.observed.append(("head", b, res[1]))

    def pruned_read(self, b: int) -> None:
        tr, t = self.tr, self.t
        lo, hi = self.ranges[b]

        def call():
            with tr.span("snapshots.plan_scan") as sp:
                kept, total = t.plan_scan(where={KEY: (lo, hi)})
            sp.count("files_planned_frac", len(kept) / max(1, total))
            with tr.span("snapshots.pruned_read"):
                return t.read(self.spark, where={KEY: (lo, hi)}).count()

        n = self._op(call)
        if n is not None:
            self.observed.append(("pruned", b, n))

    def travel_read(self, b: int, version: int) -> None:
        def call():
            with self.tr.span("snapshots.travel"):
                return self.t.read(self.spark, version=version).count()

        n = self._op(call)
        if n is not None:
            self.observed.append(("travel", b, n))

    def changes(self, b: int, v_before: int, v_after: int) -> None:
        def call():
            with self.tr.span("snapshots.changes"):
                rows = (
                    self.t.changes_between(self.spark, v_before, v_after)
                    .groupBy("_change_type").count().collect()
                )
            got = {r[0]: r[1] for r in rows}
            return got.get("insert", 0), got.get("delete", 0)

        res = self._op(call)
        if res is not None:
            self.observed.append(("changes", b, res))

    def _mark_head(self, b: int) -> None:
        self.version_batch[self.t.versions()[-1]["version"]] = ("state", b)

    def evolve(self, b: int) -> None:
        schema, renamed, added = self.evolver.target(self.t)
        data0 = dir_bytes(self.path, ".parquet")[0] if self.tr.enabled else 0

        def call():
            with self.tr.span("snapshots.evolve") as sp:
                self.t.evolve_schema(schema)
            return sp

        sp = self._op(call)
        if sp is None:
            return
        self.evolver.commit(renamed, added)
        self.spark_schema = self.t.table_schema().to_spark_struct()
        if self.tr.enabled:
            sp.count("data_bytes", dir_bytes(self.path, ".parquet")[0] - data0)
        self._mark_head(b)

    def maintain(self, b: int) -> None:
        before = dir_bytes(self.path)[0] if self.tr.enabled else 0

        def call():
            with self.tr.span("snapshots.maintain") as sp:
                # delete pressure folds the stack into one deletion
                # vector; the commit-count trigger is kept out of reach
                self.t.maintain(
                    self.spark, max_delete_files=2, max_commits=1 << 20, delete_mode="vector"
                )
            return sp

        sp = self._op(call)
        if sp is None:
            return
        mid = dir_bytes(self.path)[0] if self.tr.enabled else 0
        if self.tr.enabled:
            sp.count("rewritten_bytes", mid - before)
        self._mark_head(b)

        def expire():
            with self.tr.span("snapshots.expire") as sp:
                self.t.expire_snapshots(keep_last=KEEP_SNAPSHOTS)
            return sp

        sp = self._op(expire)
        if sp is not None and self.tr.enabled:
            sp.count("reclaimed_bytes", mid - dir_bytes(self.path)[0])

    def cycle(self, b: int, timed: bool) -> None:
        self.batch(b, timed)
        self.pruned_read(b)
        v_before, _ = self.batch(b + 1, timed)
        self.travel_read(b + 1, v_before)
        self.evolve(b + 1)
        v_before, v_after = self.batch(b + 2, timed)
        self.head_read(b + 2, timed)
        self.changes(b + 2, v_before, v_after)
        self.maintain(b + 2)

    def verify(self, oracle: Oracle) -> int:
        """Check every recorded read and every retained version against
        the oracle. Returns the number of mismatches."""
        bad = 0
        for kind, b, got in self.observed:
            if kind == "error":
                continue  # already counted as failed
            lo, hi = self.ranges[b]
            if kind == "head":
                ok = got == oracle.state(b, lo, hi)[:3]
            elif kind == "pruned":
                ok = got == oracle.state(b, lo, hi)[3]
            elif kind == "travel":
                ok = got == oracle.state(b - 1, lo, hi)[0]
            else:
                ok = got == oracle.changes(b)
            bad += not ok
        # every retained version's row count, in one query
        from pyspark.sql import functions as F

        want = {}
        for entry in self.t.versions():
            v = entry["version"]
            kind, b = self.version_batch.get(v, ("unknown", None))
            self.attempted += 1
            if kind == "state":
                want[v] = oracle.state(b, 0, 0)[0]
            elif kind == "retire":
                _ins, dels = oracle.changes(b)
                want[v] = oracle.state(b - 1, 0, 0)[0] - dels
            else:
                bad += 1
        reads = [self.t.read(self.spark, version=v).select(F.lit(v).alias("v")) for v in want]
        counts = reduce(lambda a, b: a.unionByName(b), reads).groupBy("v").count()
        got = {r[0]: r[1] for r in counts.collect()}
        bad += sum(got.get(v, 0) != n for v, n in want.items())
        return bad


def _warm_up(spark, work: str, inputs: str, ranges: list, host) -> None:
    """One batch, the unit call, on a throwaway copy of the template, using
    a batch at the end of the pool (never reached by the timed phase). The
    cycle's other operations run cold: warming each of them costs as much
    as the timed cycle, which the benchmark's time budget does not hold."""
    warm = os.path.join(work, "warm")
    shutil.copytree(os.path.join(work, "template"), warm)
    _Lifecycle(spark, warm, inputs, ranges, NullTracer(), host).batch(MAX_BATCHES - 1, timed=False)
    shutil.rmtree(warm)
    spark.catalog.clearCache()


def run(args, tr, t_process: float) -> dict:
    spark = start_session("perfbench-cdc")
    startup_s = time.time() - t_process
    host = HostSpeed()
    host.sample()
    work = args.workdir
    inputs = os.path.join(work, "inputs")
    t0 = time.perf_counter()
    meta = make_inputs(args.seed, inputs)
    inputs_s = time.perf_counter() - t0
    host.sample()
    t0 = time.perf_counter()
    build_template(spark, inputs, os.path.join(work, "template"))
    template_s = time.perf_counter() - t0
    host.sample()
    t0 = time.perf_counter()
    _warm_up(spark, work, inputs, meta["ranges"], host)
    warm_s = time.perf_counter() - t0
    table = os.path.join(work, "table")
    shutil.copytree(os.path.join(work, "template"), table)
    gc.collect()
    if tr.enabled:
        tr.attach_spark(spark)

    lc = _Lifecycle(spark, table, inputs, meta["ranges"], tr, host)
    # every time leaves out the host-speed samples
    setup_wall_s = time.time() - t_process - host.spent_wall
    setup_cpu_s = tree_cpu_s() - host.spent_cpu
    t_start = time.perf_counter() - host.spent_wall
    b = 0
    while time.perf_counter() - host.spent_wall - t_start < args.seconds and b + 2 * BATCHES_PER_CYCLE <= MAX_BATCHES:
        with tr.span("cycle"):
            lc.cycle(b, timed=True)
        b += BATCHES_PER_CYCLE
    elapsed = time.perf_counter() - host.spent_wall - t_start
    cpu_s = tree_cpu_s() - host.spent_cpu - setup_cpu_s
    peak_rss = tree_peak_rss_mb()
    if tr.enabled:
        tr.attach_spark(None)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    oracle = Oracle(inputs)
    try:
        lc.failed += lc.verify(oracle)
    finally:
        oracle.close()
    user_bytes = dir_bytes(os.path.join(inputs, "orders"))[0] + sum(
        os.path.getsize(os.path.join(inputs, f"batch_{i:03d}.parquet")) for i in range(b)
    )
    table_bytes = dir_bytes(table)[0]
    stop_session(spark)
    return {
        "attempted": lc.attempted,
        "failed": lc.failed,
        "items": lc.items,
        "elapsed_s": elapsed,
        "cpu_s": cpu_s,
        "setup_wall_s": setup_wall_s,
        "setup_cpu_s": setup_cpu_s,
        "host": host,
        "latencies_ms": lc.call_ms,
        "peak_rss_mb": peak_rss,
        "extra": {
            "batches": b,
            "read_ms": lc.read_ms,
            "bytes_per_user_byte": table_bytes / user_bytes,
            "inputs_s": inputs_s,
            "template_s": template_s,
            "warm_s": warm_s,
            "startup_s": startup_s,
            "errors": [o[2] for o in lc.observed if o[0] == "error"][:5],
        },
    }


def layer_metrics(tr, result: dict) -> dict:
    def med(name: str, count: str | None = None) -> float:
        spans = tr.named(name)
        if count is None:
            return median([s.ms for s in spans])
        return median([s.counts.get(count, 0) for s in spans])

    batches = tr.named("sink.batch")
    spark = [tr.subtree_spark(s) for s in batches]
    reads = [s.ms for s in tr.named("snapshots.read")]
    out = {
        "sink.batch_ms": metric(med("sink.batch"), "ms"),
        "sink.rows": metric(med("sink.batch", "rows"), "count"),
        "sink.jobs": metric(median([m["jobs"] for m in spark]), "count"),
        "sink.driver_ms": metric(
            median([s.ms - m["job_wall_ms"] for s, m in zip(batches, spark)]), "ms"
        ),
        "snapshots.versions_ms": metric(med("snapshots.versions"), "ms"),
        "snapshots.log_entries": metric(med("snapshots.versions", "log_entries"), "count"),
        "snapshots.evolve_ms": metric(med("snapshots.evolve"), "ms"),
        "snapshots.evolve_data_bytes": metric(med("snapshots.evolve", "data_bytes"), "bytes"),
        "snapshots.maintain_ms": metric(med("snapshots.maintain"), "ms"),
        "snapshots.rewritten_bytes": metric(med("snapshots.maintain", "rewritten_bytes"), "bytes"),
        "snapshots.expire_ms": metric(med("snapshots.expire"), "ms"),
        "snapshots.reclaimed_bytes": metric(med("snapshots.expire", "reclaimed_bytes"), "bytes"),
        "snapshots.read_ms": metric(median(reads), "ms"),
        "snapshots.delete_files": metric(med("snapshots.read", "delete_files"), "count"),
        "snapshots.plan_scan_ms": metric(med("snapshots.plan_scan"), "ms"),
        "snapshots.files_planned_frac": metric(med("snapshots.plan_scan", "files_planned_frac"), "ratio"),
        "snapshots.pruned_read_ms": metric(med("snapshots.pruned_read"), "ms"),
        "snapshots.travel_ms": metric(med("snapshots.travel"), "ms"),
        "snapshots.changes_ms": metric(med("snapshots.changes"), "ms"),
        "snapshots.bytes_written": metric(med("sink.batch", "bytes_written"), "bytes"),
        "snapshots.files_written": metric(med("sink.batch", "files_written"), "count"),
        "snapshots.bytes_per_user_byte": metric(result["extra"]["bytes_per_user_byte"], "ratio"),
    }
    out.update(spark_layer(spark))
    return out


def spark_layer(per_call: list[dict]) -> dict:
    """Medians, per unit call, of the Spark counters of its span subtree."""
    from perfbench.trace import SPARK_KEYS

    units = {
        "jobs": "count", "stages": "count", "tasks": "count", "executor_run_ms": "ms",
        "executor_cpu_ms": "ms", "jvm_gc_ms": "ms", "shuffle_write_bytes": "bytes",
        "spill_bytes": "bytes",
    }
    return {
        f"spark.{k}": metric(median([m[k] for m in per_call]), units[k])
        for k in SPARK_KEYS if k in units
    }
