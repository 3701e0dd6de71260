"""Workload ``schema_plan``: the pure-Python planner, no JVM.

Seeded pairs of Iceberg-JSON schemas, each planned by the calls that
``cli diff --json`` and ``evolve --sql-only`` make: parse both documents
(``json.loads`` + ``Schema.from_json``), ``diff``, ``to_evolution_operations``,
``compile_plan``, and render the plan to a string with both renderers and
the ``--json`` form. One such plan is the unit call.

Widths are drawn continuously (log-uniform, stratified so every seed gets
the same spread) from ``MIN_WIDTH`` to ``MAX_WIDTH`` fields, nesting up to
depth 3 through structs, lists and maps. Each pair carries renames, legal
widenings, narrowings, drops, adds, top-level reorders and doc/required
changes; ``NAME_MATCHED_SHARE`` of the pairs are planned with
``match_by="name"``. The generator records the changes it injected, and
every plan's diff must report exactly those.
"""

from __future__ import annotations

import gc
import json
import os
import random
import time
import warnings

from perfbench.common import (
    HostSpeed,
    descendants,
    median,
    metric,
    percentile,
    tree_cpu_s,
    tree_peak_rss_mb,
)
from perfbench.trace import NullTracer

MIN_WIDTH = 300
MAX_WIDTH = 3000
#: Pairs in the pool (a power of two: see ``_bit_reversed``).
POOL = 128
NAME_MATCHED_SHARE = 0.25
WARMUP_CALLS = 16
#: Whole set-ups (pool, fixture gate, warm-up) per run; set-up time counts
#: interpreter start plus their median.
SETUP_REPEATS = 3
#: Plan calls between two host-speed samples.
SAMPLE_EVERY = 4
TABLE = "db.events"

_PRIMS = ("int", "long", "float", "double", "string", "boolean", "date", "timestamp", "binary")
_WIDEN = {"int": "long", "float": "double"}
_NARROW = {"long": "int", "double": "float"}

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


# ---------------------------------------------------------------------------
# Generator
# ---------------------------------------------------------------------------


class _SchemaGen:
    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self.next_id = 1
        self.nodes = 0  # Field objects the parser will build

    def _id(self) -> int:
        self.next_id += 1
        return self.next_id - 1

    def prim(self):
        r = self.rng.random()
        if r < 0.08:
            p = self.rng.randint(9, 30)
            return f"decimal({p}, {self.rng.randint(0, 4)})"
        return self.rng.choice(_PRIMS)

    def type_(self, depth: int):
        r = self.rng.random()
        if depth < 3 and r < 0.10:
            return self.struct(depth + 1, self.rng.randint(2, 8))
        if r < 0.16:
            elem = self.struct(depth + 1, self.rng.randint(2, 4)) if depth < 3 and self.rng.random() < 0.3 else self.prim()
            return {"type": "list", "element-id": self._id(), "element": elem, "element-required": False}
        if r < 0.20:
            val = self.struct(depth + 1, self.rng.randint(2, 4)) if depth < 3 and self.rng.random() < 0.3 else self.prim()
            return {
                "type": "map", "key-id": self._id(), "key": "string",
                "value-id": self._id(), "value": val, "value-required": False,
            }
        return self.prim()

    def field(self, depth: int) -> dict:
        fid = self._id()
        self.nodes += 1
        f = {"id": fid, "name": f"f{fid}", "required": self.rng.random() < 0.2, "type": self.type_(depth)}
        if self.rng.random() < 0.3:
            f["doc"] = f"doc {fid}"
        return f

    def struct(self, depth: int, n: int) -> dict:
        return {"type": "struct", "fields": [self.field(depth) for _ in range(n)]}

    def schema(self, width: int) -> dict:
        fields = []
        while self.nodes < width:
            fields.append(self.field(1))
        return {"type": "struct", "schema-id": 0, "fields": fields}


def _struct_reachable(fields: list, path: str = ""):
    """(containing list, field, dotted path) for every field reachable
    through structs only — the fields the by-id diff compares one by one."""
    for f in fields:
        p = f"{path}{f['name']}"
        yield fields, f, p
        if isinstance(f["type"], dict) and f["type"]["type"] == "struct":
            yield from _struct_reachable(f["type"]["fields"], p + ".")


def make_pair(rng: random.Random, width: int, by_name: bool) -> tuple[str, str, dict]:
    """(current JSON, new JSON, expected diff counts by change kind)."""
    gen = _SchemaGen(rng)
    cur = gen.schema(width)
    new = json.loads(json.dumps(cur))
    top = new["fields"]
    n_top = len(top)
    scale = max(1, width // 250)

    def k() -> int:
        return 1 + rng.randrange(scale)

    # Top-level moves: fields spaced apart, away from both ends, moved to
    # the end in their old relative order. Every moved field keeps >= 3
    # stable neighbours on each side, so the minimal-move set is exactly
    # the moved fields. Those neighbours are frozen (never dropped).
    moves: list[dict] = []
    frozen: set[int] = set()
    if n_top >= 16:
        slots = list(range(4, n_top - 4, 8))
        rng.shuffle(slots)
        moves = [top[i] for i in sorted(slots[: min(k(), len(slots))])]
        for f in moves:
            i = top.index(f)
            frozen.update(top[j]["id"] for j in range(i - 3, i + 4))

    cands = list(_struct_reachable(top))
    # Structs an add may land in, with their paths before any rename.
    structs = [("", top)] + [
        (p, f["type"]["fields"]) for _l, f, p in cands
        if isinstance(f["type"], dict) and f["type"]["type"] == "struct"
    ]
    rng.shuffle(cands)
    touched: set[str] = set()

    def free(path: str, fid: int) -> bool:
        if fid in frozen:
            return False
        return not any(path == t or path.startswith(t + ".") or t.startswith(path + ".") for t in touched)

    expect = dict.fromkeys(("added", "removed", "renamed", "type_changed", "doc_changed", "required_changed", "moved"), 0)

    def take(pred, n: int):
        out = []
        for c in cands:
            if len(out) == n:
                break
            if free(c[2], c[1]["id"]) and pred(c[1]):
                touched.add(c[2])
                out.append(c)
        return out

    def prim_in(names):
        return lambda f: isinstance(f["type"], str) and f["type"] in names

    is_decimal = lambda f: isinstance(f["type"], str) and f["type"].startswith("decimal(")  # noqa: E731
    for _l, f, _p in take(lambda f: prim_in(_WIDEN)(f) or is_decimal(f), k()):
        if f["type"] in _WIDEN:
            f["type"] = _WIDEN[f["type"]]
        else:
            p, s = f["type"][8:-1].split(", ")
            f["type"] = f"decimal({min(38, int(p) + 2)}, {s})"
        expect["type_changed"] += 1
    for _l, f, _p in take(prim_in(_NARROW), k()):
        f["type"] = _NARROW[f["type"]]
        expect["type_changed"] += 1
    for _l, f, _p in take(lambda f: True, k()):
        f["name"] = f"{f['name']}_r"
        expect["added" if by_name else "renamed"] += 1
    for _l, f, _p in take(lambda f: True, k()):
        f["doc"] = f"changed {f['id']}"
        expect["doc_changed"] += 0 if by_name else 1
    for _l, f, _p in take(lambda f: True, k()):
        f["required"] = not f["required"]
        expect["required_changed"] += 0 if by_name else 1
    dropped = take(lambda f: True, k())
    for lst, f, _p in dropped:
        lst.remove(f)
        expect["removed"] += 0 if by_name else 1
    # Adds: appended to the top level or to a nested struct (the order of
    # the fields both schemas share is unchanged by an append).
    open_structs = [lst for p, lst in structs if not p or free(p, -1)]
    for _ in range(k()):
        lst = rng.choice(open_structs)
        nf = gen.field(2)
        nf["name"] = f"added_{nf['id']}"
        nf["required"] = False
        lst.append(nf)
        expect["added"] += 1
    if moves:
        ids = {f["id"] for f in moves}
        new["fields"] = [f for f in top if f["id"] not in ids] + moves
        expect["moved"] += 0 if by_name else len(moves)
    return json.dumps(cur), json.dumps(new), expect


def _bit_reversed(n: int) -> list[int]:
    """Bit-reversal order of ``range(n)`` (``n`` a power of two): every
    prefix of it samples the strata evenly, so the warm-up, which plans a
    prefix of the pool, sees the width mix of the whole pool."""
    bits = n.bit_length() - 1
    return [int(f"{i:0{bits}b}"[::-1], 2) for i in range(n)]


def make_pool(seed: int) -> list[tuple[str, str, dict, str]]:
    rng = random.Random(seed)
    n_name = round(POOL * NAME_MATCHED_SHARE)
    by_names = [True] * n_name + [False] * (POOL - n_name)
    rng.shuffle(by_names)
    pool = []
    for i, by_name in enumerate(by_names):
        u = (i + rng.random()) / POOL
        width = int(MIN_WIDTH * (MAX_WIDTH / MIN_WIDTH) ** u)
        cur, new, expect = make_pair(rng, width, by_name)
        pool.append((cur, new, expect, "name" if by_name else "id"))
    return [pool[i] for i in _bit_reversed(POOL)]


# ---------------------------------------------------------------------------
# Unit call
# ---------------------------------------------------------------------------


def plan(cur_text: str, new_text: str, match_by: str, tr):
    """One schema-pair plan: the calls of ``diff --json`` and
    ``evolve --sql-only``. Returns (diff, ops, statements, rendered)."""
    from iceberg_evolve_spark.operators.executor import compile_plan
    from iceberg_evolve_spark.render import EvolutionOperationsRenderer, SchemaDiffRenderer
    from iceberg_evolve_spark.schema import Schema

    with tr.span("serializer") as sp:
        cur = Schema.from_json(json.loads(cur_text))
        new = Schema.from_json(json.loads(new_text))
    if tr.enabled:
        sp.count("fields", _count_fields(cur.struct) + _count_fields(new.struct))
    with tr.span("diff") as sp:
        diff = cur.diff(new, match_by=match_by, include_required_changes=match_by == "id")
        sp.count("changes", len(diff.all_changes))
    with tr.span("evolution") as sp:
        ops = diff.to_evolution_operations()
        sp.count("ops", len(ops))
    with tr.span("executor") as sp:
        stmts = compile_plan(ops, TABLE)
        sp.count("statements", len(stmts))
    with tr.span("render"):
        text = "\n".join(
            SchemaDiffRenderer(diff, use_color=False).lines()
            + EvolutionOperationsRenderer(ops, use_color=False).lines()
            + [json.dumps([op.to_dict() for op in ops])]
        )
    return diff, ops, stmts, text


def _count_fields(struct) -> int:
    from iceberg_evolve_spark.model import ListType, MapType, StructType

    n = 0
    todo = [struct]
    while todo:
        t = todo.pop()
        if isinstance(t, StructType):
            n += len(t.fields)
            todo.extend(f.type for f in t.fields)
        elif isinstance(t, ListType):
            todo.append(t.element)
        elif isinstance(t, MapType):
            todo.extend((t.key, t.value))
    return n


def _diff_counts(diff) -> dict:
    out = dict.fromkeys(("added", "removed", "renamed", "type_changed", "doc_changed", "required_changed", "moved"), 0)
    for c in diff.all_changes:
        out[c.kind] += 1
    return out


def fixture_gate(tr) -> bool:
    """users_current -> users_new plans exactly 9 ops: 2 renames, 2
    updates (1 unsupported), 2 adds, 2 drops and 1 move."""
    with open(os.path.join(FIXTURES, "users_current.iceberg.json")) as fh:
        cur = fh.read()
    with open(os.path.join(FIXTURES, "users_new.iceberg.json")) as fh:
        new = fh.read()
    _diff, ops, _stmts, _text = plan(cur, new, "id", tr)
    kinds: dict[str, int] = {}
    for op in ops:
        kinds[op.op_name] = kinds.get(op.op_name, 0) + 1
    unsupported = sum(1 for op in ops if not op.is_supported)
    return kinds == {
        "rename_column": 2, "update_column": 2, "add_column": 2,
        "drop_column": 2, "move_column": 1,
    } and unsupported == 1


def _check(diff, ops, expect: dict) -> bool:
    counts = _diff_counts(diff)
    return counts == expect and len(ops) == sum(expect.values())


# ---------------------------------------------------------------------------
# Run
# ---------------------------------------------------------------------------


def setup(seed: int, tr, host):
    """Generate the pool, pass the fixture gate and warm up, with
    host-speed samples in between. Returns (pool, fixture gate passed)."""
    pool = make_pool(seed)
    host.sample()
    ok = fixture_gate(tr)
    host.sample()
    for i, (cur, new, _e, mode) in enumerate(pool[:WARMUP_CALLS]):
        plan(cur, new, mode, tr)
        if i % SAMPLE_EVERY == SAMPLE_EVERY - 1:
            host.sample()
    return pool, ok


def run(args, tr, t_process: float) -> dict:
    from iceberg_evolve_spark.exceptions import UnsupportedSchemaEvolutionWarning

    # Narrowings compile to a warning per op; the CLI prints them, the
    # benchmark does not.
    warnings.simplefilter("ignore", UnsupportedSchemaEvolutionWarning)
    startup_wall_s, startup_cpu_s = time.time() - t_process, tree_cpu_s()
    host = HostSpeed()
    reps = []  # (wall s, CPU s) per whole set-up, host-speed samples left out
    for _ in range(SETUP_REPEATS):
        t0, c0 = time.perf_counter() - host.spent_wall, tree_cpu_s() - host.spent_cpu
        pool, fixture_ok = setup(args.seed, NullTracer(), host)
        reps.append((time.perf_counter() - host.spent_wall - t0, tree_cpu_s() - host.spent_cpu - c0))
    # The pool is long-lived harness state; keep the collector from
    # re-scanning it during timed calls (a CLI process holds one pair).
    gc.collect()
    gc.freeze()

    attempted, failed = 1, 0 if fixture_ok else 1
    lat: list[float] = []
    items = passes = 0
    # Whole passes over the pool, so every run plans the same mix of
    # widths whatever the seed.
    cpu0, t_start = tree_cpu_s() - host.spent_cpu, time.perf_counter() - host.spent_wall
    while passes == 0 or time.perf_counter() - host.spent_wall - t_start < args.seconds:
        passes += 1
        for i, (cur, new, expect, mode) in enumerate(pool):
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span("plan"):
                    diff, ops, _stmts, _text = plan(cur, new, mode, tr)
            except Exception:  # a failed call counts; the pass goes on
                failed += 1
                continue
            lat.append((time.perf_counter() - t0) * 1000.0)
            items += 1
            if not _check(diff, ops, expect):
                failed += 1
            if i % SAMPLE_EVERY == SAMPLE_EVERY - 1:
                host.sample()
    elapsed = time.perf_counter() - host.spent_wall - t_start
    cpu_s = tree_cpu_s() - host.spent_cpu - cpu0
    gc.unfreeze()
    # The planner must run without a JVM: no child process may exist.
    children = descendants()
    attempted += 1
    failed += bool(children)
    return {
        "attempted": attempted,
        "failed": failed,
        "items": items,
        "elapsed_s": elapsed,
        "cpu_s": cpu_s,
        "setup_wall_s": startup_wall_s + median([w for w, _c in reps]),
        "setup_cpu_s": startup_cpu_s + median([c for _w, c in reps]),
        "host": host,
        "latencies_ms": lat,
        "peak_rss_mb": tree_peak_rss_mb(),
        "extra": {
            "fixture_gate": fixture_ok,
            "child_processes": len(children),
            "passes": passes,
            "setup_reps_wall_cpu_s": reps,
            "startup_wall_cpu_s": [startup_wall_s, startup_cpu_s],
        },
    }


def layer_metrics(tr, result: dict) -> dict:
    """Per-layer medians per unit call, from the traced run."""
    def med(name: str, count: str | None = None) -> float:
        spans = tr.named(name)
        if count is None:
            return median([s.ms for s in spans])
        return median([s.counts.get(count, 0) for s in spans])

    plans = tr.named("plan")
    calls = [s.ms for s in plans]
    return {
        "serializer.ms": metric(med("serializer"), "ms"),
        "serializer.fields": metric(med("serializer", "fields"), "count"),
        "diff.ms": metric(med("diff"), "ms"),
        "diff.changes": metric(med("diff", "changes"), "count"),
        "evolution.ms": metric(med("evolution"), "ms"),
        "evolution.ops": metric(med("evolution", "ops"), "count"),
        "executor.ms": metric(med("executor"), "ms"),
        "executor.statements": metric(med("executor", "statements"), "count"),
        "render.ms": metric(med("render"), "ms"),
        "plan.call_p90_ms": metric(percentile(calls, 90) if calls else 0.0, "ms"),
    }
