"""Plan fingerprints of the ``schema_plan`` benchmark pools.

A change to the parser, the model or the diff must not change a single
byte of what the planner produces. This test pins that for the pools the
benchmark plans (``perfbench.schema_plan.make_pool(seed)``), with this
recipe, so the pinned digests can be re-derived by anyone:

* one SHA-256 per pool;
* for every pair, in pool order, plan it with ``perfbench.schema_plan.plan``
  (parse, diff, ``to_evolution_operations``, compile, render) and feed the
  hash the rendered text, then ``"\\n--\\n"``, then the
  ``compile_plan(ops, "db.events")`` statements joined by ``"\\n"``, then
  ``"\\x00"`` (all UTF-8);
* compare the full hex digest.

Re-pin only for a change that means to alter plans, and say why.
"""

from __future__ import annotations

import hashlib
import warnings

import pytest

from iceberg_evolve_spark.exceptions import UnsupportedSchemaEvolutionWarning
from iceberg_evolve_spark.operators.executor import compile_plan
from perfbench.schema_plan import make_pool, plan
from perfbench.trace import NullTracer

PINNED = {
    11: "e85cf8b42420bc716bb7ade1cad9d6cdae194704e9839aa4122a22edd05823b9",
    12: "820fdc4e96db054e452640619825032b7c67bf66442520a2f21f679ac8eb3498",
}


def pool_fingerprint(seed: int) -> str:
    h = hashlib.sha256()
    tr = NullTracer()
    with warnings.catch_warnings():
        # Narrowings warn once per compiled op; the plan text is what counts.
        warnings.simplefilter("ignore", UnsupportedSchemaEvolutionWarning)
        for cur, new, _expect, mode in make_pool(seed):
            _diff, ops, _stmts, text = plan(cur, new, mode, tr)
            h.update(text.encode())
            h.update(b"\n--\n")
            h.update("\n".join(compile_plan(ops, "db.events")).encode())
            h.update(b"\x00")
    return h.hexdigest()


@pytest.mark.parametrize("seed", sorted(PINNED))
def test_pool_plans_are_unchanged(seed):
    assert pool_fingerprint(seed) == PINNED[seed]
