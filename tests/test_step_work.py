"""Driver work per row-local step, as a count that timing noise cannot
move: the DataFrames constructed when a step is added to a pipeline, and
when the pipeline's accounting plan is built with the step in it. Each
PySpark DataFrame is one analysis on the driver, and a sink or ``go()``
rebuilds the accounting plan, so these counts are the step's
plan-construction work.

The budgets are the counts measured before the rejecting row-local
steps were built by one constructor (``Pipeline._row_step``); a step
that goes over its budget constructs more than it did then."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gratum_spark import sources

# name -> (step, DataFrames when it is added, DataFrames its accounting
# form adds to a build of the accounting plan)
STEPS = {
    "filter_map": (lambda p: p.filter({"k": ["a", "b"]}), 1, 1),
    "filter_map_closure": (lambda p: p.filter({"v": lambda v: v != "x"}), 1, 1),
    "filter_sql": (lambda p: p.filter("v <> 'x'"), 3, 1),
    "filter_column": (lambda p: p.filter(F.col("v") != "x"), 3, 1),
    # a Python UDF cannot extend the open segment: the step starts a new
    # one (kept rows plus rejects), whose build replaces the source's
    "filter_udf": (lambda p: p.filter(F.udf(lambda v: v != "x", "boolean")("v")), 4, 3),
    "filter_closure": (lambda p: p.filter(lambda r: r["v"] != "x"), 3, 3),
    "unique": (lambda p: p.unique("k"), 3, 1),
    "add_field_closure": (lambda p: p.add_field("m", lambda r: 1, "long"), 4, 3),
    "add_field_sql": (lambda p: p.add_field("m", "length(v)"), 3, 1),
    "remove_field_cond": (lambda p: p.remove_field("v", "k = 'c'"), 3, 1),
    "as_int": (lambda p: p.as_int("n"), 4, 3),
    "as_double": (lambda p: p.as_double("n"), 4, 3),
    "as_date": (lambda p: p.as_date("n", "yyyy-MM-dd", "M"), 4, 3),
}


@pytest.fixture()
def constructions(monkeypatch, spark):
    """A counter of DataFrame constructions: ``count(fn)`` runs ``fn``
    and returns (its result, the DataFrames it constructed). It wraps the
    session's DataFrame class's ``__init__`` and counts each object once:
    classic PySpark runs ``__init__`` from ``__new__`` and again from the
    type call."""
    cls = type(spark.range(1))
    orig = cls.__init__
    made: dict[int, object] = {}  # holds each object, so no id is reused

    def init(self, *args, **kwargs):
        made[id(self)] = self
        orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, "__init__", init)

    def count(fn):
        before = len(made)
        out = fn()
        return out, len(made) - before

    return count


@pytest.mark.parametrize("name", sorted(STEPS))
def test_row_step_dataframe_budget(spark, constructions, name):
    step, add_budget, build_budget = STEPS[name]
    p = sources.from_collection(
        spark, [{"k": "a", "v": "x", "n": "1"}], "k string, v string, n string"
    )
    _, base = constructions(p._acct.build)
    q, added = constructions(lambda: step(p))
    _, built = constructions(q._acct.build)
    print(f"{name}: added {added}, accounting build {built - base}")
    assert added <= add_budget
    assert built - base <= build_budget
