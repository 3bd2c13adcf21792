"""Property-based tests (hypothesis) for engine invariants.

Beyond the reference's test strategy (inline golden counts only —
SURVEY §5.1 notes the absence of randomized testing): these assert
structural invariants that must hold for ANY input."""

from __future__ import annotations

import re
from datetime import date

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gratum_spark import RejectionCategory, sources

# One shared strategy: small tables of (k, v, n) rows
ROW = st.fixed_dictionaries(
    {
        "k": st.sampled_from(["a", "b", "c"]),
        "v": st.one_of(st.none(), st.text(alphabet="xyz0", max_size=3)),
        "n": st.one_of(st.none(), st.integers(-1000, 1000).map(str), st.just("bad")),
    }
)
ROWS = st.lists(ROW, min_size=1, max_size=12)

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _pipe(spark, rows):
    return sources.from_collection(spark, rows, "k string, v string, n string")


@given(rows=ROWS)
@SLOW
def test_filter_partition_invariant(spark, rows):
    """loaded + rejected == total for any predicate split."""
    p = _pipe(spark, rows)
    stat = p.filter({"k": "a"}).go()
    assert stat.loaded + stat.rejected == len(rows)
    # the reject stream carries exactly the complement
    kept = stat.loaded
    assert kept == sum(1 for r in rows if r["k"] == "a")


@given(rows=ROWS)
@SLOW
def test_as_int_trichotomy(spark, rows):
    """Every row is exactly one of: parsed, passed-through-null, rejected."""
    p = _pipe(spark, rows)
    stat = p.as_int("n").go()
    n_bad = sum(1 for r in rows if r["n"] == "bad")
    assert stat.rejections_for(RejectionCategory.INVALID_FORMAT) == n_bad
    assert stat.loaded == len(rows) - n_bad


@given(rows=ROWS)
@SLOW
def test_unique_keeps_one_per_key(spark, rows):
    p = _pipe(spark, rows)
    stat = p.unique("k").go()
    distinct = len({r["k"] for r in rows})
    assert stat.loaded == distinct
    assert stat.rejected == len(rows) - distinct


@given(rows=ROWS)
@SLOW
def test_concat_is_length_additive(spark, rows):
    a = _pipe(spark, rows)
    b = _pipe(spark, rows)
    assert a.concat(b).go().loaded == 2 * len(rows)


@given(rows=ROWS)
@SLOW
def test_exact_dedup_idempotent(spark, rows):
    from gratum_spark.operators import dedup

    df = _pipe(spark, rows).df.withColumn(
        "rid", __import__("pyspark.sql.functions", fromlist=["f"]).monotonically_increasing_id()
    )
    once = dedup.exact_dedup(df, ["k", "v"], "rid")
    twice = dedup.exact_dedup(once, ["k", "v"], "rid")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


ASOF_LEFT = st.lists(
    st.tuples(st.sampled_from(["u1", "u2"]), st.integers(0, 100)),
    min_size=1, max_size=10,
)
ASOF_RIGHT = st.lists(
    st.tuples(st.sampled_from(["u1", "u2"]), st.integers(0, 100), st.integers(-5, 5)),
    min_size=1, max_size=10,
)


@given(left=ASOF_LEFT, right=ASOF_RIGHT)
@SLOW
def test_asof_join_matches_python_model(spark, left, right):
    """asof backward join == 'latest right row at-or-before each left
    ts per key' — checked against a brute-force python model for any
    input, including duplicate timestamps and keys with no match."""
    from gratum_spark.operators import joins

    ldf = spark.createDataFrame(left, "k string, ts long")
    # dedupe right on (k, ts) keeping max v to make the model unambiguous
    seen: dict[tuple, int] = {}
    for k, ts, v in right:
        seen[(k, ts)] = max(v, seen.get((k, ts), v))
    rrows = [(k, ts, v) for (k, ts), v in seen.items()]
    rdf = spark.createDataFrame(rrows, "k string, ts long, v long")

    got = {
        (r["k"], r["ts"], r["v"])
        for r in joins.asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="ts"
        ).collect()
    }

    expect = set()
    for k, lts in left:
        best = None
        for (rk, rts), v in seen.items():
            if rk == k and rts <= lts and (best is None or rts > best[0]):
                best = (rts, v)
        expect.add((k, lts, best[1] if best else None))
    assert got == expect


JOIN_LEFT_ROWS = st.lists(
    st.tuples(st.integers(0, 4), st.sampled_from(["L1", "L2", None])),
    min_size=1, max_size=8,
)
JOIN_RIGHT_ROWS = st.lists(
    st.tuples(st.integers(0, 6), st.sampled_from(["R1", "R2"]), st.integers(0, 9)),
    min_size=0, max_size=8,
)


@given(lrows=JOIN_LEFT_ROWS, rrows=JOIN_RIGHT_ROWS)
@SLOW
def test_join_matches_reference_model(spark, lrows, rrows):
    """gratum join semantics vs a python model for arbitrary inputs:
    1-to-N multiplication, LEFT-wins column collision on 'v', inner
    rejects of unmatched lefts (Pipeline.groovy:385-427)."""
    left = sources.from_collection(
        spark,
        [{"k": k, "v": v} for k, v in lrows],
        schema="k long, v string",
    )
    rdf = spark.createDataFrame(
        [(k, v, x) for k, v, x in rrows], "k long, v string, x long"
    )

    joined = left.join(rdf, on="k", broadcast=True)
    key = lambda t: (t[0], t[1] or "", t[2])
    got = sorted(
        ((r["k"], r["v"], r["x"]) for r in joined.df.collect()), key=key
    )

    expect = []
    for k, v in lrows:
        matches = [(rk, rv, rx) for rk, rv, rx in rrows if rk == k]
        for _, _, rx in matches:
            expect.append((k, v, rx))  # v = LEFT's value (collision rule)
    assert got == sorted(expect, key=key)

    stat = joined.go()
    n_unmatched = sum(
        1 for k, _ in lrows if not any(rk == k for rk, _, _ in rrows)
    )
    assert stat.loaded == len(expect)
    assert stat.rejected == n_unmatched


@given(rows=ROWS)
@SLOW
def test_add_step_matches_sequential_model(spark, rows):
    """add_step must agree with the obvious sequential interpreter:
    mutate / None-reject / raise-reject per row, independent of Spark's
    partitioning and execution order."""

    def step(row):
        if row["v"] is None:
            return None  # reject
        if row["n"] == "bad":
            raise ValueError("boom")  # SCRIPT_ERROR
        return {**row, "kv": f'{row["k"]}:{row["v"]}'}

    # sequential reference model
    expected_kept, expected_rejected, expected_errors = [], 0, 0
    for r in rows:
        if r["v"] is None:
            expected_rejected += 1
        elif r["n"] == "bad":
            expected_errors += 1
        else:
            expected_kept.append(f'{r["k"]}:{r["v"]}')

    p = _pipe(spark, rows).add_step("model", step, schema="k string, v string, n string, kv string")
    stat = p.go()
    assert stat.loaded == len(expected_kept)
    assert stat.rejections_for(RejectionCategory.REJECTION) == expected_rejected
    assert stat.rejections_for(RejectionCategory.SCRIPT_ERROR) == expected_errors
    assert sorted(r["kv"] for r in p.df.collect()) == sorted(expected_kept)


@given(rows=ROWS)
@SLOW
def test_prepend_step_equals_pre_registration(spark, rows):
    """prepend_step(f) after registering ops == add_step(f) before them."""

    def tag(row):
        return {**row, "t": (row["v"] or "") + "!"}

    base = _pipe(spark, rows)
    a = base.filter({"k": ["a", "b"]}).prepend_step("tag", tag, schema="k string, v string, n string, t string")
    b = base.add_step("tag", tag, schema="k string, v string, n string, t string").filter({"k": ["a", "b"]})
    def key(rows_):
        return sorted((tuple(r) for r in rows_), key=repr)

    ra = key(a.df.select("k", "v", "n", "t").collect())
    rb = key(b.df.select("k", "v", "n", "t").collect())
    assert ra == rb


@given(rows=st.lists(st.fixed_dictionaries({
    "g": st.sampled_from(["p", "q"]),
    "x": st.one_of(st.none(), st.text(alphabet="ab", min_size=1, max_size=2)),
}), min_size=1, max_size=10))
@SLOW
def test_fill_down_decider_matches_sequential_model(spark, rows):
    """Closure fill_down_by must equal the reference's sequential loop."""
    rows = [{"i": i, **r} for i, r in enumerate(rows)]

    # sequential model (reference Pipeline.groovy:437-455 semantics)
    expected, prev = [], None
    for r in rows:
        cur = dict(r)
        if prev is not None and cur["g"] == prev["g"]:
            for c in ("x",):
                if cur[c] is None or cur[c] == "":
                    cur[c] = prev[c]
        expected.append(cur["x"])
        prev = cur

    p = sources.from_collection(
        spark, rows, "i long, g string, x string", name="fdp", ordered=True
    ).fill_down_by(
        lambda row, prev_row: row["g"] == prev_row["g"]
    )
    got = [r["x"] for r in sorted(p.df.collect(), key=lambda r: r["i"])]
    assert got == expected


@given(
    vals=st.lists(
        st.one_of(st.none(), st.sampled_from(["a", "b"])), min_size=1, max_size=30
    )
)
@SLOW
def test_flatten_window_runs_match_sequential_model(spark, vals):
    """flatten_window's distributed run-stitching must reproduce the
    sequential consecutive-runs model for ANY value sequence — a 2-letter
    (+None) alphabet over ~4-row range partitions forces runs across
    partition boundaries, including null-valued runs (None==None is one
    run, Groovy == semantics)."""
    rows = [{"i": i, "g": g} for i, g in enumerate(vals)]

    expected = []
    run_val, run_len = vals[0], 1
    for g in vals[1:]:
        if g == run_val:
            run_len += 1
        else:
            expected.append((run_val, run_len))
            run_val, run_len = g, 1
    expected.append((run_val, run_len))

    def summarize(pdf):
        return pdf.groupby("g", as_index=False, dropna=False).agg(n=("i", "count"))

    p = sources.from_collection(spark, rows, "i long, g string").flatten_window(
        "g", summarize, "g string, n long", order_by="i"
    )
    key = lambda t: (t[0] is None, t[0] or "", t[1])  # noqa: E731
    got = sorted(((r["g"], r["n"]) for r in p.df.collect()), key=key)
    assert got == sorted(expected, key=key)


# Rejecting steps: (name, pipeline -> pipeline). Each but add_field_repr,
# add_field_sql and remove_field_cond rejects some rows of the ROW
# strategy, and their step names are distinct. All are row-local except
# join, which closes the open accounting segment; filter_udf, whose
# Column holds a Python UDF, starts a new one from its input.
JOIN_RIGHT = {"a": "wa", "c": "wc"}
REJECTING_STEPS = {
    "filter_map": lambda p: p.filter({"k": ["a", "b"]}, name="filter_map"),
    "filter_expr": lambda p: p.filter("v IS NULL OR v <> 'x'", name="filter_expr"),
    "filter_closure": lambda p: p.filter(
        lambda r: (r["v"] or "") != "zz", name="filter_closure"
    ),
    # the gated closure inside a Condition map
    "filter_map_closure": lambda p: p.filter(
        {"v": lambda v: v is None or "z" not in v}, name="filter_map_closure"
    ),
    "filter_udf": lambda p: p.filter(
        F.udf(lambda v: v is None or len(v) < 3, "boolean")("v"), name="filter_udf"
    ),
    "as_int": lambda p: p.as_int("n"),
    "as_double": lambda p: p.as_double("n"),
    # strict: month first, then day of month
    "as_date": lambda p: p.as_date("n", "M", "d"),
    "unique": lambda p: p.unique("k", "v"),
    "add_step": lambda p: p.add_step(
        "add_step",
        lambda r: None if r["v"] == "0" else {**r, "v": (r["v"] or "") + "y"},
    ),
    "add_field_closure": lambda p: p.add_field(
        "m", lambda r: 1 // (len(r["v"] or "") - 1), "long"
    ),
    # rejects nothing: it shows the value a closure sees for n
    "add_field_repr": lambda p: p.add_field("nr", lambda r: repr(r["n"])),
    "add_field_sql": lambda p: p.add_field("sl", "length(v)"),
    "remove_field_cond": lambda p: p.remove_field("v", "k = 'c'"),
    "join": lambda p: p.join(
        sources.from_collection(
            p.spark, [{"k": k, "w": w} for k, w in JOIN_RIGHT.items()], "k string, w string"
        ),
        on="k",
    ),
}


def _sequential_model(rows, chain):
    """gratum's semantics for REJECTING_STEPS, in plain Python: rows go
    through the steps one at a time in input order, a rejected row skips
    every later step, and unique keeps the first row per key. Returns
    (kept rows, [(category, step, reason, row at rejection)])."""
    live, rejects = [dict(r) for r in rows], []
    for name in chain:
        out, seen = [], set()
        for r in live:
            v = r["v"] or ""
            if name == "filter_map":
                why = None if r["k"] in ("a", "b") else ("IGNORE_ROW", "filter_map", "filtered out")
            elif name == "filter_expr":
                why = None if r["v"] != "x" else ("IGNORE_ROW", "filter_expr", "filtered out")
            elif name == "filter_closure":
                why = None if v != "zz" else ("IGNORE_ROW", "filter_closure", "filtered out")
            elif name == "filter_map_closure":
                why = None if "z" not in v else ("IGNORE_ROW", "filter_map_closure", "filtered out")
            elif name == "filter_udf":
                why = None if len(v) < 3 else ("IGNORE_ROW", "filter_udf", "filtered out")
            elif name in ("as_int", "as_double", "as_date"):
                # a coercion reads n as Spark's string cast gives it: str()
                # of an int, a float or a date in this value range
                n, why = r["n"], None
                if n is not None and str(n) != "":
                    s = str(n)
                    if name == "as_int" and re.fullmatch(r"[+-]?[0-9]+", s):
                        r = {**r, "n": int(s)}
                    elif name == "as_double" and re.fullmatch(r"-?[0-9]+(\.[0-9]+)?", s):
                        r = {**r, "n": float(s)}
                    elif name == "as_date" and re.fullmatch(r"[0-9]+", s) and 1 <= int(s) <= 31:
                        d = int(s)
                        r = {**r, "n": date(1970, d, 1) if d <= 12 else date(1970, 1, d)}
                    else:
                        t = {"as_int": "Int", "as_double": "Double", "as_date": "Date"}[name]
                        why = ("INVALID_FORMAT", f"as{t}(n)", f"Could not parse value as {t}")
            elif name == "unique":
                key = (r["k"], r["v"])
                why = ("IGNORE_ROW", "unique(k,v)", "duplicate k,v") if key in seen else None
                seen.add(key)
            elif name == "add_step":
                why = ("REJECTION", "add_step", "step returned null") if r["v"] == "0" else None
                if why is None:
                    r = {**r, "v": v + "y"}
            elif name == "add_field_closure":
                why = ("SCRIPT_ERROR", "add_field(m)", "closure raised") if len(v) == 1 else None
                if why is None:
                    r = {**r, "m": 1 // (len(v) - 1)}
            elif name == "add_field_repr":
                why, r = None, {**r, "nr": repr(r["n"])}
            elif name == "add_field_sql":
                why, r = None, {**r, "sl": None if r["v"] is None else len(r["v"])}
            elif name == "remove_field_cond":
                why, r = None, ({**r, "v": None} if r["k"] == "c" else r)
            else:  # join: unmatched left rows reject, the left side wins collisions
                why = None if r["k"] in JOIN_RIGHT else ("IGNORE_ROW", "join(['k'])", "Could not join on ['k']")
                if why is None:
                    r = {"w": JOIN_RIGHT[r["k"]], **r}
            if why is None:
                out.append(r)
            else:
                rejects.append((*why, r))
        live = out
    return live, rejects


@given(rows=ROWS, chain=st.lists(st.sampled_from(sorted(REJECTING_STEPS)), min_size=1, max_size=4))
# always run: unique's first-wins pick among live duplicates that differ
# in n, after an as_int reject and before a join reject
@example(
    rows=[{"k": "a", "v": None, "n": "bad"}, {"k": "a", "v": None, "n": "1"},
          {"k": "a", "v": None, "n": "2"}, {"k": "b", "v": "x", "n": None}],
    chain=["as_int", "unique", "join"],
)
# always run: a closure after as_int sees an int n as an int and a null
# n as None, also when both share one Arrow batch
@example(
    rows=[{"k": "a", "v": None, "n": "12"}, {"k": "b", "v": None, "n": None}],
    chain=["as_int", "add_field_repr"],
)
# always run: the steps whose forms the random chains rarely reach, each
# on rows it keeps and rows it rejects
@example(
    rows=[{"k": "a", "v": "xyz", "n": "12"}, {"k": "c", "v": "x", "n": "31"},
          {"k": "b", "v": None, "n": "0"}, {"k": "c", "v": "0", "n": None}],
    chain=["as_date", "filter_udf", "add_field_sql", "remove_field_cond"],
)
@example(
    rows=[{"k": "a", "v": "z", "n": "5"}, {"k": "b", "v": "x", "n": "-7"},
          {"k": "c", "v": None, "n": "bad"}, {"k": "a", "v": "x", "n": None}],
    chain=["as_double", "filter_map_closure", "as_int"],
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_reject_accounting_matches_sequential_model(spark, tmp_path_factory, rows, chain):
    """For any chain of rejecting steps, go(), save().go() and
    rejections_df() agree with an independent sequential model of
    gratum's semantics: the (category, step) counts, the loaded count,
    the kept plan's rows, and each rejected row's values at rejection
    (so the raw values as_int refused), with its reason."""
    kept, model_rejects = _sequential_model(rows, chain)
    expected: dict[str, dict[str, int]] = {}
    for cat, step, _, _ in model_rejects:
        expected.setdefault(cat, {})[step] = expected.get(cat, {}).get(step, 0) + 1
    p = _pipe(spark, rows)
    for name in chain:
        p = REJECTING_STEPS[name](p)
    stat = p.go()
    saved = p.save(str(tmp_path_factory.mktemp("chain") / "out")).go()
    assert stat.rejections == saved.rejections == expected
    assert stat.loaded == saved.loaded == len(kept)

    def values(cat, step, reason, r):
        # n comes back as a string: as_int's point sees it unparsed
        n = r.get("n")
        return (cat, step, reason, r["k"], r["v"], None if n is None else str(n),
                r.get("m"), r.get("w"), r.get("nr"), r.get("sl"))

    # the kept plan, which neither go() nor the write reads, keeps the
    # model's rows
    key = repr  # rows hold None next to str/int
    got_kept = [values(None, None, None, r.asDict()) for r in p.df.collect()]
    assert sorted(got_kept, key=key) == sorted(
        (values(None, None, None, r) for r in kept), key=key
    )

    rej = p.rejections_df()
    got = [] if rej is None else [
        values(r["rejectionCategory"], r["rejectionStep"], r["rejectionReason"], r.asDict())
        for r in rej.collect()
    ]
    assert sorted(got, key=key) == sorted((values(*x) for x in model_rejects), key=key)
