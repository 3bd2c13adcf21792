"""Core pipeline tests mirroring the reference's golden-count style
(see SURVEY §5: PipelineTest.groovy asserts loaded/rejected per step)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from gratum_spark import RejectionCategory, sources


def test_filter_map_golden_counts(people):
    # people filter(gender=male) -> 2 loaded / 3 rejected (FIXTURES.md §1)
    stat = people.filter({"gender": "male"}).go()
    assert stat.loaded == 2
    assert stat.rejected == 3
    assert stat.rejections_for(RejectionCategory.IGNORE_ROW) == 3


def test_filter_expr_and_closure(people):
    assert people.filter(F.col("age") < 30).go().loaded == 1
    assert people.filter("age >= 80").go().loaded == 2
    stat = people.filter(lambda row: row["age"] < 40 and row["gender"] == "female").go()
    assert stat.loaded == 2
    assert stat.rejected == 3


def test_filter_closure_sees_python_none_for_nulls(spark):
    # r5 ADVICE (medium): the Arrow-batched closure path handed nulls to
    # user closures as NaN/pd.NA, so `x is None` matched nothing. The
    # series is now normalized to Python-native values first — pin the
    # row-at-a-time boundary the reference's Condition closures assume.
    rows = [{"n": 1}, {"n": None}, {"n": 3}]
    p = sources.from_collection(spark, rows, "n long", name="nulls", ordered=False)
    assert p.filter({"n": lambda x: x is None}).go().loaded == 1
    assert p.filter({"n": lambda x: x is not None and x > 1}).go().loaded == 1
    # string + timestamp columns too (NaT is the datetime NaN)
    rows2 = [{"s": "a", "t": None}, {"s": None, "t": None}]
    p2 = sources.from_collection(
        spark, rows2, "s string, t timestamp", name="nulls2", ordered=False
    )
    assert p2.filter({"s": lambda x: x is None}).go().loaded == 1
    assert p2.filter({"t": lambda x: x is None}).go().loaded == 2

    # Every row closure site sees what Row.asDict gives on the driver:
    # None for each null, an int for a long and a naive datetime, also
    # when a null and a value share one Arrow batch (one partition).
    import datetime

    from gratum_spark import Pipeline

    t0 = datetime.datetime(2020, 1, 2, 3, 4, 5)
    rows3 = [{"i": 1, "q": 5, "t": t0, "b": True},
             {"i": 2, "q": None, "t": None, "b": None}]
    p3 = sources.from_collection(
        spark, rows3, "i long, q long, t timestamp, b boolean", name="nulls3"
    )
    p3 = Pipeline(p3.df.coalesce(1), "nulls3")
    assert [r.asDict() for r in p3.df.drop("_row_order").collect()] == rows3

    def exact(r):
        if r["i"] == 2:
            return r["q"] is None and r["t"] is None and r["b"] is None
        return (type(r["q"]) is int and r["q"] == 5 and r["t"] == t0
                and r["t"].tzinfo is None and r["b"] is True)

    assert p3.filter(exact).go().loaded == 2
    assert p3.filter({"*": exact}).go().loaded == 2
    assert p3.filter({"q": lambda x: x is None}).go().loaded == 1
    assert p3.filter({"q": lambda x: type(x) is int}).go().loaded == 1
    assert p3.filter({"t": lambda x: x == t0 and x.tzinfo is None}).go().loaded == 1
    assert p3.filter({"b": lambda x: x is None}).go().loaded == 1
    assert [r["ok"] for r in p3.add_field("ok", exact, "boolean").df.collect()] == [True, True]
    stepped = p3.add_step("probe", lambda r: {**r, "ok": exact(r)}, schema="i long, ok boolean")
    assert [r["ok"] for r in stepped.df.collect()] == [True, True]
    mapped = p3.flat_map(lambda r: [{"ok": exact(r)}], "ok boolean")
    assert [r["ok"] for r in mapped.df.collect()] == [True, True]
    assert p3.reduce_rows(lambda acc, r: {"n": acc["n"] + exact(r)}, {"n": 0}) == {"n": 2}
    # the decider sees the null as None (not NaN), so the row fills
    filled = p3.fill_down_by(lambda r, prev: r["q"] is None and prev["q"] is not None)
    assert [(r["i"], r["q"]) for r in filled.df.collect()] == [(1, 5), (2, 5)]


def test_filter_wildcard_closure_sees_python_none(spark):
    # the "*" whole-row closure gets the same None-for-null boundary
    rows = [{"a": 1, "b": None}, {"a": None, "b": "x"}]
    p = sources.from_collection(
        spark, rows, "a long, b string", name="wnulls", ordered=False
    )
    assert p.filter({"*": lambda r: r["b"] is None}).go().loaded == 1
    assert p.filter({"*": lambda r: r["a"] is None and r["b"] == "x"}).go().loaded == 1


def test_run_ids_reliable_checkpoint_opt_in(spark, tmp_path):
    # r5 ADVICE (low): with a checkpoint dir configured on the session,
    # the run-id consistency checkpoint becomes a reliable (replayable)
    # checkpoint instead of executor-local blocks. Same answers, and the
    # checkpoint data lands in the configured dir.
    import os as _os

    rows = [{"k": i // 3, "v": i} for i in range(30)]
    expected = (
        sources.from_collection(spark, rows, "k long, v long", ordered=True)
        .fill_down_by(lambda cur, prev: cur["k"] == prev["k"])
        .df.count()
    )
    ckdir = str(tmp_path / "ck")
    sc = spark.sparkContext
    sc.setCheckpointDir(ckdir)
    try:
        got = (
            sources.from_collection(spark, rows, "k long, v long", ordered=True)
            .fill_down_by(lambda cur, prev: cur["k"] == prev["k"])
            .df.count()
        )
        assert got == expected
        assert any(_os.scandir(ckdir))  # reliable checkpoint actually wrote
    finally:
        # reset to the localCheckpoint default for the rest of the suite
        # (no public unset API; reach the scala var through py4j)
        try:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
        except Exception:
            pass


def test_eager_reliable_cut_leaves_no_cache_entry(spark, tmp_path):
    # with a checkpoint dir, materialize() persists before checkpointing;
    # an eager cut unpersists once the files are written, so neither the
    # helper nor an operator made of eager cuts (directed pagerank) leaves
    # a cache entry behind. A lazy cut keeps its persist (documented bound).
    from gratum_spark.operators.graph import pagerank
    from gratum_spark.pipeline import materialize

    from conftest import plan_of

    sc = spark.sparkContext
    cm = spark._jsparkSession.sharedState().cacheManager()
    src = spark.range(0, 1000, 1, 4).withColumn("v", F.col("id") * 2)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 3), (5, 5)], "src long, dst long"
    )
    want = sorted(pagerank(edges, undirected=False, n_iters=3).collect())
    sc.setCheckpointDir(str(tmp_path / "ck"))
    try:
        cut = materialize(src, eager=True)
        assert cm.lookupCachedData(src._jdf).isEmpty()
        assert "Scan ExistingRDD" in plan_of(cut)
        assert cut.agg(F.sum("v")).first()[0] == 999000

        before = set(dict(sc._jsc.getPersistentRDDs()))
        assert sorted(pagerank(edges, undirected=False, n_iters=3).collect()) == want
        assert set(dict(sc._jsc.getPersistentRDDs())) <= before

        lazy = materialize(src)
        assert cm.lookupCachedData(src._jdf).isDefined()
        assert lazy.count() == 1000
        src.unpersist()
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))


def test_filter_map_forms(people):
    # collection => IN
    assert people.filter({"gender": ["male", "female"]}).go().loaded == 5
    # regex => rlike find
    assert people.filter({"name": re.compile("Rogers")}).go().loaded == 2
    # per-value callable
    assert people.filter({"age": lambda a: a > 50}).go().loaded == 3
    # conjunction
    assert people.filter({"gender": "female", "age": lambda a: a > 30}).go().loaded == 2
    # "*" wildcard: whole-row closure (Condition.groovy:55-58)
    assert (
        people.filter({"*": lambda r: r["age"] > 50 and r["gender"] == "male"})
        .go()
        .loaded
        == 2
    )


def test_rejections_pipeline(people):
    seen = {}

    def capture(rejects):
        rows = rejects.df.collect()
        seen["n"] = len(rows)
        seen["cats"] = {r["rejectionCategory"] for r in rows}
        seen["steps"] = {r["rejectionStep"] for r in rows}

    stat = people.filter({"gender": "male"}, name="males-only").on_rejection(capture).go()
    assert stat.loaded == 2
    assert seen["n"] == 3
    assert seen["cats"] == {"IGNORE_ROW"}
    assert seen["steps"] == {"males-only"}


def test_clip_and_column_ops(people):
    p = people.clip("id", "name")
    assert p.columns == ["id", "name"]
    assert p.go().loaded == 5

    p2 = (
        people.set_field("planet", "earth")
        .add_field("age2", F.col("age") * 2)
        .rename_fields({"name": "full_name"})
        .remove_field("comment")
    )
    rows = {r["id"]: r for r in p2.df.collect()}
    assert rows[1]["planet"] == "earth"
    assert rows[1]["age2"] == 106
    assert "full_name" in p2.columns and "comment" not in p2.columns


def test_add_field_closure(people):
    p = people.add_field("initials", lambda r: "".join(w[0] for w in r["name"].split()))
    rows = {r["id"]: r["initials"] for r in p.df.collect()}
    assert rows[1] == "BR"


def test_unique_first_wins(hobbies):
    stat = hobbies.unique("id").go()
    assert stat.loaded == 4
    assert stat.rejected == 4
    # first-wins: id=1 keeps 'Stamp Collecting' (source order)
    kept = {r["id"]: r["hobby"] for r in hobbies.unique("id").df.collect()}
    assert kept[1] == "Stamp Collecting"


def test_limit_and_halt(people):
    assert people.limit(3).go().loaded == 3
    stat = people.limit(3, halt=False).go()
    assert stat.loaded == 3
    assert stat.rejected == 2


def test_trim_defaults_replace(spark):
    rows = [
        {"a": "  x  ", "b": None, "c": "cat"},
        {"a": "y", "b": "", "c": "dog"},
        {"a": " z", "b": "keep", "c": "cat"},
    ]
    p = sources.from_collection(spark, rows, "a string, b string, c string")
    out = (
        p.trim()
        .default_values({"b": "filled"})
        .replace_values("c", {"cat": "feline"})
        .replace_all("a", "z", "Z")
        .df.collect()
    )
    got = sorted([(r["a"], r["b"], r["c"]) for r in out])
    assert got == [("Z", "keep", "feline"), ("x", "filled", "feline"), ("y", "filled", "dog")]


def test_trim_strips_java_whitespace(spark):
    """Java String.trim() strips every char <= U+0020 — tabs, newlines,
    CR — not just spaces (Pipeline.groovy:301-306). Spark's F.trim is
    space-only; the regexp strip must match the Java contract."""
    rows = [
        {"a": "\thello\n", "b": "\r\n mixed \t "},
        {"a": "plain", "b": None},
        {"a": "\x00nul\x01", "b": "  inner\tkept  "},
    ]
    p = sources.from_collection(spark, rows, "a string, b string")
    got = sorted(
        [(r["a"], r["b"]) for r in p.trim().df.collect()],
        key=lambda t: (t[0], t[1] or ""),
    )
    assert got == [
        ("hello", "mixed"),
        ("nul", "inner\tkept"),
        ("plain", None),
    ]


def test_coercions(spark):
    rows = [
        {"n": "12", "d": "1.5", "b": "Y", "dt": "2024-01-02"},
        {"n": "x", "d": "2.5", "b": "no", "dt": "01/15/2024"},
        {"n": "", "d": None, "b": "1", "dt": None},
    ]
    p = sources.from_collection(spark, rows, "n string, d string, b string, dt string")
    stat = p.as_int("n").go()
    assert stat.loaded == 2  # "x" rejected, "" passes as null
    assert stat.rejections_for(RejectionCategory.INVALID_FORMAT) == 1

    p2 = p.as_boolean("b")
    vals = [r["b"] for r in p2.df.collect()]
    assert vals == [True, False, True]

    p3 = p.as_date("dt", "yyyy-MM-dd", "MM/dd/yyyy")
    stat3 = p3.go()
    assert stat3.loaded == 3  # both formats parse; null passes
    dts = sorted(str(r["dt"]) for r in p3.df.collect() if r["dt"])
    assert dts == ["2024-01-02", "2024-01-15"]


def test_replace_values_falsy_replacement_keeps_original(spark):
    """Pipeline.groovy:1163-1171 assigns `values[v] ?: row[column]` —
    the Groovy elvis means mapping a key to ""/null/0 keeps the
    ORIGINAL value instead of blanking it."""
    rows = [{"c": "cat"}, {"c": "dog"}, {"c": "fox"}]
    p = sources.from_collection(spark, rows, "c string")
    out = sorted(
        r["c"]
        for r in p.replace_values(
            "c", {"cat": "feline", "dog": "", "fox": None}
        ).df.collect()
    )
    assert out == ["dog", "feline", "fox"]
    # all-falsy mapping is a no-op, not a crash
    out2 = sorted(r["c"] for r in p.replace_values("c", {"cat": None}).df.collect())
    assert out2 == ["cat", "dog", "fox"]


def test_as_int_java_parse_contract(spark):
    """Integer.parseInt accepts only [+-]?digits: " 12 " and "12.5"
    throw (reject INVALID_FORMAT), "+7" parses, whitespace-only is
    Groovy-truthy so it hits the parser and rejects, null/"" skip
    (Pipeline.groovy:716-726)."""
    rows = [
        {"i": 0, "n": "12"}, {"i": 1, "n": " 12 "}, {"i": 2, "n": "12.5"},
        {"i": 3, "n": "+7"}, {"i": 4, "n": "   "}, {"i": 5, "n": None},
        {"i": 6, "n": ""},
    ]
    p = sources.from_collection(spark, rows, "i long, n string")
    stepped = p.as_int("n")
    stat = stepped.go()
    assert stat.loaded == 4  # 12, +7, null, ""
    assert stat.rejections_for(RejectionCategory.INVALID_FORMAT) == 3
    got = {r["i"]: r["n"] for r in stepped.df.collect()}
    assert got == {0: 12, 3: 7, 5: None, 6: None}
    # Java regex `$` matches BEFORE a final newline, so "12\n" passes a
    # $-anchored guard and the cast trims it to 12 — parseInt throws on
    # it. The \z anchor pins the reject.
    nl = sources.from_collection(
        spark, [{"i": 0, "n": "12\n"}, {"i": 1, "n": "\n12"}],
        "i long, n string",
    ).as_int("n")
    nl_stat = nl.go()
    assert nl_stat.loaded == 0
    assert nl_stat.rejections_for(RejectionCategory.INVALID_FORMAT) == 2
    # parseDouble DOES ignore whitespace and accepts exponents
    stat_d = p.as_double("n").go()
    assert stat_d.loaded == 6  # only "   " rejects
    assert stat_d.rejections_for(RejectionCategory.INVALID_FORMAT) == 1


def test_as_double_java_special_literals(spark):
    """Double.parseDouble takes only case-sensitive [+-]?(NaN|Infinity)
    — "inf"/"nan"/"INFINITY" throw. Spark's cast is case-insensitive
    and accepts the short "inf" forms, so as_double guards those back
    to INVALID_FORMAT rejects; f/d suffixes and hex floats are part of
    the Java grammar and stay accepted."""
    import math

    rows = [
        {"i": 0, "n": "Infinity"}, {"i": 1, "n": "-Infinity"},
        {"i": 2, "n": "NaN"}, {"i": 3, "n": "-NaN"}, {"i": 4, "n": " NaN "},
        {"i": 5, "n": "inf"}, {"i": 6, "n": "nan"}, {"i": 7, "n": "INFINITY"},
        {"i": 8, "n": "Nan"}, {"i": 9, "n": "-inf"},
        {"i": 10, "n": "1.5f"}, {"i": 11, "n": "2.5d"}, {"i": 12, "n": "0x1p3"},
        {"i": 13, "n": "0x1F"},
    ]
    p = sources.from_collection(spark, rows, "i long, n string")
    stepped = p.as_double("n")
    stat = stepped.go()
    assert stat.loaded == 8  # 0-4 (Java literals) + suffix/hex forms
    assert stat.rejections_for(RejectionCategory.INVALID_FORMAT) == 6
    got = {r["i"]: r["n"] for r in stepped.df.collect()}
    assert got[0] == math.inf and got[1] == -math.inf
    assert math.isnan(got[2]) and math.isnan(got[3]) and math.isnan(got[4])
    assert got[10] == 1.5 and got[11] == 2.5 and got[12] == 8.0


def test_as_boolean_reference_truth_table(spark):
    """Pins the reference's exact case-sensitive switch + parseBoolean
    fallthrough (Pipeline.groovy:733-769): "Yes" is listed, "yES" is not
    (parseBoolean => false); untrimmed " Y " falls through to false;
    "TRUE"/"True" hit parseBoolean's case-insensitive match."""
    cases = [
        ("Y", True), ("y", True), ("yes", True), ("Yes", True), ("YES", True),
        ("1", True), ("T", True), ("t", True),
        ("TRUE", True), ("True", True), ("true", True),
        ("N", False), ("no", False), ("No", False), ("0", False),
        ("F", False), ("f", False), ("null", False), ("NULL", False),
        ("yES", False), (" Y ", False), ("FALSE", False), ("maybe", False),
        (None, None), ("", None),
    ]
    rows = [{"i": i, "b": v} for i, (v, _) in enumerate(cases)]
    p = sources.from_collection(spark, rows, "i long, b string")
    got = {r["i"]: r["b"] for r in p.as_boolean("b").df.collect()}
    for i, (v, want) in enumerate(cases):
        assert got[i] == want, f"as_boolean({v!r}) = {got[i]}, want {want}"


def test_as_date_rejects(spark):
    p = sources.from_collection(spark, [{"dt": "not-a-date"}], "dt string")
    stat = p.as_date("dt", "yyyy-MM-dd").go()
    assert stat.loaded == 0
    assert stat.rejections_for(RejectionCategory.INVALID_FORMAT) == 1


def test_as_date_lenient_truth_table(spark):
    """The reference's SimpleDateFormat is lenient: overflow fields roll
    (GregorianCalendar normalization) and trailing junk after the
    pattern is ignored. lenient=True reproduces both; strict default
    rejects them all (Pipeline.groovy:779-798)."""
    import datetime

    cases = {
        "2024-02-31": datetime.date(2024, 3, 2),   # day overflow rolls
        "2024-13-01": datetime.date(2025, 1, 1),   # month 13 = Jan y+1
        "2024-00-15": datetime.date(2023, 12, 15), # month 0 = Dec y-1
        "2024-01-00": datetime.date(2023, 12, 31), # day 0 = prior day
        "2024-2-3": datetime.date(2024, 2, 3),     # 1-digit fields parse
        "2024-02-31T10:00": datetime.date(2024, 3, 2),  # trailing junk
        "1999-12-365": datetime.date(2000, 11, 29),     # big day run
        # whitespace before a numeric field is skipped (probed against
        # Java 17 SimpleDateFormat; before a literal it is NOT)
        " 2024-01-01": datetime.date(2024, 1, 1),
        "2024- \t01- 02": datetime.date(2024, 1, 2),
        "2024 -01-02": None,
        # single minus flows into the calendar roll for month/day...
        "2024--1-02": datetime.date(2023, 11, 2),
        # ...but a negative YEAR (Java: BC-era normalization) rejects
        "-2024-01-02": None,
        "junk": None,
        # hybrid Julian/Gregorian cutover semantics (every expected value
        # below probed against the real Java 17 SimpleDateFormat):
        "1582-10-04": datetime.date(1582, 10, 4),    # last Julian label
        "1582-10-15": datetime.date(1582, 10, 15),   # first Gregorian label
        "1582-10-10": datetime.date(1582, 10, 20),   # gap label rolls forward
        "1582-09-35": datetime.date(1582, 10, 15),   # day roll across cutover
        "1500-10-30000": datetime.date(1582, 11, 29),  # raw year < 1582: Julian fd kept past cutover
        "1584--15--308": datetime.date(1581, 10, 27),  # backward roll re-resolves Julian
        "1200-02-29": datetime.date(1200, 2, 29),    # centurial /400: leap in both calendars
        "0304-02-29": datetime.date(304, 2, 29),     # Julian leap = proleptic leap
        "0300-02-29": None,   # Julian-only leap day: unrepresentable in DateType
        "1500-03-01": datetime.date(1500, 3, 1),     # label preserved in centurial year
    }
    rows = [{"id": i, "dt": v} for i, v in enumerate(cases)]
    p = sources.from_collection(spark, rows, "id long, dt string")
    lenient = p.as_date("dt", "yyyy-MM-dd", lenient=True)
    got = {r["id"]: r["dt"] for r in lenient.df.collect()}
    for i, (val, want) in enumerate(cases.items()):
        if want is not None:
            assert got[i] == want, (val, got.get(i), want)
        else:
            assert i not in got, (val, got.get(i))
    stat = lenient.go()
    n_kept = sum(1 for v in cases.values() if v is not None)
    assert stat.loaded == n_kept
    assert (
        stat.rejections_for(RejectionCategory.INVALID_FORMAT)
        == len(cases) - n_kept
    )
    # strict default: every lenient-only shape rejects (verified: Spark's
    # try_to_timestamp also rejects unpadded "2024-2-3" under MM/dd).
    # Exceptions: Spark's formatter itself accepts a signed year, so
    # "-2024-01-02" parses STRICTLY (proleptic year -2024) — pre-existing
    # strict-mode Spark behavior, not part of the lenient path — and the
    # six cutover-era cases that are well-formed proleptic labels
    # (1582-10-04/15/10, 1200-02-29, 0304-02-29, 1500-03-01).
    strict = p.as_date("dt", "yyyy-MM-dd").go()
    assert strict.loaded == 7
    assert (
        strict.rejections_for(RejectionCategory.INVALID_FORMAT) == len(cases) - 7
    )
    # multi-format first-wins still applies in lenient mode
    p2 = sources.from_collection(spark, [{"dt": "02/31/2024"}], "dt string")
    out = p2.as_date("dt", "yyyy-MM-dd", "MM/dd/yyyy", lenient=True).df.collect()
    assert out[0]["dt"] == datetime.date(2024, 3, 2)


def test_as_date_lenient_yy_century_window(spark):
    """'y'/'yy' century windowing (r11): every expected value probed
    against the real Java 17 SimpleDateFormat with
    set2DigitYearStart(1946-08-15 12:00). Exactly-2-digit input windows
    (80 back / 20 forward); 1/3+-digit and zero-padded runs are
    literal; the boundary value (46 == startYear%100) resolves low and
    bumps +100 iff the resolved INSTANT precedes the start — the bump
    re-resolves the raw fields at year+100 (no day-of-month pinning:
    Feb 29 1700 rolls to Mar 1), including cutover-gap re-resolution."""
    import datetime

    start = datetime.datetime(1946, 8, 15, 12, 0)
    cases = {
        "46-03-10": datetime.date(2046, 3, 10),   # ambiguous, before start
        "46-09-10": datetime.date(1946, 9, 10),   # ambiguous, after start
        "46-08-15": datetime.date(2046, 8, 15),   # equal label < noon start
        "45-01-01": datetime.date(2045, 1, 1),    # v < amb -> +100
        "99-01-01": datetime.date(1999, 1, 1),    # v > amb -> low century
        "467-01-02": datetime.date(467, 1, 2),    # 3 digits: literal
        "4-01-02": datetime.date(4, 1, 2),        # 1 digit: literal
        "046-01-02": datetime.date(46, 1, 2),     # padded 3 digits: literal
        "46-99-10": datetime.date(1954, 3, 10),   # overflow resolves AFTER start: no bump
        "46--4150-29": datetime.date(1700, 3, 1), # bump re-resolves Feb 29 1700 -> Mar 1
        "46--5558-7": datetime.date(1582, 10, 17),  # bump lands in cutover gap
        "46-01-00": datetime.date(2045, 12, 31),  # day 0 + bump
        "junk": None,
        "-46-01-02": None,  # negative year: documented reject
    }
    rows = [{"id": i, "dt": v} for i, v in enumerate(cases)]
    p = sources.from_collection(spark, rows, "id long, dt string")
    out = p.as_date("dt", "yy-MM-dd", lenient=True, two_digit_year_start=start)
    got = {r["id"]: r["dt"] for r in out.df.collect()}
    for i, (val, want) in enumerate(cases.items()):
        assert got.get(i) == want, (val, got.get(i), want)
    # midnight start: an equal-label resolution does NOT bump (probed)
    p3 = sources.from_collection(
        spark, [{"dt": "46-08-15"}, {"dt": "46-08-14"}], "dt string"
    )
    out3 = [
        r["dt"]
        for r in p3.as_date(
            "dt", "yy-MM-dd", lenient=True,
            two_digit_year_start=datetime.datetime(1946, 8, 15),
        ).df.collect()
    ]
    assert sorted(out3) == [datetime.date(1946, 8, 15), datetime.date(2046, 8, 14)]
    # single-letter 'y' windows too (Java: count <= 2)
    p4 = sources.from_collection(spark, [{"dt": "46-3-10"}], "dt string")
    out4 = p4.as_date(
        "dt", "y-M-d", lenient=True, two_digit_year_start=start
    ).df.collect()
    assert out4[0]["dt"] == datetime.date(2046, 3, 10)
    # default window (no hook): anchored 80 years back from now
    this_year = datetime.date.today().year
    p5 = sources.from_collection(spark, [{"dt": "01-06-15"}], "dt string")
    out5 = p5.as_date("dt", "yy-MM-dd", lenient=True).df.collect()
    assert this_year - 80 <= out5[0]["dt"].year <= this_year + 20


def test_as_date_lenient_time_and_quoted_literals(spark):
    """Time-of-day fields + quoted literals (r12): every expected value
    probed against the real Java 17 SimpleDateFormat. Lenient H/m/s/S
    contribute millis to the instant — hour 24/25 rolls the date
    forward, negative fields roll backward, the day offset participates
    in the hybrid-calendar cutover pick (probed: Oct 15 1582 minus one
    hour re-resolves Julian and labels back Gregorian as Oct 24) — and
    '...'/'' quoting is literal text with no whitespace skip."""
    import datetime

    cases = {
        "2024-01-01 25:00:00": datetime.date(2024, 1, 2),   # hour roll
        "2024-01-01 24:00:00": datetime.date(2024, 1, 2),
        "2024-01-01 23:59:59": datetime.date(2024, 1, 1),
        "2024-01-01 -1:00:00": datetime.date(2023, 12, 31),  # negative hour
        "2024-01-01 0:-1:00": datetime.date(2023, 12, 31),   # negative minute
        "2024-01-01 48:120:3600": datetime.date(2024, 1, 3),  # 51h total
        "2024-01-02T03:04:05": datetime.date(2024, 1, 2),    # 'T' literal
        "1582-10-15 -1:00:00": datetime.date(1582, 10, 24),  # cutover gap
        "1581-12-31 25:00:00": datetime.date(1582, 1, 1),    # Julian-era roll
        "2024-01-02  3:04:05": datetime.date(2024, 1, 2),    # ws skip
        "2024-01-02 3 :04:05": None,  # ws before literal: reject
        "2024-01-02 03:04:05junk": datetime.date(2024, 1, 2),  # trailing junk
        "2024-01-02 03:04": None,     # incomplete time: reject
        "junk": None,
    }
    rows = [{"id": i, "dt": v} for i, v in enumerate(cases)]
    p = sources.from_collection(spark, rows, "id long, dt string")
    out = p.as_date(
        "dt", "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss", lenient=True
    )
    got = {r["id"]: r["dt"] for r in out.df.collect()}
    for i, (val, want) in enumerate(cases.items()):
        assert got.get(i) == want, (val, got.get(i), want)
    # millis field: 86400000 ms = exactly one day; ".5" = 5 ms (probed)
    p2 = sources.from_collection(
        spark,
        [{"dt": "01/02/2024 00:00:00.86400000"}, {"dt": "01/02/2024 00:00:00.5"}],
        "dt string",
    )
    out2 = sorted(
        r["dt"]
        for r in p2.as_date(
            "dt", "MM/dd/yyyy HH:mm:ss.SSS", lenient=True
        ).df.collect()
    )
    assert out2 == [datetime.date(2024, 1, 2), datetime.date(2024, 1, 3)]
    # '' = one literal quote; quoted leading literal must be present
    p3 = sources.from_collection(
        spark, [{"dt": "2024-01-02'5"}], "dt string"
    )
    assert p3.as_date("dt", "yyyy-MM-dd''H", lenient=True).df.collect()[0][
        "dt"
    ] == datetime.date(2024, 1, 2)
    p4 = sources.from_collection(
        spark, [{"dt": "d:2024-01-02"}, {"dt": "2024-01-02"}], "dt string"
    )
    step4 = p4.as_date("dt", "'d:'yyyy-MM-dd", lenient=True)
    stat4 = step4.go()
    assert [r["dt"] for r in step4.df.collect()] == [datetime.date(2024, 1, 2)]
    assert (stat4.loaded, stat4.rejected) == (1, 1)  # missing literal rejects


def test_as_date_lenient_ampm_hours(spark):
    """Am/pm hour fields (r12): every expected value probed against the
    real Java 17 SimpleDateFormat. 'h' maps a parsed value of exactly
    12 to 0 (subParse's maxValue+1 rule; -12 stays), 'K' is unadjusted
    (K=12+PM = 24h rolls the day), 'k' maps 24 to 0; the AM/PM marker
    is a case-insensitive text field (no whitespace skip, partial "P"
    rejects) and contributes +12h for PM only when the hour field is
    h/K or absent — an H/k pattern parses but ignores it
    (computeTime's HOUR_OF_DAY precedence)."""
    import datetime

    cases = {
        "2024-01-01 12:30 AM": datetime.date(2024, 1, 1),   # 00:30
        "2024-01-01 12:30 PM": datetime.date(2024, 1, 1),   # 12:30
        "2024-01-01 13:00 PM": datetime.date(2024, 1, 2),   # 13+12 = 25h
        "2024-01-01 24:00 AM": datetime.date(2024, 1, 2),   # h=24 stays
        "2024-01-01 -12:00 AM": datetime.date(2023, 12, 31),
        "2024-01-01 12:00 pm": datetime.date(2024, 1, 1),   # case-insensitive
        "2024-01-01 1:00 Pm": datetime.date(2024, 1, 1),
        "2024-01-01 1:00 P": None,    # partial marker rejects
        "2024-01-01 1:00  PM": None,  # no ws skip before a text field
    }
    rows = [{"id": i, "dt": v} for i, v in enumerate(cases)]
    p = sources.from_collection(spark, rows, "id long, dt string")
    got = {r["id"]: r["dt"] for r in p.as_date(
        "dt", "yyyy-MM-dd h:mm a", lenient=True).df.collect()}
    for i, (val, want) in enumerate(cases.items()):
        assert got.get(i) == want, (val, got.get(i), want)

    def one(val, fmt):
        pp = sources.from_collection(spark, [{"dt": val}], "dt string")
        return pp.as_date("dt", fmt, lenient=True).df.collect()[0]["dt"]

    assert one("2024-01-01 12:00 PM", "yyyy-MM-dd K:mm a") == datetime.date(2024, 1, 2)
    assert one("2024-01-01 24:00", "yyyy-MM-dd kk:mm") == datetime.date(2024, 1, 1)
    assert one("2024-01-01 25:00", "yyyy-MM-dd kk:mm") == datetime.date(2024, 1, 2)
    assert one("2024-01-01 23:00 PM", "yyyy-MM-dd HH:mm a") == datetime.date(2024, 1, 1)
    assert one("2024-01-01 PM", "yyyy-MM-dd a") == datetime.date(2024, 1, 1)


def test_as_date_lenient_day_of_week_names(spark):
    """E-runs (r12): every expected value probed against the real Java
    17 SimpleDateFormat. Any run length matches full-then-short English
    weekday names case-insensitively with no whitespace skip, and the
    parsed value is IGNORED — with y/M/d present, computeTime's
    selectFields never consults DAY_OF_WEEK, so a mismatched name still
    resolves to the y/M/d date (2024-01-05 is a Friday; "Mon" parses).
    A letter-leading quoted literal directly after a month/weekday name
    is out of lenient scope (regex backtracking would accept what
    matchString's longest-match rejects — probed both ways)."""
    import datetime

    from gratum_spark.pipeline import _simple_date_pattern

    cases = {
        "Mon, 2024-01-05": datetime.date(2024, 1, 5),     # wrong day: ignored
        "Fri, 2024-01-05": datetime.date(2024, 1, 5),
        "Sunday, 2024-01-05": datetime.date(2024, 1, 5),  # full under EEE
        "MONDAY, 2024-01-05": datetime.date(2024, 1, 5),  # case-insensitive
        "tue, 2024-01-05": datetime.date(2024, 1, 5),
        "Sund, 2024-01-05": None,     # truncated name rejects
        "Mo, 2024-01-05": None,
        "7, 2024-01-05": None,        # digits in a text slot reject
        "SundayX, 2024-01-05": None,  # junk after the longest match
        " Mon, 2024-01-05": None,     # no ws skip before a text field
    }
    rows = [{"id": i, "dt": v} for i, v in enumerate(cases)]
    p = sources.from_collection(spark, rows, "id long, dt string")
    step = p.as_date("dt", "EEE, yyyy-MM-dd", lenient=True)
    stat = step.go()
    got = {r["id"]: r["dt"] for r in step.df.collect()}
    for i, (val, want) in enumerate(cases.items()):
        assert got.get(i) == want, (val, got.get(i), want)
    assert (stat.loaded, stat.rejected) == (5, 5)

    def one(val, fmt):
        pp = sources.from_collection(spark, [{"dt": val}], "dt string")
        return pp.as_date("dt", fmt, lenient=True).df.collect()[0]["dt"]

    # RFC-1123 date part; short name under EEEE; count-1 E takes full;
    # adjacency with digit runs in both directions (all probed)
    assert one("Sunday, 05 Jan 2024", "EEE, dd MMM yyyy") == datetime.date(2024, 1, 5)
    assert one("Tue, 05 Jan 2024", "EEEE, dd MMM yyyy") == datetime.date(2024, 1, 5)
    assert one("Wednesday 1/5/24", "E M/d/yy") == datetime.date(2024, 1, 5)
    assert one("Mon2024-01-05", "EEEyyyy-MM-dd") == datetime.date(2024, 1, 5)
    assert one("2024-01-05Fri", "yyyy-MM-ddEEE") == datetime.date(2024, 1, 5)
    assert one("Fri, 05 Jan 2024 24:00:00",
               "EEE, dd MMM yyyy HH:mm:ss") == datetime.date(2024, 1, 6)

    # out-of-lenient-scope guards: letter-leading literal after a name,
    # duplicate E runs (both fall to the strict parse)
    assert _simple_date_pattern("MMM'uary' yyyy dd") is None
    assert _simple_date_pattern("EEE'day', yyyy-MM-dd") is None
    assert _simple_date_pattern("EEE EEEE yyyy-MM-dd") is None
    # AM/PM has no prefix pairs: an alpha literal after 'a' stays lenient
    assert _simple_date_pattern("h a'm' yyyy-MM-dd") is not None


def test_as_date_lenient_zone_offsets(spark):
    """Zone fields (r12): every expected value probed against the real
    Java 17 SimpleDateFormat on this fixed-UTC host. z/Z parse RFC-822
    [+-]HHMM (ws-skipped, hours <= 23 / minutes <= 59) and the custom
    GMT form (no ws skip, COMMITTED once a sign follows GMT); X parses
    the ISO forms by count (case-sensitive Z literal). The offset
    shifts the INSTANT after wall-field resolution: the label is the
    shifted instant's day — including backwards across the 1582
    cutover — and the century-window bump compares the shifted
    instant. Zone names: bare GMT and the fixed zero-offset alias UTC
    (r13) parse at offset 0 — UTC has no custom +h:mm form, so a
    trailing "+01:00" after the name is ignored input, not an offset.
    Other names reject: "UT" is absent from this JDK's zone table
    (probed FAIL on Java 17), and locale-table names (PST, ...) are the
    documented divergence where Java would accept them."""
    import datetime

    from gratum_spark.pipeline import _simple_date_pattern, _zone_offset_ms

    cases = {
        "2024-01-05 10:00 +0530": datetime.date(2024, 1, 5),
        "2024-01-05 00:30 +0100": datetime.date(2024, 1, 4),   # day roll back
        "2024-01-05 23:30 -0100": datetime.date(2024, 1, 6),   # day roll fwd
        "2024-01-05 00:30 GMT+01:00": datetime.date(2024, 1, 4),
        "2024-01-05 00:30  GMT+01:00": datetime.date(2024, 1, 5),  # ws: GMT
        "2024-01-05 00:30 GMT": datetime.date(2024, 1, 5),     # name, offset 0
        "2024-01-05 00:30 GMT+01:0": None,   # committed custom form rejects
        "2024-01-05 00:30 UTC": datetime.date(2024, 1, 5),   # alias (r13)
        "2024-01-05 00:30 utc": datetime.date(2024, 1, 5),   # case-insens.
        "2024-01-05 00:30 UTC+01:00": datetime.date(2024, 1, 5),  # name
        # only — "+01:00" is trailing input, NOT an offset (vs GMT form)
        "2024-01-05 00:30 UT": None,         # not in this JDK's table
        "2024-01-05 00:30 PST": None,        # locale name: documented reject
        "2024-01-05 00:30 +2400": None,      # hours > 23
        "2024-01-05 00:30 +0060": None,      # minutes > 59
        "1582-10-15 00:30 +0100": datetime.date(1582, 10, 4),  # cutover back
        "1582-10-14 23:30 -0100": datetime.date(1582, 10, 25), # gap wall fwd
    }
    rows = [{"id": i, "dt": v} for i, v in enumerate(cases)]
    p = sources.from_collection(spark, rows, "id long, dt string")
    got = {r["id"]: r["dt"] for r in p.as_date(
        "dt", "yyyy-MM-dd HH:mm Z", lenient=True).df.collect()}
    for i, (val, want) in enumerate(cases.items()):
        assert got.get(i) == want, (val, got.get(i), want)

    def one(val, fmt):
        pp = sources.from_collection(spark, [{"dt": val}], "dt string")
        return pp.as_date("dt", fmt, lenient=True).df.collect()[0]["dt"]

    # ISO X forms by count (probed)
    assert one("2024-01-05T00:30:00Z", "yyyy-MM-dd'T'HH:mm:ssX") == \
        datetime.date(2024, 1, 5)
    assert one("2024-01-05T00:30:00+01", "yyyy-MM-dd'T'HH:mm:ssX") == \
        datetime.date(2024, 1, 4)
    assert one("2024-01-05T00:30:00+01:00", "yyyy-MM-dd'T'HH:mm:ssXXX") == \
        datetime.date(2024, 1, 4)

    def rejected(val, fmt):
        pp = sources.from_collection(spark, [{"dt": val}], "dt string")
        return pp.as_date("dt", fmt, lenient=True).df.count() == 0

    assert rejected("2024-01-05T00:30:00+0100", "yyyy-MM-dd'T'HH:mm:ssXXX")
    assert rejected("2024-01-05T00:30:00z", "yyyy-MM-dd'T'HH:mm:ssX")

    # windowed + zone (probed, start 1946-08-15 12:00): the bump
    # compares the OFFSET-SHIFTED instant against the window start
    rows2 = [{"id": i, "dt": v} for i, v in enumerate(
        ["46-08-15 11:30 +0100", "46-08-15 13:30 +0100",
         "46-08-15 12:30 +0100"])]
    p2 = sources.from_collection(spark, rows2, "id long, dt string")
    got2 = {r["id"]: r["dt"] for r in p2.as_date(
        "dt", "yy-MM-dd HH:mm Z", lenient=True,
        two_digit_year_start=datetime.datetime(1946, 8, 15, 12, 0),
    ).df.collect()}
    assert got2 == {0: datetime.date(2046, 8, 15),
                    1: datetime.date(1946, 8, 15),
                    2: datetime.date(2046, 8, 15)}, got2

    # scope guards: X run > 3 is an invalid SimpleDateFormat count
    assert _simple_date_pattern("yyyy-MM-dd XXXX") is None
    # shared offset parser bounds (single source of truth with the
    # fuzz model)
    assert _zone_offset_ms("+2359") == 23 * 3600000 + 59 * 60000
    assert _zone_offset_ms("GMT+0:30") == 1800000
    assert _zone_offset_ms("+2400") is None and _zone_offset_ms("") == 0
    assert _zone_offset_ms("UTC") == 0 and _zone_offset_ms(" \tutc") == 0


def test_as_date_zone_gate_reads_session_jvm_zone(spark):
    """The lenient zone gate derives from the SESSION's JVM default
    zone at plan build (r13, ADVICE) — the zone that SimpleDateFormat
    renders labels in — not the Python driver's libc TZ sampled at
    import. This container's JVM runs fixed UTC, so the gate is open;
    forcing the gate closed makes _simple_date_pattern reject zone
    patterns exactly like a non-UTC host."""
    from gratum_spark.pipeline import _jvm_tz_fixed_utc, _simple_date_pattern

    assert _jvm_tz_fixed_utc(spark) is True
    # the JVM default really is what the helper read
    tz = spark._jvm.java.util.TimeZone.getDefault()
    assert tz.getRawOffset() == 0 and not tz.useDaylightTime()
    # r13 ADVICE: the gate reads the full ZoneRules, so a zone that is
    # rawOffset==0 + no-DST *today* but had HISTORICAL transitions
    # (Africa/Abidjan: LMT -0:16:08 until 1912, whose pre-cutover
    # labels differ from UTC) must NOT open the gate; the fixed-UTC
    # alias family (normalized to ZoneOffset.UTC) must.
    TZ = spark._jvm.java.util.TimeZone
    orig = TZ.getDefault().getID()
    try:
        for zid, want in [
            ("Africa/Abidjan", False), ("Atlantic/Reykjavik", False),
            ("Europe/London", False), ("Etc/UTC", True), ("Zulu", True),
            ("GMT0", True),
        ]:
            TZ.setDefault(TZ.getTimeZone(zid))
            abj = TZ.getDefault()
            if zid == "Africa/Abidjan":  # the trap the old probe fell for
                assert abj.getRawOffset() == 0 and not abj.useDaylightTime()
            assert _jvm_tz_fixed_utc(spark) is want, zid
    finally:
        TZ.setDefault(TZ.getTimeZone(orig))
    assert _jvm_tz_fixed_utc(spark) is True
    fmt = "yyyy-MM-dd HH:mm Z"
    assert _simple_date_pattern(fmt, True) is not None
    assert _simple_date_pattern(fmt, False) is None     # non-UTC host
    assert _simple_date_pattern(fmt) is not None        # libc fallback
    # zone-free patterns are gate-independent
    assert _simple_date_pattern("yyyy-MM-dd", False) is not None


def test_as_date_uncompilable_strict_format_fails_at_plan_build(spark):
    """A format outside the lenient subset whose STRICT fallback Spark
    cannot compile (Spark >= 3.0 bans 'E' and week fields for parsing)
    raises ValueError at plan build with a clear message (r12 ADVICE,
    medium) instead of throwing SparkUpgradeException out of a task at
    the first row mid-job."""
    import pytest

    from gratum_spark import sources
    from gratum_spark.pipeline import _strict_format_error

    p = sources.from_collection(
        spark, [{"dt": "Friday, 2024-01-05"}], "dt string"
    )
    # letter-leading quoted literal after a weekday name: out of lenient
    # scope, and Spark's parser refuses 'E' in parse patterns
    for lenient in (True, False):
        with pytest.raises(ValueError, match="cannot\\s+compile"):
            p.as_date("dt", "EEE'day', yyyy-MM-dd", lenient=lenient)
    # week-based field: banned outright by Spark's parser
    with pytest.raises(ValueError, match="as_date"):
        p.as_date("dt", "YYYY-'W'ww", lenient=True)
    # compilable formats pass the screen without a probe job...
    assert _strict_format_error(spark, "yyyy-MM-dd HH:mm:ss") is None
    assert _strict_format_error(spark, "yyyy-MM-dd'T'HH:mmXXX") is None
    # ...and a probed-OK format outside the safe-letter screen caches
    assert _strict_format_error(spark, "yyyy-DDD") is None
    assert "yyyy-DDD" in __import__(
        "gratum_spark.pipeline", fromlist=["_STRICT_FMT_ERR"]
    )._STRICT_FMT_ERR


def test_strict_format_screen_checks_run_lengths(spark):
    """The static probe-skip screen bounds per-letter RUN LENGTHS, not
    just the letter set (r13 ADVICE, medium): 'HHH:mm' and narrow
    'MMMMM-dd-yyyy' contain only safe letters, yet their formatter
    BUILDS throw — the set-only screen skipped the probe and the job
    crashed at the first row, contradicting the fails-at-plan-build
    guarantee. Every bound in _SPARK_PARSE_MAX_RUN is probed on this
    container's Spark/Java 17."""
    import pytest

    from gratum_spark import sources
    from gratum_spark.pipeline import _strict_format_error

    # over-long runs of safe letters are caught at plan build now
    for fmt in ("HHH:mm", "MMMMM-dd-yyyy", "S" * 10, "aa", "ddd-MM-yy"):
        assert _strict_format_error(spark, fmt) is not None, fmt
    # r14 ADVICE, medium: an UNTERMINATED quote ("HH'mm") or a
    # DateTimeFormatter-reserved char ('#','{','}') survives the
    # quote-strip with only safe letter runs — the screen must force
    # the probe (build throws INVALID_DATETIME_PATTERN /
    # INCONSISTENT_BEHAVIOR_CROSS_VERSION, both probed) instead of
    # letting the job crash at the first row.
    for fmt in ("HH'mm", "yyyy#MM", "yyyy{MM", "yyyy}MM", "HH'''mm"):
        assert _strict_format_error(spark, fmt) is not None, fmt
    # ...while a properly quoted reserved char, an escaped quote, and
    # the '['/']' optional-section markers all compile (probed)
    for fmt in ("HH'#'mm", "HH''mm", "HH[mm]"):
        assert _strict_format_error(spark, fmt) is None, fmt
    # maximum legal runs still screen out without a probe job
    for fmt in ("yyyyyy-MM-dd", "S" * 9, "MMMM d, yyyy", "hh:mm a",
                "yyyy-MM-dd'T'HH:mm:ssXXXXX", "H'x'H"):
        assert _strict_format_error(spark, fmt) is None, fmt
    p = sources.from_collection(spark, [{"dt": "12:30"}], "dt string")
    for lenient in (True, False):
        with pytest.raises(ValueError, match="cannot\\s+compile"):
            p.as_date("dt", "HHH:mm", lenient=lenient)


def test_strict_format_probe_never_caches_transient_errors():
    """Only formatter-COMPILE failures are cached by the probe (r13
    ADVICE): a transient gateway/session error propagates unrecorded,
    so one dead session cannot poison every later as_date plan build
    with a bogus 'cannot compile' ValueError."""
    import pytest

    from gratum_spark.pipeline import _STRICT_FMT_ERR, _strict_format_error

    class _DeadSession:
        def range(self, n):
            raise RuntimeError(
                "Py4JNetworkError: Answer from Java side is empty"
            )

    fmt = "QQQ-'transient'-yyyy"  # unsafe letter -> probe required
    assert fmt not in _STRICT_FMT_ERR
    with pytest.raises(RuntimeError, match="Py4JNetworkError"):
        _strict_format_error(_DeadSession(), fmt)
    assert fmt not in _STRICT_FMT_ERR  # not poisoned — retried next call


def test_strict_format_probe_classifies_by_jvm_class_name():
    """r14 verdict watch item: _FMT_COMPILE_MARKERS matches substrings
    of the exception MESSAGE; Spark's error-class tags are stable but
    the rendered text is not. When the message carries no marker, the
    classifier falls back to the JVM class names on the Py4J
    ``java_exception`` cause chain, so a Spark error-text rework turns
    into a clean cached plan-build error, never a raw re-raise."""
    from gratum_spark.pipeline import (
        _STRICT_FMT_ERR,
        _probe_exc_is_compile,
        _strict_format_error,
    )

    class _JClass:
        def __init__(self, name):
            self._name = name

        def getName(self):
            return self._name

    class _JExc:
        def __init__(self, name, cause=None):
            self._name, self._cause = name, cause

        def getClass(self):
            return _JClass(self._name)

        def getCause(self):
            return self._cause

    class _Py4JishError(Exception):
        def __init__(self, java_exception):
            super().__init__("reworked error text with no marker")
            self.java_exception = java_exception

    # message-free compile failure: classified via the JVM class name,
    # including one level down the cause chain (Spark wraps the
    # formatter's IllegalArgumentException)
    direct = _Py4JishError(_JExc("org.apache.spark.SparkUpgradeException"))
    wrapped = _Py4JishError(_JExc(
        "org.apache.spark.SparkException",
        cause=_JExc("java.lang.IllegalArgumentException"),
    ))
    assert _probe_exc_is_compile(direct) is True
    assert _probe_exc_is_compile(wrapped) is True
    # unrelated JVM class, no marker anywhere: transient
    transient = _Py4JishError(_JExc("java.net.SocketException"))
    assert _probe_exc_is_compile(transient) is False
    # a self-referential cause chain terminates (bounded walk)
    loop = _JExc("java.net.SocketException")
    loop._cause = loop
    assert _probe_exc_is_compile(_Py4JishError(loop)) is False
    # end-to-end through _strict_format_error: the fake compile failure
    # is cached as a plan-build error, not re-raised
    class _FakeCompileFailSession:
        def range(self, n):
            raise direct.__class__(direct.java_exception)

    fmt = "QQQ-'classname'-yyyy"  # unsafe letter -> probe required
    assert fmt not in _STRICT_FMT_ERR
    try:
        assert _strict_format_error(_FakeCompileFailSession(), fmt)
        assert fmt in _STRICT_FMT_ERR  # cached like a marker-text failure
    finally:
        _STRICT_FMT_ERR.pop(fmt, None)


def test_zone_gate_connect_fallback_alias_family(monkeypatch):
    """The gateway-less (Spark Connect) fallback consults the session
    timeZone conf only to VETO the libc probe; its alias tuple must
    cover the whole normalized-to-UTC family (r14 ADVICE, low: the
    omissions sent a genuinely-UTC session into strict fallback). Every
    accepted id was probed on this container's Java 17:
    ZoneId.of(id).normalized().getRules() is fixed offset 0."""
    import gratum_spark.pipeline as P

    class _ConnectSession:  # no _jvm attribute -> gateway probe raises
        def __init__(self, tz):
            self.conf = self
            self._tz = tz

        def get(self, key):
            assert key == "spark.sql.session.timeZone"
            return self._tz

    monkeypatch.setattr(P, "_HOST_TZ_UTC", True)
    for tz in ("UTC", "Etc/UTC", "Etc/Zulu", "Etc/Universal", "Etc/UCT",
               "Etc/GMT0", "Etc/GMT+0", "Etc/GMT-0", "Greenwich",
               "Etc/Greenwich", "GMT0", "UCT", "Zulu", "Universal",
               "Z", "+00:00"):
        assert P._jvm_tz_fixed_utc(_ConnectSession(tz)) is True, tz
    for tz in ("America/New_York", "Europe/London", "Africa/Abidjan",
               "+01:00", "Etc/GMT+1"):
        assert P._jvm_tz_fixed_utc(_ConnectSession(tz)) is False, tz
    # a non-UTC HOST vetoes regardless of the conf
    monkeypatch.setattr(P, "_HOST_TZ_UTC", False)
    assert P._jvm_tz_fixed_utc(_ConnectSession("UTC")) is False


def test_as_date_lenient_adjacent_fixed_width(spark):
    """Adjacent fixed-width numeric runs (r12, obeyCount): every
    expected value probed against the real Java 17 SimpleDateFormat. A
    numeric field directly followed by ANOTHER numeric field parses
    from the substring of the next run-length characters — leading
    whitespace counts toward the width, a minus is accepted (not on
    years), maximal digits within the remaining width, and there is NO
    backtracking ("202401" rejects on the empty day instead of
    re-splitting into y=2024 M=0 d=1). The last field of a chain, and
    any numeric field before a text field / zone / literal / end,
    stays greedy."""
    import datetime

    d = datetime.date
    cases = {
        "20240105": d(2024, 1, 5),
        "20241301": d(2025, 1, 1),     # month 13: lenient roll
        "20240199": d(2024, 4, 8),     # day 99
        "2024010": d(2023, 12, 31),    # short last field: day 0
        "202401": None,                # empty day — atomic, no re-split
        "202401056": d(2024, 2, 25),   # last field greedy: day 56... 056
        "2024 0105": d(2024, 3, 14),   # ws INSIDE M's width: M=" 0"=0
        " 20240105": d(205, 7, 14),    # ws inside y's width: y=202
        "24\t0105": d(24, 3, 14),      # y consumes 2 of its 4-char window
        "240105": None,                # y=2401, M=05, day empty
        "2024-105": d(2023, 11, 5),    # minus inside M's width: M=-1
        "-0240105": None,              # negative year: documented reject
        "+0240105": None,              # DecimalFormat takes no '+'
    }
    rows = [{"id": i, "dt": v} for i, v in enumerate(cases)]
    p = sources.from_collection(spark, rows, "id long, dt string")
    got = {r["id"]: r["dt"] for r in p.as_date(
        "dt", "yyyyMMdd", lenient=True).df.collect()}
    for i, (val, want) in enumerate(cases.items()):
        assert got.get(i) == want, (val, got.get(i), want)

    def one(val, fmt, **kw):
        pp = sources.from_collection(spark, [{"dt": val}], "dt string")
        out = pp.as_date("dt", fmt, lenient=True, **kw).df.collect()
        return out[0]["dt"] if out else None

    # windowed yy under obeyCount: 2-digit window, 1-digit literal
    assert one("240105", "yyMMdd") == d(2024, 1, 5)
    assert one("990105", "yyMMdd") == d(1999, 1, 5)
    assert one("2\t0105", "yyMMdd") == d(2, 3, 15)  # ws in width: literal y=2
    # greedy before text month / ampm / zone (probed)
    assert one("105Jan2024", "ddMMMyyyy") == d(2024, 4, 14)  # day 105
    assert one("2024-01-05 130PM", "yyyy-MM-dd hha") == d(2024, 1, 10)
    assert one("2024-01-05 00300+0100", "yyyy-MM-dd HHmZ") == d(2024, 1, 5)
    # compact time chains: obeyCount HH/mm/ss, greedy SSS tail
    assert one("2024-01-05 253000", "yyyy-MM-dd HHmmss") == d(2024, 1, 6)
    assert one("2024-01-05 00000086400000",
               "yyyy-MM-dd HHmmssSSS") == d(2024, 1, 6)
    assert one("5012024", "dMMyyyy") == d(2024, 1, 5)  # width-1 day


def test_as_date_lenient_windowed_ms_instant_bump(spark):
    """The 'yy' boundary-value bump compares INSTANTS at millisecond
    resolution when the pattern has time fields (probed against Java 17
    with set2DigitYearStart(1946-08-15 12:00)): a parsed time strictly
    before the noon start bumps +100, the exact start instant and later
    do not, and a day-rolling time that lands before the start bumps.
    This truth table is the deterministic pin for the fuzz-caught
    remainder-term mutation (seed 647: '46-08-15 13:0:81')."""
    import datetime

    start = datetime.datetime(1946, 8, 15, 12, 0)
    cases = {
        "46-08-15 11:59:59": datetime.date(2046, 8, 15),  # < start: bump
        "46-08-15 12:00:00": datetime.date(1946, 8, 15),  # == start: no bump
        "46-08-15 12:00:01": datetime.date(1946, 8, 15),
        "46-08-15 13:0:81": datetime.date(1946, 8, 15),   # the mutation witness
        "46-08-14 24:00:00": datetime.date(2046, 8, 15),  # rolls to midnight < start
        "46-08-16 -13:00:00": datetime.date(2046, 8, 15),  # rolls back to 11:00 < start
    }
    rows = [{"id": i, "dt": v} for i, v in enumerate(cases)]
    p = sources.from_collection(spark, rows, "id long, dt string")
    out = p.as_date(
        "dt", "yy-MM-dd HH:mm:ss", lenient=True, two_digit_year_start=start
    )
    got = {r["id"]: r["dt"] for r in out.df.collect()}
    for i, (val, want) in enumerate(cases.items()):
        assert got.get(i) == want, (val, got.get(i), want)


def test_nan_exact_through_pandas_roundtrips(spark):
    """Float NULL and NaN are distinct values in the reference's rows
    (a parsed "NaN" is Double.NaN and survives every step), but
    PySpark's pandas serializers conflate them in both directions. The
    NaN-exact Arrow adapters (flatten_window, grouped apply_in_pandas)
    and the row-closure converter (add_step, flat_map, reduce_rows and
    the expression sites) preserve the distinction through every
    payload roundtrip. Caught by fuzz `chain` seed 661
    (as_double("NaN") -> flatten_window nulled the NaN)."""
    import math

    rows = [{"i": 1, "s": "NaN", "k": "a"},
            {"i": 2, "s": "1.5", "k": "a"},
            {"i": 3, "s": None, "k": "b"}]
    d = sources.from_collection(spark, rows, "i long, s string, k string").as_double("s")

    def kinds(df):
        out = {}
        for r in df.collect():
            v = r["s"]
            out[r["i"]] = ("nan" if isinstance(v, float) and math.isnan(v)
                           else "null" if v is None else v)
        return out
    want = {1: "nan", 2: 1.5, 3: "null"}

    assert kinds(d.flatten_window("k", lambda pdf: pdf).df) == want
    assert kinds(d.add_step("noop", lambda row: row).df) == want
    assert kinds(d.flat_map(lambda row: [row], "i long, s double, k string").df) == want
    assert kinds(d.group_by("k").apply_in_pandas(
        lambda pdf: pdf, "i long, s double, k string").df) == want
    seen = d.reduce_rows(
        lambda acc, row: {"seen": acc["seen"] + [
            "nan" if isinstance(row["s"], float) and math.isnan(row["s"])
            else "null" if row["s"] is None else row["s"]]},
        init={"seen": []},
    )
    assert sorted(map(str, seen["seen"])) == ["1.5", "nan", "null"]
    # closure-visible cells: null arrives as None (not NaN), NaN as float
    def _peek(row):
        v = row["s"]
        row["kind"] = ("null" if v is None
                       else "nan" if isinstance(v, float) and v != v
                       else "val")
        return row

    seen_kinds = {r["i"]: r["kind"]
                  for r in d.add_step("probe", _peek).df.collect()}
    assert seen_kinds == {1: "nan", 2: "val", 3: "null"}
    # closure INPUT fidelity at the expression sites (Arrow UDFs over
    # the row struct): filter, add_field and fill_down_by decider
    # closures can tell a true NaN from a null
    assert [r["i"] for r in d.filter(
        lambda row: isinstance(row["s"], float) and row["s"] != row["s"]
    ).df.collect()] == [1]
    assert [r["i"] for r in d.filter(lambda row: row["s"] is None)
            .df.collect()] == [3]
    assert [r["i"] for r in d.filter({"s": lambda v: v is None})
            .df.collect()] == [3]
    assert [r["i"] for r in d.filter(
        {"s": lambda v: isinstance(v, float) and v != v}
    ).df.collect()] == [1]
    assert [r["i"] for r in d.filter({"*": lambda row: row["s"] is None})
            .df.collect()] == [3]
    kinds2 = {r["i"]: r["kind"] for r in d.add_field(
        "kind",
        lambda row: ("null" if row["s"] is None
                     else "nan" if row["s"] != row["s"] else "val"),
    ).df.collect()}
    assert kinds2 == {1: "nan", 2: "val", 3: "null"}
    filled = d.fill_down_by(lambda row, prev: row["s"] is None and prev["s"] == 1.5)
    assert kinds(filled.df) == {1: "nan", 2: 1.5, 3: 1.5}


def test_sort(people):
    ages = [r["age"] for r in people.sort("age").df.collect()]
    assert ages == sorted(ages)
    ages_desc = [r["age"] for r in people.sort(("age", "desc"), "id").df.collect()]
    assert ages_desc == sorted(ages_desc, reverse=True)


def test_branch_and_after(people):
    state = {}

    def side(p):
        state["side_count"] = p.df.count()
        return None

    stat = (
        people.branch(side, condition={"gender": "female"})
        .after(lambda: state.setdefault("done", True))
        .go()
    )
    assert stat.loaded == 5
    assert state["side_count"] == 3
    assert state["done"] is True


def test_reduce(people):
    row = people.reduce(total_age=F.sum("age"), n=F.count("*")).df.collect()[0]
    assert row["total_age"] == 53 + 25 + 34 + 83 + 83
    assert row["n"] == 5


def test_reduce_rows(people):
    acc = people.reduce_rows(
        lambda a, r: {"sum": a["sum"] + (r.get("age") or 0)}, {"sum": 0}
    )
    assert acc["sum"] == 278


def test_group_by_agg_and_tree(people):
    agg = people.group_by("gender").agg(n=F.count("*"))
    got = {r["gender"]: r["n"] for r in agg.df.collect()}
    assert got == {"male": 2, "female": 3}

    tree = people.group_by("gender").as_tree()
    assert len(tree["male"]) == 2
    assert len(tree["female"]) == 3
    names = {r["name"] for r in tree["female"]}
    assert "Ginger Rogers" in names


def test_inject_and_flat_map(spark):
    rows = [
        {"product": "widget", "features": ["a", "b", "c"]},
        {"product": "gadget", "features": ["x"]},
    ]
    p = sources.from_collection(
        spark, rows, "product string, features array<string>", ordered=False
    )
    out = p.inject("features", alias="feature")
    assert out.go().loaded == 4

    fm = p.flat_map(
        lambda row: [{"product": row["product"], "n": i} for i in range(2)],
        "product string, n int",
    )
    assert fm.go().loaded == 4


def test_exchange(spark, hobbies):
    ids = sources.from_collection(spark, [{"id": 1}, {"id": 2}], ordered=False)
    hobbies_df = hobbies.df

    def expand(row):
        return hobbies_df.filter(F.col("id") == row["id"])

    assert ids.exchange(expand).go().loaded == 4


def test_group_rows_and_exchange_follow_play_order(spark):
    """The reference builds per-key row lists in STREAM order and feeds
    exchange closures rows in stream order with payload-only dicts —
    including the re-ordered stream after a sort (r9 play-order fixes)."""
    from gratum_spark import sources

    rows = [
        {"i": 0, "k": "a", "v": 5},
        {"i": 1, "k": "a", "v": 9},
        {"i": 2, "k": "b", "v": 1},
        {"i": 3, "k": "a", "v": 7},
    ]
    p = sources.from_collection(spark, rows, "i long, k string, v long", ordered=True)
    by_k = {r["k"]: [x["i"] for x in r["rows"]] for r in p.group_by("k").rows().df.collect()}
    assert by_k == {"a": [0, 1, 3], "b": [2]}  # source order within key
    sorted_by_k = {
        r["k"]: [x["i"] for x in r["rows"]]
        for r in p.sort(("v", "desc")).group_by("k").rows().df.collect()
    }
    assert sorted_by_k == {"a": [1, 3, 0], "b": [2]}  # v desc within key

    seen = []

    def fn(row):
        seen.append(dict(row))
        return spark.createDataFrame([(row["i"],)], "i long")

    p.sort(("v", "desc")).exchange(fn).df.collect()
    assert sorted(seen[0].keys()) == ["i", "k", "v"]  # no _row_order leak
    assert [d["i"] for d in seen] == [1, 3, 0, 2]  # sorted play order


def test_group_rows_map_payload_on_stamped_pipeline(spark):
    """Play-order rows() must not require the payload to be orderable:
    a map-typed payload column (MapType survives sources' schema
    sanitization) sorts by the stamp alone via the comparator form of
    array_sort — plain sort_array over the (stamp, payload) struct
    raised AnalysisException here."""
    from gratum_spark import sources

    rows = [
        {"k": "a", "m": {"x": 2}},
        {"k": "b", "m": {"y": 1}},
        {"k": "a", "m": {"z": 3}},
    ]
    p = sources.from_collection(
        spark, rows, "k string, m map<string,long>", ordered=True
    )
    got = {
        r["k"]: [dict(x["m"]) for x in r["rows"]]
        for r in p.group_by("k").rows().df.collect()
    }
    assert got == {"a": [{"x": 2}, {"z": 3}], "b": [{"y": 1}]}


def test_exchange_max_rows_cap(spark, hobbies):
    # r5 verdict #6: exchange is driver-side by reference semantics; a
    # data-sized input must raise (naming the distributed alternative)
    # instead of collecting 100 TB to the driver.
    import pytest as _pytest

    big = sources.from_collection(
        spark, [{"id": i} for i in range(30)], ordered=False
    )
    hobbies_df = hobbies.df
    with _pytest.raises(ValueError, match="flat_map"):
        big.exchange(lambda row: hobbies_df, max_rows=10)
    # explicit raise of the cap restores the old behavior
    assert big.exchange(lambda row: hobbies_df.limit(1), max_rows=30).go().loaded == 30


def test_as_tree_max_rows_cap(people):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rows\\(\\)"):
        people.group_by("gender").as_tree(max_rows=2)
    # under the cap the tree is unchanged
    tree = people.group_by("gender").as_tree(max_rows=100)
    assert len(tree["male"]) == 2 and len(tree["female"]) == 3


def test_script_error_rejects(people):
    # closure exceptions reject SCRIPT_ERROR instead of failing the job
    # (reference Step.execute, etl/Step.groovy:23-51)
    def boom(row):
        if row["id"] == 3:
            raise ValueError("bad row")
        return row["age"] < 100

    stat = people.filter(boom, name="boomy").go()
    assert stat.loaded == 4
    assert stat.rejections_for(RejectionCategory.SCRIPT_ERROR) == 1

    stat2 = people.add_field(
        "x", lambda r: 1 / 0 if r["id"] == 2 else r["id"], "long"
    ).go()
    assert stat2.loaded == 4
    assert stat2.rejections_for(RejectionCategory.SCRIPT_ERROR) == 1


def test_abort_threshold(spark):
    # >50 SCRIPT_ERRORs with 0 loaded aborts (etl/Step.groovy:9,39-41)
    from gratum_spark.rejections import PipelineAbortException

    rows = [{"i": n} for n in range(60)]
    p = sources.from_collection(spark, rows, "i long", ordered=False)

    def always_boom(row):
        raise RuntimeError("nope")

    with __import__("pytest").raises(PipelineAbortException):
        p.filter(always_boom).go()


def test_row_order_stable_across_scan_splits(spark, sf_dir, tmp_path):
    """The parquet row-order stamp is (file_path, row_index) — a pure
    function of the data. unique()'s first-wins winner must therefore be
    the first row in FILE-PATH order, regardless of how the scan was
    split or packed. monotonically_increasing_id fails this on
    multi-file tables: Spark packs scan partitions largest-file-first,
    so mii order follows file SIZE, not file path."""
    from gratum_spark import sources

    d = str(tmp_path / "multi")
    # three files: part-0 (small, the true first-in-order winner rows),
    # part-1 (large — size-ordered packing would visit it first), part-2
    spark.createDataFrame([(k, "first") for k in range(10)], "k long, v string") \
        .coalesce(1).write.mode("overwrite").parquet(d)
    import glob, shutil, os
    f0 = glob.glob(os.path.join(d, "part-*"))[0]
    shutil.move(f0, os.path.join(d, "part-00000-a.parquet"))
    spark.createDataFrame(
        [(k, "bulk-" + "x" * 50) for k in range(10) for _ in range(200)],
        "k long, v string",
    ).coalesce(1).write.mode("append").parquet(d)
    f1 = [p for p in glob.glob(os.path.join(d, "part-*"))
          if os.path.basename(p) != "part-00000-a.parquet"][0]
    shutil.move(f1, os.path.join(d, "part-00001-b.parquet"))

    def winners(max_bytes):
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(max_bytes))
        try:
            p = sources.parquet(spark, d, ordered=True)
            return {(r["k"], r["v"]) for r in p.unique("k").df.collect()}
        finally:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")

    expect = {(k, "first") for k in range(10)}  # file-path order, always
    assert winners(128 * 1024 * 1024) == expect
    assert winners(16 * 1024) == expect


def test_limit_takes_first_in_source_order(spark, tmp_path):
    """limit must take the FIRST n rows in file-path order on a stamped
    multi-file source, and halt=False's kept/rejected must exactly
    partition the input (independent unordered limit+offset plans can
    overlap)."""
    import glob
    import os
    import shutil

    from gratum_spark import sources

    d = str(tmp_path / "ml")
    spark.createDataFrame(
        [(k, "first") for k in range(5)], "k long, v string"
    ).coalesce(1).write.mode("overwrite").parquet(d)
    shutil.move(
        glob.glob(os.path.join(d, "part-*"))[0],
        os.path.join(d, "part-00000-a.parquet"),
    )
    spark.createDataFrame(
        [(k, "bulk-" + "y" * 80) for k in range(5, 300)], "k long, v string"
    ).coalesce(1).write.mode("append").parquet(d)
    f1 = [p for p in glob.glob(os.path.join(d, "part-*"))
          if os.path.basename(p) != "part-00000-a.parquet"][0]
    shutil.move(f1, os.path.join(d, "part-00001-b.parquet"))

    p = sources.parquet(spark, d, ordered=True)
    lim = p.limit(5, halt=False)
    kept = sorted(r["k"] for r in lim.df.collect())
    assert kept == [0, 1, 2, 3, 4]  # the small first-file rows, not the bulk
    stat = lim.go()
    assert stat.loaded == 5 and stat.rejected == 295


def test_sort_is_stable_on_stamped_sources(spark):
    """Equal sort keys must come out in source order (the reference's
    Groovy sort is stable); verified by sorting on a constant column."""
    from gratum_spark import sources

    rows = [{"k": 1, "seq": i} for i in range(50)]
    p = sources.from_collection(spark, rows)  # ordered=True by default
    out = [r["seq"] for r in p.sort("k").df.collect()]
    assert out == list(range(50))


def test_sort_reorders_downstream_ops(spark):
    """The reference's sort re-orders the STREAM: downstream
    order-dependent steps see sorted order, not source order. On a
    stamped source, sort(x).limit(n) must be the top n by x (was
    silently first-n by SOURCE order before the r9 re-stamp fix), and
    unique() after sort must first-win in sorted order."""
    from gratum_spark import sources

    rows = [{"i": i, "v": (7 * i) % 10} for i in range(10)]
    p = sources.from_collection(spark, rows, "i long, v long", ordered=True)
    top3 = [(r["i"], r["v"]) for r in p.sort(("v", "desc")).limit(3).df.collect()]
    assert top3 == [(7, 9), (4, 8), (1, 7)]
    # reject accounting consistent with the sorted split
    stat = p.sort(("v", "desc")).limit(3, halt=False).go()
    assert stat.loaded == 3 and stat.rejected == 7

    rows2 = [
        {"i": 0, "k": "a", "v": 5},
        {"i": 1, "k": "a", "v": 9},
        {"i": 2, "k": "b", "v": 1},
        {"i": 3, "k": "b", "v": 7},
    ]
    p2 = sources.from_collection(spark, rows2, "i long, k string, v long", ordered=True)
    u = sorted((r["k"], r["i"]) for r in p2.sort(("v", "desc")).unique("k").df.collect())
    assert u == [("a", 1), ("b", 3)]

    # chained sorts: the second sort's ties break by the FIRST sort's
    # order (a stable stream sort over the re-ordered stream)
    rows3 = [
        {"i": 0, "a": 2, "b": 1},
        {"i": 1, "a": 1, "b": 1},
        {"i": 2, "a": 1, "b": 0},
    ]
    p3 = sources.from_collection(spark, rows3, "i long, a long, b long", ordered=True)
    assert [r["i"] for r in p3.sort("a").sort("b").df.collect()] == [2, 1, 0]


def test_concat_mixed_sources_keeps_play_order(spark, sf_dir):
    """concat of a parquet-stamped pipeline with a collection-stamped
    one must union (the stamps share one struct shape) and preserve the
    reference's play order: this pipeline's rows first, then other's
    (Pipeline.groovy:208-220)."""
    from gratum_spark import sources

    a = sources.parquet(spark, f"{sf_dir}/region.parquet", ordered=True)
    b = sources.from_collection(spark, [{"r_regionkey": 99, "r_name": "X"}])
    first5 = {r["r_regionkey"] for r in a.concat(b).limit(5).df.collect()}
    assert 99 not in first5 and len(first5) == 5
    assert [r["r_regionkey"] for r in b.concat(a).limit(1).df.collect()] == [99]


def test_missing_column_fails_at_plan_time(spark):
    """Referencing a nonexistent column must raise AnalysisException
    when the plan is built — not silently pass or fail mid-job."""
    from pyspark.errors import AnalysisException

    from gratum_spark import sources

    p = sources.from_collection(spark, [{"a": 1}])
    with pytest.raises(AnalysisException):
        p.filter({"nope": 1}).df.collect()
    with pytest.raises(AnalysisException):
        p.as_int("nope").df.collect()


def test_on_rejection_save_roundtrip(spark, tmp_path, people):
    """The reference's canonical reject handling: onRejection writes the
    reject stream to a file with category/reason/step columns
    (README.md:333-354 in the reference)."""
    out = str(tmp_path / "rejects.csv")
    saved = {}

    def handler(rejects):
        from gratum_spark.sinks import write_single_csv

        saved["path"] = write_single_csv(rejects.df, out)

    stat = people.filter({"gender": "male"}, name="males-only").on_rejection(handler).go()
    assert stat.loaded == 2 and stat.rejected == 3
    import csv

    with open(saved["path"]) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 3
    assert all(r["rejectionCategory"] == "IGNORE_ROW" for r in rows)
    assert all(r["rejectionStep"] == "males-only" for r in rows)


def test_go_is_repeatable(people):
    """go() is a pure action over a lazy plan — no state is consumed;
    running it twice returns identical statistics."""
    p = people.filter({"gender": "female"})
    s1, s2 = p.go(), p.go()
    assert (s1.loaded, s1.rejected) == (s2.loaded, s2.rejected) == (3, 2)


def test_default_values_groovy_truthiness_by_type(spark):
    from gratum_spark import sources

    rows = [
        {"s": "0", "n": 0, "d": 0.0, "b": False},
        {"s": "", "n": 7, "d": 1.5, "b": True},
        {"s": None, "n": None, "d": None, "b": None},
    ]
    p = sources.from_collection(spark, rows, name="truthy").default_values(
        {"s": "S", "n": 99, "d": 9.9, "b": True}
    )
    out = p.df.collect()
    got = {(r["s"], r["n"], r["d"], r["b"]) for r in out}
    # string "0" is TRUTHY in Groovy (non-empty string) — kept;
    # numeric 0 and 0.0 are falsy — defaulted; false is falsy — defaulted
    assert ("0", 99, 9.9, True) in got
    assert ("S", 7, 1.5, True) in got
    assert ("S", 99, 9.9, True) in got


def test_defaults_by_same_truthiness(spark):
    from gratum_spark import sources

    rows = [
        {"dest": 0, "src": 5},
        {"dest": 3, "src": 7},
        {"dest": None, "src": 9},
    ]
    p = sources.from_collection(spark, rows, name="defby").defaults_by({"dest": "src"})
    assert sorted(r["dest"] for r in p.df.collect()) == [3, 5, 9]


def test_progress_reports_after_go(people, capsys):
    stat = people.progress().go()
    assert stat.loaded == 5
    assert "progress: 5 rows" in capsys.readouterr().out


def test_progress_reports_after_start(people, capsys):
    people.filter({"gender": "male"}).progress().start()
    assert "progress: 2 rows" in capsys.readouterr().out


def test_progress_reports_after_save_then_go(people, tmp_path, capsys):
    # the write counts the rows; go() on its result runs no job and
    # still reports them
    people.filter({"gender": "male"}).progress().save(str(tmp_path / "pr")).go()
    assert "progress: 2 rows" in capsys.readouterr().out


def test_fill_down_by_decider_closure(spark):
    from gratum_spark import sources

    rows = [
        {"i": 1, "grp": "a", "v": "x"},
        {"i": 2, "grp": "a", "v": None},
        {"i": 3, "grp": "a", "v": ""},
        {"i": 4, "grp": "b", "v": None},   # decider false vs prev -> new run, stays None
        {"i": 5, "grp": "b", "v": "y"},
        {"i": 6, "grp": "b", "v": None},
    ]
    p = sources.from_collection(spark, rows, name="fd", ordered=True).fill_down_by(
        lambda row, prev: row["grp"] == prev["grp"]
    )
    got = {r["i"]: r["v"] for r in p.df.collect()}
    assert got == {1: "x", 2: "x", 3: "x", 4: None, 5: "y", 6: "y"}


def test_fill_down_by_decider_numeric_zero_fills(spark):
    from gratum_spark import sources

    rows = [
        {"i": 1, "k": 1, "n": 5},
        {"i": 2, "k": 1, "n": 0},  # Groovy-falsy numeric 0 -> filled from prev
        {"i": 3, "k": 1, "n": 7},
    ]
    p = sources.from_collection(spark, rows, name="fdz", ordered=True).fill_down_by(
        lambda row, prev: row["k"] == prev["k"]
    )
    got = {r["i"]: r["n"] for r in p.df.collect()}
    assert got == {1: 5, 2: 5, 3: 7}


def test_load_statistic_merge(spark):
    # mirrors reference LoadStatisticTest.groovy:9-52 (per-step timings are
    # covered by test_load_statistic_step_timings)
    from gratum_spark import RejectionCategory, sources

    s1 = (
        sources.from_collection(spark, [{"color": c} for c in ["red", "green", "blue"]])
        .filter({"color": ["green", "blue"]}, name="f1")
        .go()
    )
    s2 = (
        sources.from_collection(
            spark, [{"color": c} for c in ["yellow", "brown", "black", "grey"]]
        )
        .filter({"color": ["yellow", "grey"]}, name="f2")
        .filter({"color": "grey"}, name="f3")
        .go()
    )
    assert s1.loaded == 2 and s1.rejected == 1
    assert s2.loaded == 1 and s2.rejected == 3
    s1.merge(s2)
    assert s1.loaded == 3
    assert s1.rejected == 4
    assert s1.rejections_for(RejectionCategory.IGNORE_ROW) == 4
    by_step = s1.rejections_by_step(RejectionCategory.IGNORE_ROW)
    assert by_step == {"f1": 1, "f2": 2, "f3": 1}


def test_exchange_counts_rejections_before_and_after(spark, titanic_like=None):
    # mirrors reference PipelineTest.groovy:1099-1123 testExchangeRejections:
    # rejects BEFORE the exchange and in steps AFTER it both reach go()
    from gratum_spark import RejectionCategory, reject, sources

    rows = [
        {"sex": "female", "ticket": "a1b23"},
        {"sex": "female", "ticket": "77"},
        {"sex": "male", "ticket": "999"},
    ]
    p = (
        sources.from_collection(spark, rows, name="ex")
        .filter({"sex": "female"}, name="females")
        .exchange(
            lambda row: sources.from_collection(
                spark,
                [{"number": int(ch)} for ch in row["ticket"] if ch.isdigit()],
                "number long",
                name="digits",
            )
        )
        .add_step(
            "small only",
            lambda row: row if row["number"] <= 5 else reject("too big", RejectionCategory.REJECTION),
        )
    )
    stat = p.go()
    # digits of 'a1b23' and '77': 1,2,3,7,7 -> 1,2,3 kept; 7,7 rejected
    assert stat.loaded == 3
    assert stat.rejections_for(RejectionCategory.IGNORE_ROW) == 1  # the male row
    assert stat.rejections_for(RejectionCategory.REJECTION) == 2


def test_concurrent_context_apply_connect_form(spark):
    # reference usage: pipeline.apply(ctx.spread{..}.collect{..}.connect())
    # with spread-side rejections counted in the final stats
    # (LocalConcurrentContextTest.groovy:45-68)
    from pyspark.sql import functions as F

    from gratum_spark import LocalConcurrentContext, sources

    rows = [{"sex": "female"}] * 3 + [{"sex": "male"}] * 2
    ctx = (
        LocalConcurrentContext(4, 50)
        .spread(lambda p: p.filter({"sex": "female"}, name="Only Females"))
        .collect(lambda p: p.add_field("collected", F.lit(True)))
    )
    stat = sources.from_collection(spark, rows, name="cc").apply(ctx.connect()).go()
    assert stat.loaded == 3
    assert stat.rejected == 2


def test_sort_to_file_without_downstream(spark, tmp_path):
    # mirrors reference testSortExternalWithoutDownstream
    # (PipelineTest.groovy:549-598): sorted CSV lands in the file, the
    # after hook fires, and NO rows flow to later steps
    import csv as _csv

    from gratum_spark import sources

    rows = [{"hobby": h} for h in ["zx", "aa", "mm"] * 200]
    seen_files = []
    hit_downstream = []
    p = (
        sources.from_collection(spark, rows, name="hob", ordered=True)
        .sort("hobby", downstream=False, after_file=seen_files.append,
              file=str(tmp_path / "sorted.csv"))
        .add_step("never", lambda r: hit_downstream.append(r) or r,
                  schema="hobby string")
    )
    stat = p.go()
    assert stat.loaded == 0 and not hit_downstream
    assert seen_files == [str(tmp_path / "sorted.csv")]
    with open(seen_files[0]) as f:
        data = [r["hobby"] for r in _csv.DictReader(f)]
    assert len(data) == 600 and data == sorted(data)


def test_sort_to_file_deferred_until_action(spark, tmp_path):
    # r2 advice: SortConfig output is produced during execution in the
    # reference — the file must NOT exist at plan-build time, only after
    # go()/start(); replay via prepend_step must not double-fire after_file
    from gratum_spark import sources

    target = tmp_path / "deferred.csv"
    fired = []
    p = (
        sources.from_collection(spark, [{"v": 3}, {"v": 1}, {"v": 2}], name="d", ordered=True)
        .sort("v", file=str(target), after_file=fired.append)
    )
    assert not target.exists() and fired == []
    stat = p.go()
    assert stat.loaded == 3
    assert target.exists() and fired == [str(target)]

    fired.clear()
    target.unlink()
    p2 = p.prepend_step("bump", lambda r: {**r, "v": r["v"] + 10})
    assert not target.exists() and fired == []  # replay didn't write eagerly
    p2.start()
    assert target.exists() and fired == [str(target)]
    import csv as _csv

    with open(target) as fh:
        vals = [int(r["v"]) for r in _csv.DictReader(fh)]
    assert vals == [11, 12, 13]


def test_add_step_inference_skips_rejecting_probe_rows(spark):
    # r2 advice: inference probed exactly one row; a rejecting first row
    # silently fell back to the input schema and downstream column refs
    # exploded. Now up to 5 rows are probed.
    from gratum_spark import rejections, sources

    rows = [{"v": -1}, {"v": -2}, {"v": 7}]
    p = (
        sources.from_collection(spark, rows, name="probe", ordered=True)
        .add_step("derive", lambda r: rejections.reject("neg") if r["v"] < 0
                  else {**r, "double": r["v"] * 2})
        .filter({"double": 14}, name="sel")
    )
    got = p.df.collect()
    assert len(got) == 1 and got[0]["double"] == 14


def test_add_step_inference_survives_reject_heavy_prefix(spark):
    # r5 verdict #4: the reference's canonical add_step use is a
    # reject-heavy step (PipelineTest.groovy:46-66 shape) — with a 5-row
    # probe, 20 leading rejects defeated inference. Probe is now 50 rows.
    from gratum_spark import rejections, sources

    rows = [{"v": -i} for i in range(1, 21)] + [{"v": 7}, {"v": 9}]
    p = (
        sources.from_collection(spark, rows, name="probe50", ordered=True)
        .add_step("derive", lambda r: rejections.reject("neg") if r["v"] < 0
                  else {**r, "double": r["v"] * 2})
    )
    assert "double" in p.columns  # inferred despite 20 rejecting probe rows
    got = sorted(r["double"] for r in p.df.collect())
    assert got == [14, 18]


def test_add_step_inference_fallback_warns(spark):
    import warnings

    from gratum_spark import sources

    p = sources.from_collection(spark, [{"v": 1}], name="w")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        p.add_step("bad", lambda r: None)  # every probe row rejects
    assert any("schema inference fell back" in str(w.message) for w in caught)


def test_load_statistic_step_timings(spark):
    # mirrors reference LoadStatisticTest per-step ms reporting
    # (LoadStatistic.groovy:12-163), approximated for fused execution:
    # Python-closure steps are timed executor-side via accumulators
    from gratum_spark import sources

    rows = [{"v": i} for i in range(200)]
    p = (
        sources.from_collection(spark, rows, name="timed")
        .add_step("square", lambda r: {**r, "sq": r["v"] * r["v"]})
        .filter(lambda r: r["sq"] % 2 == 0, name="evens")
    )
    stat = p.go()
    assert stat.loaded == 100
    assert set(stat.step_timings) == {"square", "evens"}
    assert all(ms >= 0 for ms in stat.step_timings.values())
    assert any(ms > 0 for ms in stat.step_timings.values())

    # repeat go(): timings reflect only the new run (accumulators snapshot)
    stat2 = p.go()
    assert set(stat2.step_timings) == {"square", "evens"}
    assert all(ms >= 0 for ms in stat2.step_timings.values())

    # merge sums per-step timings like the reference
    merged_ms = stat.step_timings["square"] + stat2.step_timings["square"]
    stat.merge(stat2)
    assert stat.step_timings["square"] == merged_ms


def test_load_statistic_merge_without_step_timings(spark):
    # mirrors reference LoadStatisticTest.groovy testMergeWithoutStepTimings
    # (:55-78): merge(other, false) folds counts/duration but leaves this
    # run's step timings untouched
    from gratum_spark import sources

    rows = [{"v": i} for i in range(50)]
    s1 = (
        sources.from_collection(spark, rows, name="a")
        .add_step("double", lambda r: {**r, "d": r["v"] * 2})
        .go()
    )
    s2 = (
        sources.from_collection(spark, rows, name="b")
        .add_step("triple", lambda r: {**r, "t": r["v"] * 3})
        .filter(lambda r: r["t"] % 2 == 0, name="even_t")
        .go()
    )
    assert set(s1.step_timings) == {"double"}
    assert set(s2.step_timings) == {"triple", "even_t"}
    before = dict(s1.step_timings)
    s1.merge(s2, include_timings=False)
    assert s1.loaded == 50 + 25
    assert s1.step_timings == before  # timings NOT folded in


def test_step_timings_reach_go_after_save(spark, tmp_path):
    # a closure's time accrues during the write that produces the counts;
    # go() on the saved result reports it without running anything
    rows = [{"v": i} for i in range(200)]
    p = sources.from_collection(spark, rows, name="timed").add_step(
        "bump", lambda r: {**r, "w": r["v"] + 1}
    )
    stat = p.save(str(tmp_path / "timed_csv")).go()
    assert stat.loaded == 200
    assert stat.step_timings["bump"] > 0


def test_rejected_rows_skip_later_closures(spark, tmp_path):
    # gratum's short-circuit rule (Pipeline.groovy:1384-1387): a row that
    # as_int rejected never reaches a later step. Each closure raises on
    # such a row (raw == "bad"), and on a row whose values were blanked,
    # so any leak would surface as a SCRIPT_ERROR count.
    rows = [
        {"id": i, "n": "bad" if i in (1, 4, 7) else str(i),
         "raw": "bad" if i in (1, 4, 7) else str(i)}
        for i in range(10)
    ]

    def guard(r):
        if r["raw"] in ("bad", None):
            raise AssertionError(f"closure got a rejected row: {r}")
        return r

    parsed = sources.from_collection(
        spark, rows, "id long, n string, raw string", name="sc"
    ).as_int("n")
    p = (
        parsed
        .filter(lambda r: guard(r)["n"] % 2 == 0, name="even")
        .add_field("n10", lambda r: guard(r)["n"] * 10, "long")
        .add_step("checked", lambda r: {**guard(r), "ok": True})
    )
    expected = {"INVALID_FORMAT": {"asInt(n)": 3}, "IGNORE_ROW": {"even": 3}}
    for stat in (p.go(), p.save(str(tmp_path / "sc_csv")).go()):
        assert stat.rejections_for(RejectionCategory.SCRIPT_ERROR) == 0
        assert stat.loaded == 4
        assert stat.rejections == expected
    # the payload branch keeps the value as_int refused
    assert [r["n"] for r in parsed.rejections_df().collect()] == ["bad"] * 3


def test_rejections_df_after_type_change(spark):
    # as_int turns v into a long, so rejected rows meet two types of v:
    # the raw "12x" as_int refused and the parsed 1 the filter dropped.
    # Both come back, as strings, each with its own step. A null-typed
    # column, which a VARIANT cannot hold, comes back too.
    rows = [{"v": "12x"}, {"v": "1"}, {"v": "5"}, {"v": None}]
    p = (
        sources.from_collection(spark, rows, "v string")
        .set_field("none", None)
        .as_int("v")
        .filter("v > 1")
    )
    rej = p.rejections_df()
    assert dict(rej.dtypes)["v"] == "string"
    got = sorted((r["rejectionStep"], r["v"] or "", r["none"]) for r in rej.collect())
    assert got == [
        ("asInt(v)", "12x", None), ("filter(v > 1)", "", None), ("filter(v > 1)", "1", None)
    ]


def test_rejections_df_across_join_matches_go(spark, tmp_path):
    # the join closes the accounting segment of as_int and the filter;
    # rejections_df() holds the rejected rows of both segments, and
    # saving first does not lose the closed or the observed segment
    rows = [{"id": i, "n": "bad" if i % 4 == 0 else str(i)} for i in range(12)]
    right = sources.from_collection(spark, [{"id": i, "w": "x"} for i in range(0, 12, 3)])
    p = (
        sources.from_collection(spark, rows, "id long, n string")
        .as_int("n")
        .filter("n % 2 = 1", name="odd")
        .join(right, on="id")
        .filter("id > 3", name="big")
    )
    stat = p.go()
    for rej in (p.rejections_df(), p.save(str(tmp_path / "joined")).rejections_df()):
        by_step: dict[str, dict[str, int]] = {}
        for r in rej.collect():
            steps = by_step.setdefault(r["rejectionCategory"], {})
            steps[r["rejectionStep"]] = steps.get(r["rejectionStep"], 0) + 1
            assert (r["n"] == "bad") == (r["rejectionStep"] == "asInt(n)")
        assert by_step == stat.rejections
    assert stat.rejections == {
        "INVALID_FORMAT": {"asInt(n)": 3},
        "IGNORE_ROW": {"odd": 3, "join(['id'])": 4, "big": 1},
    }


def test_stamp_row_order_csv_reads_metadata_fields_first(spark, tmp_path, monkeypatch):
    # CSV/JSON scans have a _metadata struct without row_index: the stamp
    # must check its fields instead of referencing row_index and
    # swallowing the analyzer's FIELD_NOT_FOUND (logged by Spark on every
    # ordered CSV source)
    from pyspark.errors import AnalysisException

    from gratum_spark.pipeline import ROW_ORDER, stamp_row_order

    f = tmp_path / "t.csv"
    f.write_text("a,b\n1,x\n2,y\n3,z\n")
    df = spark.read.option("header", True).csv(str(f))
    swallowed = []
    cls = type(df)
    for meth in ("withColumn", "select"):
        orig = getattr(cls, meth)

        def spy(self, *a, _orig=orig, **k):
            try:
                return _orig(self, *a, **k)
            except AnalysisException as e:
                swallowed.append(e)
                raise

        monkeypatch.setattr(cls, meth, spy)
    out = stamp_row_order(df)
    monkeypatch.undo()
    assert swallowed == []
    assert out.schema[ROW_ORDER].dataType.simpleString() == "struct<f:string,i:bigint>"
    got = [r[ROW_ORDER]["i"] for r in out.orderBy(ROW_ORDER).collect()]
    assert got == sorted(got) and len(set(got)) == 3
    assert [r["a"] for r in out.orderBy(ROW_ORDER).collect()] == ["1", "2", "3"]


def test_python_udf_steps_never_see_rejected_rows(spark, tmp_path):
    # Spark evaluates a Python UDF on every row, even under CASE WHEN, so
    # a step whose user Column holds one starts a new accounting segment
    # from the kept rows: each UDF below raises on the nulls that the
    # first filter rejected, and no write or go() may fail on them
    rows = [{"id": i, "name": None if i % 3 == 0 else f"n{i}"} for i in range(12)]
    up = F.udf(lambda s: s.upper())
    short = F.udf(lambda s: len(s) < 3, "boolean")
    spark.udf.register("udf_steps_up", lambda s: s.upper())
    p = (
        sources.from_collection(spark, rows, "id long, name string", name="udf")
        .filter("name IS NOT NULL", name="named")
        .add_field("up", up("name"))
        .add_field("up_sql", "udf_steps_up(name)")
        .set_field("up_set", up("name"))
        .remove_field("up_sql", up("name") == "N1")
        .filter(short("name"), name="short")
        .filter({"up": up("name") != "N2"}, name="not2")
    )
    expected = {"IGNORE_ROW": {"named": 4, "short": 2, "not2": 1}}
    for stat in (p.go(), p.save(str(tmp_path / "udf_csv")).go()):
        assert (stat.loaded, stat.rejections) == (5, expected)
    got = sorted((r["up"], r["up_set"], r["up_sql"]) for r in p.df.collect())
    assert got == [("N1", "N1", None), ("N4", "N4", "N4"), ("N5", "N5", "N5"),
                   ("N7", "N7", "N7"), ("N8", "N8", "N8")]


def test_bound_column_steps_still_count(spark, tmp_path):
    # a Column bound to one DataFrame (p.df["n"]) cannot be applied to
    # the accounting plan by name; the step starts a new accounting
    # segment and every count stays exact
    rows = [{"id": i, "n": str(i) if i % 4 else "x"} for i in range(12)]
    p = sources.from_collection(spark, rows, "id long, n string", name="b").as_int("n")
    q = p.filter(p.df["n"] > 2, name="gt2")
    q = q.add_field("m", q.df["n"] + 1).remove_field("m", q.df["id"] > 100)
    expected = {"INVALID_FORMAT": {"asInt(n)": 3}, "IGNORE_ROW": {"gt2": 2}}
    for stat in (q.go(), q.save(str(tmp_path / "b_csv")).go()):
        assert (stat.loaded, stat.rejections) == (7, expected)
