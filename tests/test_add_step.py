"""Generic add_step / prepend_step — gratum's primary extension point
(reference: Pipeline.groovy:119-144, Step.groovy:23-51; usage pattern
PipelineTest.groovy:46-66 row-mutation)."""
from __future__ import annotations

import pytest

from gratum_spark import Rejection, RejectionCategory, reject
from gratum_spark.rejections import PipelineAbortException


def test_add_step_mutates_rows(people):
    p = people.add_step("upcase", lambda row: {**row, "name": row["name"].upper()})
    names = {r["name"] for r in p.df.collect()}
    assert "BILL RHODES" in names and len(names) == 5
    stat = p.go()
    assert stat.loaded == 5 and stat.rejected == 0


def test_add_step_none_rejects(people):
    p = people.add_step("adults", lambda row: row if row["age"] >= 30 else None)
    stat = p.go()
    assert stat.loaded == 4
    assert stat.rejections_for(RejectionCategory.REJECTION) == 1


def test_add_step_rejection_marker_category(people):
    def step(row):
        if row["gender"] == "male":
            return reject("males excluded", RejectionCategory.IGNORE_ROW)
        return row

    p = people.add_step(step)
    stat = p.go()
    assert stat.loaded == 3
    assert stat.rejections_for(RejectionCategory.IGNORE_ROW) == 2
    rej = p.rejections_df().collect()
    assert {r["rejectionReason"] for r in rej} == {"males excluded"}
    # original row payload is preserved on the reject branch
    assert {r["name"] for r in rej} == {"Bill Rhodes", "Jack Lowland"}


def test_add_step_exception_is_script_error(people):
    def boom(row):
        if row["id"] == 3:
            raise ValueError("bad row")
        return row

    p = people.add_step("boom", boom)
    stat = p.go()
    assert stat.loaded == 4
    assert stat.rejections_for(RejectionCategory.SCRIPT_ERROR) == 1


def test_add_step_schema_change(people):
    p = people.add_step(
        "initials",
        lambda row: {"id": row["id"], "initials": "".join(w[0] for w in row["name"].split())},
        schema="id bigint, initials string",
    )
    rows = {r["id"]: r["initials"] for r in p.df.collect()}
    assert rows[1] == "BR" and rows[5] == "GR"


def test_prepend_step_runs_first(people):
    # filter on a field that only exists once the prepended step adds it —
    # proves the prepended step runs before the already-registered filter.
    p = people.filter(lambda row: row["age_band"] == "old", name="old only")
    p = p.prepend_step("band", lambda row: {**row, "age_band": "old" if row["age"] >= 50 else "young"})
    rows = p.df.collect()
    assert {r["name"] for r in rows} == {"Bill Rhodes", "Jack Lowland", "Ginger Rogers"}
    stat = p.go()
    assert stat.loaded == 3 and stat.rejected == 2


def test_prepend_step_replays_joins_and_groups(people, hobbies):
    joined = (
        people.join(hobbies, on={"id": "id"})
        .group_by("gender")
        .agg(n=__import__("pyspark.sql.functions", fromlist=["count"]).count("*"))
    )
    # prepend a step that drops Jack before the join
    p = joined.prepend_step(lambda row: None if row.get("name") == "Jack Lowland" else row)
    out = {r["gender"]: r["n"] for r in p.df.collect()}
    assert out == {"male": 2, "female": 4}


def test_add_step_error_threshold_aborts(spark):
    from gratum_spark import sources

    rows = [{"i": i} for i in range(60)]
    p = sources.from_collection(spark, rows, name="boomsrc").add_step(
        "always-boom", lambda row: 1 / 0, schema="i long"
    )
    with pytest.raises(PipelineAbortException):
        p.go()


def test_closure_result_its_column_cannot_hold_is_a_script_error(spark):
    """A closure result that its declared column cannot hold exactly
    rejects that row as SCRIPT_ERROR, with a reason that names the
    column, instead of being truncated (4.5 stored as 4 in a long) or
    failing the task (True into a long). Rows whose results fit keep
    them."""
    from gratum_spark import sources

    rows = [{"id": i, "qty": q} for i, q in enumerate([2, 3, 4, 5])]
    p = sources.from_collection(spark, rows, "id long, qty long")
    stepped = p.add_step(lambda r: {**r, "qty": r["qty"] * 1.5})
    # 2*1.5 and 4*1.5 are whole: a long holds them exactly
    assert sorted((r["id"], r["qty"]) for r in stepped.df.collect()) == [(0, 3), (2, 6)]
    stat = stepped.go()
    assert stat.loaded == 2
    assert stat.rejections_for(RejectionCategory.SCRIPT_ERROR) == 2
    rej = stepped.rejections_df().collect()
    assert sorted(r["qty"] for r in rej) == [3, 5]  # the rows as the step received them
    assert all("'qty'" in r["rejectionReason"] for r in rej)

    flagged = p.add_step(lambda r: {**r, "qty": r["id"] == 1})
    assert flagged.go().rejections_for(RejectionCategory.SCRIPT_ERROR) == 4

    halved = p.add_field("half", lambda r: r["qty"] / 2, "long")
    assert sorted((r["id"], r["half"]) for r in halved.df.collect()) == [(0, 1), (2, 2)]
    assert halved.go().rejections_for(RejectionCategory.SCRIPT_ERROR) == 2
    reasons = {r["rejectionReason"] for r in halved.rejections_df().collect()}
    assert reasons == {"field 'half' cannot hold 1.5 as long",
                       "field 'half' cannot hold 2.5 as long"}

    with pytest.raises(Exception, match="'qty'"):
        p.flat_map(lambda r: [{"qty": r["qty"] / 2}], "qty long").df.collect()


@pytest.mark.parametrize("name", ["a.b", "c`d"])
def test_add_step_over_a_name_that_needs_quoting(spark, name):
    """A column name holding a dot or a backtick reaches the closure
    as is: the Arrow map must not look columns up by parsed name."""
    from gratum_spark import sources

    quoted = "`" + name.replace("`", "``") + "`"
    p = sources.from_collection(
        spark, [{name: 1, "g": "x"}, {name: 2, "g": "y"}], f"{quoted} long, g string"
    ).add_step("s", lambda r: {**r, "g": r["g"] + str(r[name])} if r[name] > 1 else None)
    assert [(r[name], r["g"]) for r in p.df.collect()] == [(2, "y2")]
    stat = p.go()
    assert stat.loaded == 1 and stat.rejections_for(RejectionCategory.REJECTION) == 1
    assert [r[name] for r in p.rejections_df().collect()] == [1]
    grouped = p.group_by("g").apply_in_pandas(lambda pdf: pdf, p.df.schema)
    assert [r[name] for r in grouped.df.collect()] == [2]


def test_every_public_operator_is_replayed_or_excluded():
    """prepend_step replays the recorded operator chain; an operator
    missing from _REPLAYED would be silently DROPPED from the rebuilt
    plan. Every public Pipeline method must be recorded or in the
    documented exclusion list (eager actions + replay machinery)."""
    import inspect

    from gratum_spark import pipeline as P

    eager_or_machinery = {
        # eager actions: a write/print that already happened can't be replayed
        "go", "start", "save", "json", "jsonl", "parquet", "jdbc", "print_row",
        "explain", "rejections_df",
        # replay machinery / re-rooting (group_by records via GroupedPipeline)
        "prepend_step", "group_by", "with_row_order",
    }
    for name, member in vars(P.Pipeline).items():
        if name.startswith("_") or not callable(member):
            continue
        if isinstance(inspect.getattr_static(P.Pipeline, name), (staticmethod, property)):
            continue
        assert name in P._REPLAYED or name in eager_or_machinery, (
            f"Pipeline.{name} is neither replayed nor excluded — "
            "prepend_step would drop it from rebuilt plans"
        )
