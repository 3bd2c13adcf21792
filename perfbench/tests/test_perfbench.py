"""The benchmark's own tests: seeded inputs, metric names and span
self time. They need no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import datagen, run
from perfbench.trace import _STAGE_FIELDS, Span, Tracer, self_time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _etl(tmp_path, seed):
    path = tmp_path / f"s{seed}-{len(list(tmp_path.iterdir()))}.csv"
    expected = datagen.etl_csv(str(path), seed, 500)
    return path.read_bytes(), expected


def test_etl_csv_same_seed_same_bytes_and_counts(tmp_path):
    a_bytes, a_exp = _etl(tmp_path, 7)
    b_bytes, b_exp = _etl(tmp_path, 7)
    assert a_bytes == b_bytes
    assert a_exp == b_exp


def test_etl_csv_other_seed_other_bytes_and_counts(tmp_path):
    a_bytes, a_exp = _etl(tmp_path, 7)
    b_bytes, b_exp = _etl(tmp_path, 8)
    assert a_bytes != b_bytes
    assert a_exp != b_exp


def test_etl_csv_counts_add_up(tmp_path):
    data, exp = _etl(tmp_path, 3)
    rows = data.decode().count("\n") - 1  # header line
    rejected = sum(n for steps in exp["rejections"].values() for n in steps.values())
    assert exp["loaded"] + rejected == rows
    # every planted defect class is present
    steps = {s for by_step in exp["rejections"].values() for s in by_step}
    assert steps == {step for _, step in datagen.ETL_STEPS}


def test_catalog_tables_same_seed_same_bytes(tmp_path):
    datagen.catalog_tables(str(tmp_path / "a"), 5, 0.0005)
    datagen.catalog_tables(str(tmp_path / "b"), 5, 0.0005)
    datagen.catalog_tables(str(tmp_path / "c"), 6, 0.0005)
    for t in datagen.TABLES:
        a = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{t}.parquet").read_bytes()
    assert (tmp_path / "a" / "lineitem.parquet").read_bytes() != (
        tmp_path / "c" / "lineitem.parquet").read_bytes()


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _traced_pass_metrics() -> dict:
    """pass_layers over a hand-built pass holding a span of every layer."""
    tracer = Tracer()
    spans = [Span(0, "pass", None, None, 0, 0.0, 10.0, stages=(0, 2)),
             Span(1, "q", None, 0, 0, 0.0, 10.0)]
    for i, (name, layer) in enumerate([
        ("sources.csv", "sources"), ("pipeline.trim", "pipeline"), ("sinks.save", "sinks"),
        ("rejections.go", "rejections"), ("build", "plans"), ("action", "plans"),
        ("build", "streaming"),
    ]):
        spans.append(Span(len(spans), name, layer, 1, 0, float(i), i + 1.0, jobs=(i, i + 1)))
    spans[4].counts["bytes_written"] = 10
    tracer.spans = spans
    row = {k: 1 for k in _STAGE_FIELDS} | {"median_task_s": 1.0, "max_task_s": 2.0}
    tracer.stage_metrics = {0: row, 1: row}

    class Wl:
        input_bytes = 4

    return run.pass_layers(tracer, spans[0], Wl())


def test_metric_names_are_valid_and_declared():
    spec = _spec()
    declared = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    produced = set(run.END_TO_END) | set(_traced_pass_metrics()["metrics"]) | {
        "session.get_spark_s"}
    for name in produced:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name
    assert {m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END)
    assert declared <= produced
    assert produced - declared <= {"streaming.run_jobs"}


def test_pass_layers_sums_and_coverage():
    out = _traced_pass_metrics()
    m = out["metrics"]
    assert m["plans.build_s"] == pytest.approx(1.0)
    assert m["plans.action_jobs"] == 1
    assert m["sinks.bytes_written"] == 10
    assert m["exec.stages"] == 2 and m["exec.task_skew"] == pytest.approx(2.0)
    assert m["sources.read_amplification"] == pytest.approx(0.5)
    assert out["phase_coverage"] == pytest.approx(0.7)


def test_self_time_subtracts_covered_child_time():
    parent = Span(0, "p", None, None, 0, 0.0, 10.0)
    kids = [
        Span(1, "a", None, 0, 0, 1.0, 3.0),
        Span(2, "b", None, 0, 0, 2.0, 5.0),    # overlaps a: [1, 5] counted once
        Span(3, "c", None, 0, 0, 8.0, 12.0),   # runs past the parent: [8, 10]
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_time(parent, []) == pytest.approx(10.0)
    assert self_time(kids[0], []) == pytest.approx(2.0)
