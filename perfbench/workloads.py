"""The benchmark's workloads. Each one generates its inputs from a seed,
runs one pass over them through the engine's public API, and checks the
results against a reference the engine did not compute.

Engine modules are imported inside the methods that use them, so that
input generation runs in a process that never loads Spark.
"""

from __future__ import annotations

import json
import os

from . import datagen


class Ops:
    """Operations attempted and failed in a run, and results checked and
    mismatched. An operation is one catalog query or one pipeline
    ``go()``; a result is one ``go()``'s statistic and written CSV, or one
    query's rows."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.checked = 0
        self.problems: list[str] = []
        self.mismatched = 0

    def check(self, label: str, problems: list[str]) -> None:
        self.checked += 1
        self.mismatched += bool(problems)
        self.problems += [f"{label}: {p}" for p in problems]

    def run(self, label: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - counted and reported, the run goes on
            self.failed += 1
            self.errors.append(f"{label}: {type(e).__name__}: {str(e)[:300]}")
            return None


class EtlCsv:
    """The gratum core: a dirty CSV through sources → steps → sink → go()."""

    name = "etl_csv"
    rows = 4_000

    def prepare(self, input_dir: str, seed: int) -> None:
        os.makedirs(input_dir, exist_ok=True)
        expected = datagen.etl_csv(os.path.join(input_dir, "input.csv"), seed, self.rows)
        with open(os.path.join(input_dir, "expected.json"), "w") as f:
            json.dump(expected, f)

    def load(self, input_dir: str, work_dir: str) -> None:
        self.csv = os.path.join(input_dir, "input.csv")
        self.out = os.path.join(work_dir, "out")
        with open(os.path.join(input_dir, "expected.json")) as f:
            self.expected = json.load(f)
        self.input_bytes = os.path.getsize(self.csv)

    def run_pass(self, spark, tracer, ops: Ops):
        from gratum_spark import sources

        steps = [
            ("trim", lambda p: p.trim()),
            ("as_int", lambda p: p.as_int("qty")),
            ("as_double", lambda p: p.as_double("price")),
            ("as_date", lambda p: p.as_date("day", *datagen.ETL_DATE_FORMATS)),
            ("filter", lambda p: p.filter({"status": datagen.ETL_STATUSES_KEPT}, name="status")),
            ("add_step", lambda p: p.add_step("total", datagen.total_step)),
            ("unique", lambda p: p.unique("id")),
        ]

        def load():
            with tracer.span("sources.csv", "sources"):
                p = sources.csv(spark, self.csv, ordered=True, name="etl")
            for name, step in steps:
                with tracer.span(f"pipeline.{name}", "pipeline"):
                    p = step(p)
            with tracer.span("sinks.save", "sinks") as save:
                saved = p.save(self.out)
            if save is not None:
                save.counts["bytes_written"] = _dir_bytes(self.out)
            with tracer.span("rejections.go", "rejections"):
                return saved.go()

        with tracer.span("etl"):
            return ops.run("etl", load)

    def verify(self, stat, ops: Ops) -> None:
        if stat is None:
            return  # the failure is already counted
        exp = self.expected
        problems = []
        if stat.loaded != exp["loaded"]:
            problems.append(f"loaded {stat.loaded} != {exp['loaded']}")
        if stat.rejections != exp["rejections"]:
            problems.append(f"rejections {stat.rejections} != {exp['rejections']}")
        try:
            n, checksum = datagen.written_csv_checksum(self.out)
        except (ValueError, KeyError, IndexError) as e:
            problems.append(f"written CSV unreadable: {type(e).__name__}: {e}")
        else:
            if (n, checksum) != (exp["loaded"], exp["checksum"]):
                problems.append(f"written rows/checksum {n}/{checksum} != "
                                f"{exp['loaded']}/{exp['checksum']}")
        ops.check("etl", problems)

    def reference(self, spark, ops: Ops) -> None:
        pass


class Catalog:
    """Catalog queries: each is built with ``QUERIES[name][0](spark, dir)``
    and executed by a noop write. The reference is each query's DuckDB
    oracle, checked after the timed passes.

    Two families share the pass. The relational query does JVM join,
    aggregate and shuffle work with a tiny output and launches no jobs
    while its plan is built; the stream runs at build time. The curation
    query runs eager materialization jobs while its plan is built, and its
    pandas UDFs put work in Python workers."""

    name = "catalog_sf001"
    sf = 0.01
    queries = [
        "q5_region_revenue",
        "stream_tumbling_counts",
        "dedup_minhash_verified",
    ]
    streaming = {"stream_tumbling_counts"}

    def prepare(self, input_dir: str, seed: int) -> None:
        datagen.catalog_tables(input_dir, seed, self.sf)

    def load(self, input_dir: str, work_dir: str) -> None:
        self.dir = input_dir
        self.input_bytes = _dir_bytes(input_dir)

    def run_pass(self, spark, tracer, ops: Ops) -> dict:
        from gratum_spark.plans.queries import QUERIES

        results = {}
        for q in self.queries:
            build = QUERIES[q][0]
            layer = "streaming" if q in self.streaming else "plans"

            def one():
                with tracer.span("build", layer):
                    df = build(spark, self.dir)
                with tracer.span("action", "plans"):
                    df.write.format("noop").mode("overwrite").save()
                return df

            with tracer.span(q):
                results[q] = ops.run(q, one)
        return results

    def verify(self, results: dict, ops: Ops) -> None:
        self.last = results

    def reference(self, spark, ops: Ops) -> None:
        """Collect the last pass's results and compare them with the
        oracles, untimed. Collecting re-runs only each query's final plan:
        the eager cuts its build made are still materialized."""
        import duckdb

        from gratum_spark.plans.queries import QUERIES

        compare = _repo_compare()
        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.dir, t)}.parquet'")
            for q, df in self.last.items():
                if df is None:
                    continue  # the failure is already counted
                try:
                    got = df.toPandas()
                except Exception as e:  # noqa: BLE001 - a result that cannot be read differs
                    ops.check(q, [f"collect raised {type(e).__name__}: {str(e)[:300]}"])
                    continue
                ops.check(q, compare(q, got, con.sql(QUERIES[q][1]).df()))
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (EtlCsv, Catalog)}


def prepare(name: str, seed: int, input_dir: str) -> None:
    """Generate a workload's inputs (run in its own process)."""
    WORKLOADS[name]().prepare(input_dir, seed)


def _dir_bytes(path: str) -> int:
    return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())


def _repo_compare():
    """The oracle comparison of tools/check_correctness.py, so the
    benchmark checks results exactly the way the correctness gate does."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare
