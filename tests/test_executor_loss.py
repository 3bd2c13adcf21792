"""Executor loss after the plan's ``materialize`` cuts ran, on a
two-executor ``local-cluster``.

One process holds one SparkContext, so the cluster runs in a child
process (this file run as a script). The child builds each query, which
runs its eager cuts, kills an executor that holds a block of the newest
cut, waits until the executor is gone, and only then runs the action.

- With a checkpoint dir set, every cut is replayable from the dir:
  graph_pagerank, dedup_cluster_cc and dedup_minhash_verified still
  match their DuckDB oracles.
- With no dir, the cut is a ``localCheckpoint`` whose blocks died with
  the executor: the query fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND,
  the documented default.

The child stops its session in a ``finally`` block, and the parent
kills the child's whole process group (driver, executor JVMs, Python
workers) when it exits or times out.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ("graph_pagerank", "dedup_cluster_cc", "dedup_minhash_verified")
CHILD_TIMEOUT_S = 480


def _seq(s) -> list:
    """A Scala Seq from py4j as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _wait(cond, what: str, timeout_s: float = 90.0) -> None:
    end = time.monotonic() + timeout_s
    while not cond():
        if time.monotonic() > end:
            raise TimeoutError(what)
        time.sleep(0.2)


def _victim(jsc) -> tuple[str, str]:
    """(executor id, how it was chosen). The executor holding the most
    blocks of the newest RDD in the storage list; with no checkpoint dir
    that is the newest ``localCheckpoint`` cut. An eager reliable cut
    leaves no block behind, so the fallback is the executor that ran the
    most tasks, the likeliest to have computed the cut."""
    stored = [r for r in _seq(jsc.statusStore().rddList(True)) if r.partitions().isDefined()]
    if stored:
        newest = max(stored, key=lambda r: r.id())
        held: dict[str, int] = {}
        for p in _seq(newest.partitions().get()):
            for ex in _seq(p.executors()):
                held[ex] = held.get(ex, 0) + 1
        if held:
            return max(held, key=held.get), "block"
    alive = set(_seq(jsc.getExecutorIds()))
    summaries = [e for e in _seq(jsc.statusStore().executorList(True)) if e.id() in alive]
    return max(summaries, key=lambda e: e.completedTasks()).id(), "tasks"


def _run_after_kill(spark, con, name: str, sf_dir: str) -> dict:
    import __spark_entry__ as entry
    from tools.check_correctness import compare

    jsc = spark.sparkContext._jsc.sc()
    _wait(lambda: len(_seq(jsc.getExecutorIds())) >= 2, "two executors")
    sdf = entry.queries()[name](spark, sf_dir)  # runs the eager cuts
    victim, chosen_by = _victim(jsc)
    jsc.killAndReplaceExecutor(victim)
    _wait(lambda: victim not in _seq(jsc.getExecutorIds()), f"executor {victim} gone")
    out = {"victim": victim, "chosen_by": chosen_by}
    try:
        got = sdf.toPandas()
    except Exception as e:  # noqa: BLE001 - the verdict is the message
        out["error"] = str(e)[:4000]
        return out
    out["problems"] = compare(name, got, con.sql(entry.oracle_sql()[name]).df())
    return out


def _child(sf_dir: str, ckdir: str) -> None:
    sys.path.insert(0, REPO)
    os.environ["SPARK_GRAFT_MASTER"] = "local-cluster[2,1,1024]"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    import duckdb

    from gratum_spark.session import get_spark
    from tools.check_correctness import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    spark = get_spark("executor-loss")
    try:
        sc = spark.sparkContext
        results = {}
        sc.setCheckpointDir(ckdir)
        for name in QUERIES:
            results[name] = _run_after_kill(spark, con, name, sf_dir)
        # no public unset: clear the Scala-side Option
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
        results["no_dir"] = _run_after_kill(spark, con, "graph_pagerank", sf_dir)
        print("RESULT " + json.dumps(results), flush=True)
    finally:
        spark.stop()


def test_materialize_cuts_survive_executor_loss_with_checkpoint_dir(sf_dir):
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    with tempfile.TemporaryDirectory(prefix="executor-loss-") as tmp:
        env = {**os.environ, "PYTHONPATH": REPO, "PYSPARK_PYTHON": sys.executable}
        proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), sf01, os.path.join(tmp, "ck")],
            cwd=tmp,
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
            start_new_session=True,
        )
        try:
            stdout, stderr = proc.communicate(timeout=CHILD_TIMEOUT_S)
        finally:
            # the executor JVMs and Python workers share the child's group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.communicate()
    lines = [ln for ln in stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, stderr[-4000:]
    results = json.loads(lines[-1][len("RESULT "):])
    for name in QUERIES:
        r = results[name]
        assert "error" not in r, (name, r)
        assert r["problems"] == [], (name, r)
    no_dir = results["no_dir"]
    assert no_dir["chosen_by"] == "block", no_dir
    assert "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in no_dir.get("error", ""), no_dir


if __name__ == "__main__":
    _child(sys.argv[1], sys.argv[2])
