"""Physical-plan audit: summarize the plan shape of every bench
headline query into PLANS.md — scans, exchanges (data vs broadcast),
join strategies, Python boundary usage, and single-partition stages —
so plan quality is reviewable as a committed artifact, not only
assertable by running tests/test_plan_quality.py.

Plan-only (explain, no execution): runs in ~a minute.

Flags (the "would this survive 100x?" heuristics):
  - SINGLE-PARTITION: a data-sized Exchange to SinglePartition — the
    classic scale killer. Exempted: a SinglePartition exchange whose
    consumer is a global scalar aggregate (HashAggregate, Keys: []) —
    that moves one partial row per task (the corpus-total /
    per-partition-total pattern), the prefix-sum partition-totals
    digest (one row per partition, marked by the engine's __pid__
    column), and plans whose output is a bounded top-k.
  - ROW-PYTHON: BatchEvalPython (row-at-a-time UDF) anywhere — the
    engine's contract is Arrow-batched or JVM-only.

Usage: PYTHONPATH=/root/repo python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gratum_spark.session import get_spark


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def summarize(plan: str) -> dict[str, object]:
    body = plan.split("== Physical Plan ==")[1] if "== Physical Plan ==" in plan else plan
    lines = body.splitlines()
    n_scan = body.count("(1) Scan parquet") + sum(
        1 for l in lines if re.match(r"^\(\d+\) Scan parquet", l.strip()) and "(1)" not in l
    )
    # count node headers per operator kind
    def nodes(name: str) -> int:
        return sum(1 for l in lines if re.match(rf"^\(\d+\) {name}\b", l.strip()))

    data_exchanges = 0
    single_part = 0
    for i, l in enumerate(lines):
        if re.match(r"^\(\d+\) Exchange$", l.strip()):
            args = next((x for x in lines[i + 1 :] if "Arguments:" in x), "")
            data_exchanges += 1
            if "SinglePartition" in args:
                # a SinglePartition exchange whose consumer is a global
                # scalar aggregate (HashAggregate with Keys: []) moves a
                # constant number of partial rows, not data — the 1-row
                # corpus-total / per-partition-total pattern. Find the
                # next node block and check its Keys.
                nxt = i + 1
                while nxt < len(lines) and not re.match(r"^\(\d+\) ", lines[nxt].strip()):
                    nxt += 1
                block = "\n".join(lines[nxt : nxt + 6])
                scalar_agg = bool(
                    re.match(r"^\(\d+\) (HashAggregate|SortAggregate)", lines[nxt].strip())
                    if nxt < len(lines)
                    else False
                ) and "Keys: []" in block
                # the prefix-sum partition-totals digest flows one row
                # per partition (engine convention: a __pid__ column) —
                # bounded by cluster width, not data
                inp = next((x for x in lines[i + 1 :] if "Input" in x), "")
                pid_digest = "__pid__" in inp
                if not scalar_agg and not pid_digest:
                    single_part += 1
    return {
        "scans": nodes("Scan parquet"),
        "exchanges": data_exchanges,
        "single_part": single_part,
        "bcast": nodes("BroadcastExchange"),
        "bhj": nodes("BroadcastHashJoin") + nodes("BroadcastNestedLoopJoin"),
        "smj": nodes("SortMergeJoin") + nodes("ShuffledHashJoin"),
        "window": nodes("Window"),
        "arrow_py": nodes("ArrowEvalPython")
        + nodes("MapInPandas")
        + nodes("MapInArrow")
        + nodes("FlatMapGroupsInPandas")
        + nodes("FlatMapGroupsInArrow"),
        "row_py": nodes("BatchEvalPython"),
        "topk": nodes("TakeOrderedAndProject"),
        "expand": nodes("Expand"),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import bench
    from gratum_spark.plans.queries import QUERIES

    spark = get_spark("plan-audit")
    rows = []
    for name in bench.HEADLINE:
        fn, _ = QUERIES[name]
        try:
            s = summarize(plan_of(fn(spark, sf_dir)))
        except Exception as exc:  # streaming queries execute on build
            rows.append((name, None, f"(not plan-only: {type(exc).__name__})"))
            continue
        flags = []
        if s["single_part"] and not s["topk"]:
            flags.append("SINGLE-PARTITION")
        if s["row_py"]:
            flags.append("ROW-PYTHON")
        rows.append((name, s, " ".join(flags)))

    out = [
        "# PLANS — physical-plan audit of the bench headline set",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}` (plan-only, no",
        "execution). Columns: parquet scans / data exchanges (of which",
        "single-partition) / broadcast exchanges / broadcast joins /",
        "shuffle joins / window ops / Arrow-Python ops / row-Python ops /",
        "top-k nodes / Expand nodes. Flags: SINGLE-PARTITION = DATA-SIZED",
        "single-partition exchange (scalar-total aggregates, the",
        "prefix-sum per-partition digest, and top-k outputs are exempt);",
        "ROW-PYTHON = row-at-a-time Python UDF. The engine forbids both",
        "in hot paths.",
        "",
        "| query | scans | exch (1-part) | bcast | bjoin | sjoin | win | arrowPy | rowPy | topk | expand | flags |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    n_flagged = 0
    for name, s, flags in rows:
        if s is None:
            out.append(f"| {name} | — | — | — | — | — | — | — | — | — | — | {flags} |")
            continue
        if flags:
            n_flagged += 1
        out.append(
            f"| {name} | {s['scans']} | {s['exchanges']} ({s['single_part']}) | "
            f"{s['bcast']} | {s['bhj']} | {s['smj']} | {s['window']} | "
            f"{s['arrow_py']} | {s['row_py']} | {s['topk']} | {s['expand']} | {flags} |"
        )
    out.append("")
    out.append(f"Flagged queries: {n_flagged}.")
    out.append("")
    path = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print("\n".join(out[-5:]))
    print(f"wrote {os.path.abspath(path)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
