"""Randomized-semantics fuzz campaigns: engine vs sequential reference
models (committed form of the r5 one-off campaigns that caught the
fill-down mixed-falsy bug and the CSV save/read quote roundtrip bug).

Each campaign generates random inputs, runs the engine operator, and
compares against an independent sequential Python model of the
reference's semantics (Pipeline.groovy). Seedable and sized from the
command line so any round can re-run the full campaign in one command:

    python tools/fuzz_semantics.py                  # all campaigns, default N
    python tools/fuzz_semantics.py --campaign fill_down --n 100 --seed 7
    python tools/fuzz_semantics.py --campaign csv_roundtrip

Campaigns
---------
fill_down       fill_down_by (decider AND key_columns forms) vs the
                sequential fill recurrence (Pipeline.groovy:437-455):
                final(i) = orig(i) if non-falsy else final(i-1); Groovy
                falsy = null/""/0. Mixed falsy values and falsy prefixes
                are the historical bug surface.
flatten_window  consecutive-run grouping (Pipeline.groovy:1284-1313) vs
                a sequential runs model; small alphabet + None forces
                runs across range-partition boundaries (None==None is
                one run, Groovy ==).
csv_roundtrip   save() -> csv() byte-preservation for quotes, commas,
                embedded newlines, field whitespace, unicode. None and
                "" both write as an empty cell and read back null —
                normalized on both sides (documented collapse).
jsonl_roundtrip jsonl() -> json_source round-trip for the same alphabet
                (JSON distinguishes null from "" — no normalization).
unique_filter   unique() first-wins in play order + every filter(Map)
                Condition form (literal/IN/regex/closure/conjunction/"*")
                vs sequential models, including LoadStatistic reject
                counts; null keys and SQL null-fails-literal semantics.
join            inner (unmatched-left rejects counted) and left-outer
                (null-filled, 1-N multiply, left-wins column collision)
                vs a sequential model; None keys match nothing.
prefix_sum      global_prefix_sum / pack_sequences (distributed range
                shuffle + totals broadcast) vs the sequential running
                sum; random capacities and zero-heavy weights.
collapse_repeats  consecutive-unit collapse vs the sequential unit walk.
mixture         mixture_sample vs an exact (key, epoch) multiset model
                including the hex-threshold fractional draw.
bm25            bm25_topk vs the textbook formula; rank consistency.
resample        resample_interpolate vs a sequential grid replay
                (extent, exact hits, interpolation, tail fill).
duplicate_spans exact-substring span dedup + rewrite vs a sequential
                window-count/island-merge model.
perplexity      lm_score vs a sequential smoothed bigram model
                (micro-nat average, short/empty docs).
pagerank        both modes vs a sequential power iteration on small
                nasty graphs (self-loops, hub skew, sinks).
asof            asof_join vs a per-row scan (backward/forward ×
                exact-match on/off, unmatched nulls).
connected_components  vs union-find with min-label canonicalization.
interval_join   interval_join_bucketed vs brute-force containment.
coercions       trim / as_boolean / replace_values / defaults /
                as_int / as_double / as_date vs the reference truth
                tables (Java parse contracts, case-sensitive boolean
                switch, Groovy elvis substitution, <= U+0020 trim,
                strict date resolution) with LoadStatistic
                loaded/rejected accounting.
fill_down_ckpt / prefix_sum_ckpt / connected_components_ckpt /
pagerank_ckpt   same trials as their base campaigns but with a
                checkpoint dir set, driving the replayable
                persist().checkpoint() cluster branch.

On failure the campaign prints the trial seed and the minimal
input/expected/got triple, and the process exits non-zero.
"""

from __future__ import annotations

import argparse
import datetime
import math
import os
import random
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FALSY = (None, "", 0)

# deliberately nasty string alphabet: quotes, separators, CR/LF,
# whitespace edges, unicode, RFC-4180 corner shapes
NASTY = [
    "plain", "  lead", "trail  ", " both ", 'qu"ote', '""', 'a,b', "a\nb",
    "a\r\nb", "\n", ",", '"', 'end"', '"start', "héllo wörld", "日本語",
    "tab\there", "semi;colon", "a'b", '=formula', "0", "-1.5", "null",
]


def _spark():
    from gratum_spark.session import get_spark

    return get_spark("fuzz-semantics")


# --------------------------------------------------------------- fill_down


def _seq_fill(rows: list[dict], cols: list[str], run_of: list[int]) -> list[dict]:
    """Reference recurrence per run: falsy cell takes the previous row's
    FILLED value (unconditional row[col] = previousRow[col],
    Pipeline.groovy:443-449); a falsy prefix keeps its original value."""
    out: list[dict] = []
    prev: dict | None = None
    prev_run = None
    for r, run in zip(rows, run_of):
        cur = dict(r)
        if prev is not None and run == prev_run:
            for c in cols:
                if cur[c] in FALSY:
                    cur[c] = prev[c]
        out.append(cur)
        prev, prev_run = cur, run
    return out


def fuzz_fill_down(spark, n: int, seed: int) -> list[str]:
    from gratum_spark import sources

    failures = []
    for t in range(n):
        rng = random.Random(seed * 100_003 + t)
        size = rng.randint(1, 40)
        rows = [
            {
                "i": i,
                "g": rng.choice(["p", "q", "r"]),
                "x": rng.choice([None, "", "a", "b", "c"]),
                "y": rng.choice([None, 0, 1, 2, 3]),
            }
            for i in range(size)
        ]
        schema = "i long, g string, x string, y long"

        # decider form: runs break where adjacent g differs
        run_of, run = [0], 0
        for a, b in zip(rows, rows[1:]):
            if b["g"] != a["g"]:
                run += 1
            run_of.append(run)
        expected = _seq_fill(rows, ["x", "y"], run_of)

        p = sources.from_collection(spark, rows, schema, name="fz", ordered=True)
        got = sorted(
            (r.asDict() for r in p.fill_down_by(
                lambda cur, prev: cur["g"] == prev["g"]).df.collect()),
            key=lambda r: r["i"],
        )
        for e, g in zip(expected, got):
            if (e["x"], e["y"]) != (g["x"], g["y"]):
                failures.append(
                    f"fill_down decider trial={t} seed={seed} row i={e['i']}: "
                    f"expected (x={e['x']!r}, y={e['y']!r}) got "
                    f"(x={g['x']!r}, y={g['y']!r}) rows={rows}"
                )
                break

        # key_columns form: one "run" per key value over source order
        key_ids = {k: j for j, k in enumerate(dict.fromkeys(r["g"] for r in rows))}
        by_key: dict[str, list[int]] = {}
        krun_of = []
        for r in rows:
            by_key.setdefault(r["g"], []).append(r["i"])
            krun_of.append(key_ids[r["g"]])
        k_sorted = sorted(rows, key=lambda r: (krun_of[r["i"]], r["i"]))
        k_expected = _seq_fill(
            k_sorted, ["x", "y"], [krun_of[r["i"]] for r in k_sorted]
        )
        k_expected.sort(key=lambda r: r["i"])
        got_k = sorted(
            (r.asDict() for r in p.fill_down_by(["g"]).df.collect()),
            key=lambda r: r["i"],
        )
        for e, g in zip(k_expected, got_k):
            if (e["x"], e["y"]) != (g["x"], g["y"]):
                failures.append(
                    f"fill_down keys trial={t} seed={seed} row i={e['i']}: "
                    f"expected (x={e['x']!r}, y={e['y']!r}) got "
                    f"(x={g['x']!r}, y={g['y']!r}) rows={rows}"
                )
                break
        if failures:
            break
    return failures


# ----------------------------------------------------------- flatten_window


def fuzz_flatten_window(spark, n: int, seed: int) -> list[str]:
    from gratum_spark import sources

    failures = []
    for t in range(n):
        rng = random.Random(seed * 200_003 + t)
        size = rng.randint(1, 60)
        vals = [rng.choice([None, "a", "b"]) for _ in range(size)]
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
            return pdf.groupby("g", as_index=False, dropna=False).agg(
                n=("i", "count")
            )

        p = sources.from_collection(
            spark, rows, "i long, g string", name="fzw", ordered=True
        ).flatten_window("g", summarize, "g string, n long", order_by="i")
        key = lambda p_: (p_[0] is None, p_[0] or "", p_[1])  # noqa: E731
        got = sorted(((r["g"], r["n"]) for r in p.df.collect()), key=key)
        want = sorted(expected, key=key)
        if got != want:
            failures.append(
                f"flatten_window trial={t} seed={seed}: expected {want} "
                f"got {got} vals={vals}"
            )
            break
    return failures


# -------------------------------------------------------------- roundtrips


def _rand_rows(rng: random.Random, size: int) -> list[dict]:
    return [
        {
            "id": i,
            "a": rng.choice(NASTY + [None]),
            "b": rng.choice(NASTY),
            "num": rng.choice([None, 0, -7, 123456789, rng.randint(-10**6, 10**6)]),
        }
        for i in range(size)
    ]


def fuzz_csv_roundtrip(spark, n: int, seed: int) -> list[str]:
    from gratum_spark import sources

    # CSV cannot distinguish null from "" (both are an empty cell);
    # everything else must survive byte-for-byte
    norm = lambda v: None if v in (None, "") else str(v)  # noqa: E731
    failures = []
    tmp = tempfile.mkdtemp(prefix="fuzz_csv_")
    try:
        for t in range(n):
            rng = random.Random(seed * 300_007 + t)
            rows = _rand_rows(rng, rng.randint(1, 25))
            path = os.path.join(tmp, f"trial{t}")
            p = sources.from_collection(
                spark, rows, "id long, a string, b string, num long", name="fzc"
            )
            p.save(path)
            back = {
                int(r["id"]): r
                for r in sources.csv(spark, path).df.collect()
            }
            if len(back) != len(rows):
                failures.append(
                    f"csv trial={t} seed={seed}: {len(rows)} rows in, "
                    f"{len(back)} out"
                )
                break
            for r in rows:
                g = back[r["id"]]
                for c in ("a", "b", "num"):
                    if norm(r[c]) != norm(g[c]):
                        failures.append(
                            f"csv trial={t} seed={seed} id={r['id']} col={c}: "
                            f"wrote {r[c]!r} read {g[c]!r}"
                        )
                        break
                if failures:
                    break
            if failures:
                break
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return failures


def fuzz_csv_splits(spark, n: int, seed: int) -> list[str]:
    """Multi-split CSV reads (r8 verdict task 5): csv_roundtrip writes
    1-25-row files, which never exercises the splittable read across
    MULTIPLE FilePartitions. Here each trial writes 100s-of-KB-to-MB
    files and forces tiny spark.sql.files.maxPartitionBytes so block
    boundaries land mid-record. Three shapes, round-robin:

    * split — quoted commas/quotes but NO embedded newlines: the sniffer
      must prove multiLine=False and the scan must actually run
      multi-partition, with every record (including ones straddling a
      block boundary) surviving byte-for-byte;
    * embedded — a >1 MiB file WITH newlines inside quoted fields: too
      big for the driver-side sniff, so the DISTRIBUTED odd-quote-line
      check must flip the read to multiLine single-split;
    * noescape — the escaping=False raw-line path over a multi-file dir
      with several splits per file: the offset-anchored per-file header
      drop must remove exactly one header per file while keeping planted
      mid-file lines that look exactly like the header."""
    import csv as _csv

    from gratum_spark import sources

    norm = lambda v: None if v in (None, "") else str(v)  # noqa: E731
    failures = []
    tmp = tempfile.mkdtemp(prefix="fuzz_csvsplit_")
    conf = spark.conf
    old_mpb = conf.get("spark.sql.files.maxPartitionBytes")
    old_open = conf.get("spark.sql.files.openCostInBytes")
    try:
        for t in range(n):
            rng = random.Random(seed * 510_017 + t)
            shape = ("split", "embedded", "noescape")[t % 3]
            path = os.path.join(tmp, f"t{t}")
            os.makedirs(path)
            conf.set(
                "spark.sql.files.maxPartitionBytes",
                str(rng.choice([32, 64, 128]) * 1024),
            )
            conf.set("spark.sql.files.openCostInBytes", "0")

            if shape in ("split", "embedded"):
                nrows = rng.randint(3000, 6000)
                fill_len = (180, 240) if shape == "embedded" else (60, 160)
                pool = ["plain", "with,comma", 'with "quote"', 'q" mid',
                        "", "x" * rng.randint(1, 40)]
                if shape == "embedded":
                    pool += ["line1\nline2", "a\n\nb", ',"\n,']
                rows = [
                    (
                        i,
                        rng.choice(pool),
                        "".join(
                            rng.choice('abcdefgh," ')
                            for _ in range(rng.randint(*fill_len))
                        ),
                    )
                    for i in range(nrows)
                ]
                nfiles = 1 if shape == "embedded" else rng.randint(1, 3)
                per = (len(rows) + nfiles - 1) // nfiles
                for fi in range(nfiles):
                    with open(os.path.join(path, f"part{fi}.csv"), "w",
                              newline="") as fh:
                        w = _csv.writer(fh, lineterminator="\n")
                        w.writerow(["id", "a", "filler"])
                        w.writerows(rows[fi * per:(fi + 1) * per])
                if shape == "embedded":
                    # must exceed the driver-side sniff window (1 MiB) so
                    # the DISTRIBUTED odd-quote path decides — top up with
                    # extra rows until it does
                    f0 = os.path.join(path, "part0.csv")
                    with open(f0, "a", newline="") as fh:
                        w = _csv.writer(fh, lineterminator="\n")
                        while os.path.getsize(f0) <= 1_048_576:
                            extra = (len(rows), rng.choice(pool),
                                     "pad," * 60)
                            w.writerow(extra)
                            rows.append(extra)
                            fh.flush()
                    nrows = len(rows)
                pl = sources.csv(spark, path, schema="id long, a string, filler string")
                nparts = pl.df.rdd.getNumPartitions()
                if shape == "split" and nparts < 2:
                    failures.append(
                        f"csv_splits trial={t} seed={seed}: splittable read "
                        f"ran {nparts} partition(s) — boundary never exercised"
                    )
                    break
                back = {r["id"]: r for r in pl.df.collect()}
                if len(back) != nrows:
                    failures.append(
                        f"csv_splits trial={t} seed={seed} shape={shape}: "
                        f"{nrows} rows in, {len(back)} out ({nparts} parts)"
                    )
                    break
                bad = next(
                    (
                        (i, c, rows[i][j], back[i][c])
                        for i, _a, _f in rows
                        for j, c in ((1, "a"), (2, "filler"))
                        if norm(rows[i][j]) != norm(back[i][c])
                    ),
                    None,
                )
                if bad:
                    failures.append(
                        f"csv_splits trial={t} seed={seed} shape={shape} "
                        f"id={bad[0]} col={bad[1]}: wrote {bad[2]!r} read {bad[3]!r}"
                    )
                    break
            else:  # noescape: raw-line path, per-file positional header drop
                nrows = rng.randint(4000, 8000)
                safe = "abcdefghij0123456789_ "
                rows = [
                    (
                        i,
                        rng.choice(["a", "id", "val",  # == header tokens
                                    "".join(rng.choice(safe) for _ in range(12))]),
                        "".join(rng.choice(safe) for _ in range(rng.randint(20, 60))),
                    )
                    for i in range(nrows)
                ]
                nfiles = rng.randint(2, 4)
                per = (len(rows) + nfiles - 1) // nfiles
                n_planted = 0
                for fi in range(nfiles):
                    chunk = rows[fi * per:(fi + 1) * per]
                    with open(os.path.join(path, f"f{fi}.csv"), "w") as fh:
                        fh.write("id,a,b\n")
                        for j, (i, a, b) in enumerate(chunk):
                            fh.write(f"{i},{a},{b}\n")
                            # plant lines IDENTICAL to the header mid-file:
                            # the positional drop must keep them
                            if rng.random() < 0.001 or (j == len(chunk) // 2):
                                fh.write("id,a,b\n")
                                n_planted += 1
                pl = sources.csv(spark, path, escaping=False)
                # the pipeline DF ends in a per-file window (shuffled, so
                # its getNumPartitions reflects AQE, not the scan) — prove
                # the SCAN actually split by counting distinct file blocks
                # under the same conf
                nparts = (
                    spark.read.text(path)
                    .select("_metadata.file_path", "_metadata.file_block_start")
                    .distinct()
                    .count()
                )
                got = pl.df.collect()
                headerish = sum(1 for r in got if r["id"] == "id")
                back = {int(r["id"]): r for r in got if r["id"] != "id"}
                if nparts < nfiles + 1:
                    failures.append(
                        f"csv_splits trial={t} seed={seed} noescape: only "
                        f"{nparts} file blocks for {nfiles} files — splits "
                        f"never crossed a file"
                    )
                    break
                if headerish != n_planted or len(back) != nrows:
                    failures.append(
                        f"csv_splits trial={t} seed={seed} noescape: "
                        f"{len(back)}/{nrows} rows, {headerish}/{n_planted} "
                        f"planted header-lookalikes ({nparts} parts)"
                    )
                    break
                bad = next(
                    (
                        (i, rows[i][1], rows[i][2], back[i]["a"], back[i]["b"])
                        for i, _a, _b in rows
                        if (rows[i][1], rows[i][2]) != (back[i]["a"], back[i]["b"])
                    ),
                    None,
                )
                if bad:
                    failures.append(
                        f"csv_splits trial={t} seed={seed} noescape id={bad[0]}: "
                        f"wrote {bad[1:3]!r} read {bad[3:]!r}"
                    )
                    break
    finally:
        conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        conf.set("spark.sql.files.openCostInBytes", old_open)
        shutil.rmtree(tmp, ignore_errors=True)
    return failures


def fuzz_jsonl_roundtrip(spark, n: int, seed: int) -> list[str]:
    from gratum_spark import sources

    failures = []
    tmp = tempfile.mkdtemp(prefix="fuzz_jsonl_")
    try:
        for t in range(n):
            rng = random.Random(seed * 400_009 + t)
            rows = _rand_rows(rng, rng.randint(1, 25))
            path = os.path.join(tmp, f"trial{t}")
            p = sources.from_collection(
                spark, rows, "id long, a string, b string, num long", name="fzj"
            )
            p.jsonl(path)
            # the sink writes one record per line; sources.json's default
            # reads each file as one JSON document
            back = {r["id"]: r for r in sources.jsonl(spark, path).df.collect()}
            if len(back) != len(rows):
                failures.append(
                    f"jsonl trial={t} seed={seed}: {len(rows)} rows in, "
                    f"{len(back)} out"
                )
                break
            for r in rows:
                # .asDict().get: a column dropped from the files (e.g.
                # the all-null column the ignoreNullFields default ate —
                # found at seed 1307, r13) must report as a clean
                # failure, not crash the harness with a missing-field
                # Row access
                g = back[r["id"]].asDict()
                for c in ("a", "b", "num"):
                    gv = g.get(c, "<FIELD MISSING>")
                    if r[c] != gv:
                        failures.append(
                            f"jsonl trial={t} seed={seed} id={r['id']} col={c}: "
                            f"wrote {r[c]!r} read {gv!r}"
                        )
                        break
                if failures:
                    break
            if failures:
                break
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return failures


# ------------------------------------------------------------- prefix sum


def fuzz_prefix_sum(spark, n: int, seed: int) -> list[str]:
    """global_prefix_sum / pack_sequences vs the sequential running sum
    (random sizes and weights incl. zeros; many range partitions)."""
    from gratum_spark.operators.packing import pack_sequences

    failures = []
    for t in range(n):
        rng = random.Random(seed * 700_001 + t)
        size = rng.randint(1, 300)
        cap = rng.choice([1, 3, 7, 64])
        weights = [rng.choice([0, 0, 1, 2, 5, 50]) for _ in range(size)]
        rows = [{"i": i, "w": w} for i, w in enumerate(weights)]
        df = spark.createDataFrame(rows, "i long, w long")
        got = {
            r["i"]: (r["offset"], r["pack_id"], r["pack_offset"])
            for r in pack_sequences(df, "i", "w", capacity=cap).collect()
        }
        acc = 0
        for i, w in enumerate(weights):
            want = (acc, acc // cap, acc % cap)
            if got[i] != want:
                failures.append(
                    f"prefix_sum trial={t} seed={seed} cap={cap} row i={i}: "
                    f"expected {want} got {got[i]} weights={weights}"
                )
                break
            acc += w
        if failures:
            break
    return failures


# ----------------------------------------------------- unique + filter map


def fuzz_unique_filter(spark, n: int, seed: int) -> list[str]:
    """unique() first-wins in play order + filter(Map) Condition forms vs
    sequential models, including reject accounting (LoadStatistic)."""
    import re as _re

    from gratum_spark import sources

    failures = []
    for t in range(n):
        rng = random.Random(seed * 500_009 + t)
        size = rng.randint(1, 40)
        rows = [
            {
                "i": i,
                "k": rng.choice([None, "a", "b", "c"]),
                "v": rng.randint(0, 5),
            }
            for i in range(size)
        ]
        p = sources.from_collection(
            spark, rows, "i long, k string, v long", name="fzu", ordered=True
        )

        # unique("k"): first occurrence per key in source order
        seen, keep = set(), []
        for r in rows:
            if r["k"] not in seen:
                seen.add(r["k"])
                keep.append(r["i"])
        stat = p.unique("k").go()
        got = sorted(r["i"] for r in p.unique("k").df.collect())
        if got != sorted(keep) or stat.loaded != len(keep) or \
                stat.rejected != size - len(keep):
            failures.append(
                f"unique trial={t} seed={seed}: expected keep={sorted(keep)} "
                f"got {got} (loaded={stat.loaded} rejected={stat.rejected}) "
                f"rows={rows}"
            )
            break

        # filter(Map) forms: engine vs sequential row filter. SQL null
        # semantics: a null cell fails literal/IN/regex forms.
        forms = [
            ({"k": "a"}, lambda r: r["k"] == "a"),
            ({"k": ["a", "b"]}, lambda r: r["k"] in ("a", "b")),
            ({"k": _re.compile("[ab]")}, lambda r: r["k"] is not None
             and _re.search("[ab]", r["k"]) is not None),
            ({"v": lambda x: x is not None and x > 2}, lambda r: r["v"] > 2),
            ({"k": "b", "v": lambda x: x < 3}, lambda r: r["k"] == "b"
             and r["v"] < 3),
            ({"*": lambda row: row["k"] is None and row["v"] % 2 == 0},
             lambda r: r["k"] is None and r["v"] % 2 == 0),
        ]
        cond, model = forms[rng.randrange(len(forms))]
        expected_ids = sorted(r["i"] for r in rows if model(r))
        fstat = p.filter(cond).go()
        fgot = sorted(r["i"] for r in p.filter(cond).df.collect())
        if fgot != expected_ids or fstat.loaded != len(expected_ids) or \
                fstat.rejected != size - len(expected_ids):
            failures.append(
                f"filter trial={t} seed={seed} cond={cond}: expected "
                f"{expected_ids} got {fgot} (loaded={fstat.loaded} "
                f"rejected={fstat.rejected}) rows={rows}"
            )
            break
    return failures


# --------------------------------------------------------------------- join


def fuzz_join(spark, n: int, seed: int) -> list[str]:
    """join inner (unmatched-left rejects) and left-outer (null-filled,
    1-N multiply, left-wins collisions) vs a sequential model."""
    from gratum_spark import sources

    failures = []
    for t in range(n):
        rng = random.Random(seed * 600_011 + t)
        lsize, rsize = rng.randint(1, 20), rng.randint(0, 12)
        lrows = [
            {"i": i, "k": rng.choice([None, 1, 2, 3, 4]),
             "shared": f"L{i}"}
            for i in range(lsize)
        ]
        rrows = [
            {"rk": rng.choice([1, 2, 3, 4]), "extra": f"R{j}",
             "shared": f"RS{j}"}
            for j in range(rsize)
        ]
        lp = sources.from_collection(
            spark, lrows, "i long, k long, shared string", name="fzl",
            ordered=True,
        )
        rp = sources.from_collection(
            spark, rrows, "rk long, extra string, shared string", name="fzr",
            ordered=True,
        )

        # model: None key matches nothing (SQL equality); left wins on
        # the colliding "shared" column
        def matches(lr):
            return [rr for rr in rrows
                    if lr["k"] is not None and rr["rk"] == lr["k"]]

        inner_expected = sorted(
            (lr["i"], lr["shared"], rr["extra"])
            for lr in lrows for rr in matches(lr)
        )
        reject_expected = sum(1 for lr in lrows if not matches(lr))

        joined = lp.join(rp, on={"k": "rk"})
        stat = joined.go()
        got = sorted(
            (r["i"], r["shared"], r["extra"]) for r in joined.df.collect()
        )
        if got != inner_expected or stat.rejected != reject_expected:
            failures.append(
                f"join inner trial={t} seed={seed}: expected "
                f"{inner_expected} rejects={reject_expected} got {got} "
                f"rejects={stat.rejected} l={lrows} r={rrows}"
            )
            break

        louter_expected = sorted(
            [(lr["i"], lr["shared"], rr["extra"])
             for lr in lrows for rr in matches(lr)]
            + [(lr["i"], lr["shared"], None)
               for lr in lrows if not matches(lr)]
        )
        lgot = sorted(
            (r["i"], r["shared"], r["extra"])
            for r in lp.join(rp, on={"k": "rk"}, left=True).df.collect()
        )
        key = lambda p_: (p_[0], p_[1], p_[2] is None, p_[2] or "")  # noqa: E731
        if sorted(lgot, key=key) != sorted(louter_expected, key=key):
            failures.append(
                f"join left trial={t} seed={seed}: expected "
                f"{louter_expected} got {lgot} l={lrows} r={rrows}"
            )
            break
    return failures




# ------------------------------------------------- collapse_repeats


def fuzz_collapse_repeats(spark, n: int, seed: int) -> list[str]:
    """collapse_repeats vs the sequential unit walk (tiny vocab so
    consecutive repeats arise naturally; unit sizes 1-3, ragged tails)."""
    from gratum_spark.operators import text as _text

    failures = []
    for t in range(n):
        rng = random.Random(seed * 900_007 + t)
        vocab = ["a", "b", "c", "aa", "bb"]
        unit = rng.choice([1, 1, 2, 3])
        docs = []
        for d in range(rng.randint(1, 8)):
            ws = [rng.choice(vocab) for _ in range(rng.randint(1, 30))]
            docs.append({"doc_id": d, "text": " ".join(ws)})
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["id"]: (r["n_units"], r["n_kept"], r["clean_text"])
            for r in _text.collapse_repeats(df, "doc_id", "text", unit).collect()
        }
        for d in docs:
            ws = d["text"].split(" ")
            units = [" ".join(ws[i : i + unit]) for i in range(0, len(ws), unit)]
            kept = [u for i, u in enumerate(units) if i == 0 or u != units[i - 1]]
            want = (len(units), len(kept), " ".join(kept))
            if got[d["doc_id"]] != want:
                failures.append(
                    f"collapse trial={t} seed={seed} unit={unit} doc={d['doc_id']}: "
                    f"expected {want} got {got[d['doc_id']]} text={d['text']!r}"
                )
                break
        if failures:
            break
    return failures


# ------------------------------------------------- mixture_sample


def fuzz_mixture(spark, n: int, seed: int) -> list[str]:
    """mixture_sample vs the sequential epoch model (exact multiset of
    (key, epoch); random group shapes, alpha in {0, 0.3, 0.5, 1}).
    Replicates the engine's double math including the hex-threshold
    fractional draw."""
    import hashlib

    from gratum_spark.operators import sampling as _sampling

    failures = []
    for t in range(n):
        rng = random.Random(seed * 910_009 + t)
        alpha = rng.choice([0.0, 0.3, 0.5, 1.0])
        target = rng.randint(1, 400)
        rows = []
        rid = 0
        for g in range(rng.randint(1, 4)):
            for _ in range(rng.randint(1, 40)):
                rows.append({"id": rid, "g": f"g{g}"})
                rid += 1
        df = spark.createDataFrame(rows, "id long, g string")
        got = sorted(
            (r["id"], r["epoch"])
            for r in _sampling.mixture_sample(df, "g", "id", alpha, target).collect()
        )
        counts: dict[str, int] = {}
        for r in rows:
            counts[r["g"]] = counts.get(r["g"], 0) + 1
        tw = sum(c ** alpha for c in counts.values())
        expect = []
        for r in rows:
            c = counts[r["g"]]
            epochs = float(target) * (c ** alpha) / tw / float(c)
            nfull = int(math.floor(epochs))
            frc = epochs - nfull
            thr = format(int(math.floor(frc * 4294967296.0)), "08x")
            h = hashlib.md5(str(r["id"]).encode()).hexdigest()[:8]
            copies = nfull + (1 if h < thr else 0)
            expect.extend((r["id"], e) for e in range(1, copies + 1))
        if got != sorted(expect):
            failures.append(
                f"mixture trial={t} seed={seed} alpha={alpha} target={target}: "
                f"multiset mismatch ({len(got)} vs {len(expect)} rows)"
            )
            break
    return failures


# ------------------------------------------------- bm25


def fuzz_bm25(spark, n: int, seed: int) -> list[str]:
    """bm25_topk vs the textbook formula computed sequentially: per-doc
    scores within 1e-9 and the emitted ranking consistent with the
    reference scores (reduction order may differ in the last ulps, so
    near-exact ties are allowed to break either way)."""
    from gratum_spark.operators import retrieval as _retrieval

    failures = []
    for t in range(n):
        rng = random.Random(seed * 920_011 + t)
        vocab = ["red", "green", "blue", "cyan", "teal", "pink"]
        corpus = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
            for d in range(rng.randint(2, 12))
        ]
        qtext = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 3)))
        k = rng.randint(1, 6)
        docs = spark.createDataFrame(corpus, "doc_id long, text string")
        qdf = spark.createDataFrame([(0, qtext)], "query_id long, query_text string")
        out = _retrieval.bm25_topk(docs, "doc_id", "text", qdf, k=k).collect()

        toks = {d: s.split() for d, s in corpus}
        N = len(toks)
        avgdl = sum(len(v) for v in toks.values()) / N
        def score(d):
            s = 0.0
            for term in set(qtext.split()):
                tf = toks[d].count(term)
                if tf == 0:
                    continue
                dft = sum(1 for v in toks.values() if term in v)
                idf = math.log(1.0 + (N - dft + 0.5) / (dft + 0.5))
                s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(toks[d]) / avgdl))
            return s
        ref = {d: score(d) for d in toks if score(d) > 0.0}
        want_rows = min(k, len(ref))
        if len(out) != want_rows:
            failures.append(
                f"bm25 trial={t} seed={seed}: {len(out)} rows, expected {want_rows}"
            )
            break
        ok = True
        prev = None
        for r in sorted(out, key=lambda r: r["rank"]):
            d = r["doc_id"]
            if d not in ref or abs(r["score"] - ref[d]) > 1e-9:
                failures.append(
                    f"bm25 trial={t} seed={seed} doc={d}: score {r['score']} "
                    f"!= ref {ref.get(d)}"
                )
                ok = False
                break
            if prev is not None and ref[d] > prev + 1e-9:
                failures.append(
                    f"bm25 trial={t} seed={seed}: rank order violates ref scores"
                )
                ok = False
                break
            prev = ref[d]
        if not ok:
            break
    return failures




# ------------------------------------------------- resample_interpolate


def fuzz_resample(spark, n: int, seed: int) -> list[str]:
    """resample_interpolate vs a sequential replay: random per-key event
    sets (duplicate timestamps allowed only via distinct draw, second-
    aligned), random step sizes; checks grid extent, exact-hit passthrough,
    interior interpolation, and tail forward-fill."""
    import datetime as dt

    from gratum_spark.operators.timeseries import resample_interpolate

    failures = []
    base = dt.datetime(2024, 1, 1)
    for t in range(n):
        rng = random.Random(seed * 930_013 + t)
        step_min = rng.choice([7, 30, 60, 240])
        rows = []
        series: dict[int, list[tuple[dt.datetime, float]]] = {}
        for k in range(rng.randint(1, 4)):
            secs = sorted(rng.sample(range(0, 200_000), rng.randint(1, 12)))
            pts = [
                (base + dt.timedelta(seconds=s), round(rng.uniform(-5, 5), 3))
                for s in secs
            ]
            series[k] = pts
            rows.extend((k, ts, v) for ts, v in pts)
        df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
        got = {
            (r["k"], r["grid_ts"]): r["value"]
            for r in resample_interpolate(df, "k", "ts", "v", f"{step_min} minutes").collect()
        }
        expect: dict[tuple[int, dt.datetime], float] = {}
        for k, pts in series.items():
            t0, t1 = pts[0][0], pts[-1][0]
            g = t0
            while g <= t1:
                prev = max((p for p in pts if p[0] <= g), key=lambda p: p[0])
                nxt = [p for p in pts if p[0] >= g]
                if not nxt:
                    val = prev[1]
                else:
                    nx = min(nxt, key=lambda p: p[0])
                    if nx[0] == prev[0]:
                        val = prev[1]
                    else:
                        frac = (g - prev[0]).total_seconds() / (nx[0] - prev[0]).total_seconds()
                        val = prev[1] + (nx[1] - prev[1]) * frac
                expect[(k, g)] = val
                g += dt.timedelta(minutes=step_min)
        if set(got) != set(expect):
            failures.append(
                f"resample trial={t} seed={seed}: grid mismatch "
                f"({len(got)} vs {len(expect)} points)"
            )
            break
        bad = [
            kk for kk in expect if abs(got[kk] - expect[kk]) > 1e-9
        ]
        if bad:
            kk = bad[0]
            failures.append(
                f"resample trial={t} seed={seed} at {kk}: got {got[kk]} "
                f"expected {expect[kk]}"
            )
            break
    return failures


# ------------------------------------------------- duplicate spans


def fuzz_duplicate_spans(spark, n: int, seed: int) -> list[str]:
    """duplicate_spans / duplicate_span_rewrite vs the sequential model:
    enumerate every k-window, count occurrences corpus-wide, mark
    positions whose window occurs 2+ times, merge marked starts into
    maximal spans (gap > k breaks), then check span accounting AND the
    rebuilt text. Tiny vocab so real repeats (cross-doc and within-doc)
    arise naturally; k in 2-5, docs 1-8, lengths 0-30 words."""
    from gratum_spark.operators import dedup as _dedup

    failures = []
    for t in range(n):
        rng = random.Random(seed * 920_011 + t)
        k = rng.randint(2, 5)
        vocab = ["a", "b", "c", "d"][: rng.randint(2, 4)]
        docs = []
        for d in range(rng.randint(1, 8)):
            ws = [rng.choice(vocab) for _ in range(rng.randint(0, 30))]
            docs.append({"doc_id": d, "text": " ".join(ws)})
        df = spark.createDataFrame(docs, "doc_id long, text string")

        # sequential reference
        counts: dict[str, int] = {}
        toks = {}
        for d in docs:
            ws = d["text"].split(" ")  # '' -> [''] like split() in-engine
            toks[d["doc_id"]] = ws
            for i in range(len(ws) - k + 1):
                g = " ".join(ws[i : i + k])
                counts[g] = counts.get(g, 0) + 1
        expect_spans: dict[int, list[tuple[int, int]]] = {}
        for d in docs:
            ws = toks[d["doc_id"]]
            starts = [
                i
                for i in range(len(ws) - k + 1)
                if counts[" ".join(ws[i : i + k])] >= 2
            ]
            spans = []
            for p in starts:
                if spans and p <= spans[-1][0] + k:
                    spans[-1] = (p, spans[-1][1])  # extend: track last start
                else:
                    spans.append((p, p))  # (last_start, first_start)
            expect_spans[d["doc_id"]] = [
                (first, last + k - 1) for last, first in spans
            ]

        got = {
            r["id"]: r
            for r in _dedup.duplicate_spans(df, "doc_id", "text", k=k).collect()
        }
        got_rw = {
            r["id"]: r
            for r in _dedup.duplicate_span_rewrite(
                df, "doc_id", "text", k=k
            ).collect()
        }
        for d in docs:
            did = d["doc_id"]
            ws = toks[did]
            spans = expect_spans[did]
            dup_tokens = sum(e - s + 1 for s, e in spans)
            covered = {p for s, e in spans for p in range(s, e + 1)}
            clean = " ".join(w for i, w in enumerate(ws) if i not in covered)
            r = got[did]
            if (r["n_dup_spans"], r["dup_tokens"], r["n_tokens"]) != (
                len(spans),
                dup_tokens,
                len(ws),
            ):
                failures.append(
                    f"spans trial={t} seed={seed} k={k} doc={did}: expected "
                    f"{(len(spans), dup_tokens, len(ws))} got "
                    f"{(r['n_dup_spans'], r['dup_tokens'], r['n_tokens'])} "
                    f"text={d['text']!r}"
                )
                break
            rw = got_rw[did]
            if (rw["removed_tokens"], rw["clean_text"]) != (len(covered), clean):
                failures.append(
                    f"rewrite trial={t} seed={seed} k={k} doc={did}: expected "
                    f"({len(covered)}, {clean!r}) got "
                    f"({rw['removed_tokens']}, {rw['clean_text']!r}) "
                    f"text={d['text']!r}"
                )
                break
        if failures:
            break
    return failures


def fuzz_perplexity(spark, n: int, seed: int) -> list[str]:
    """lm_score vs a sequential add-0.5-smoothed bigram model: exact
    n_bigrams and row accounting, avg_nll/ppl within 2e-6 (per-term
    nll rounds to 6dp on the engine, and JVM vs libm log can differ in
    the last ulp at a round boundary, so one term may flip by 1e-6 —
    the tolerance admits that, while any real defect in smoothing,
    model joins, short-doc handling, or the micro-nat average lands
    orders of magnitude outside it). Would have caught the r8
    round-half-tie divergence as a hard engine-vs-model mismatch had
    the engine's own rounding been wrong rather than engine-specific."""
    from decimal import ROUND_HALF_UP, Decimal

    from gratum_spark.operators import text as _text

    failures = []
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    for t in range(n):
        rng = random.Random(seed * 742_019 + t)
        corpus = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 10))))
            for d in range(rng.randint(1, 14))
        ]
        docs = spark.createDataFrame(corpus, "doc_id long, text string")
        out = {
            r["id"]: r
            for r in _text.lm_score(docs, "doc_id", "text", alpha=0.5).collect()
        }

        toks = {d: (s.split(" ") if s else [""]) for d, s in corpus}
        cw: dict[str, int] = {}
        cb: dict[tuple[str, str], int] = {}
        for ws in toks.values():
            for w in ws:
                cw[w] = cw.get(w, 0) + 1
            for a, b in zip(ws, ws[1:]):
                cb[(a, b)] = cb.get((a, b), 0) + 1
        v = float(len(cw))
        ok = True
        for d, ws in toks.items():
            bigrams = list(zip(ws, ws[1:]))
            r = out.get(d)
            if r is None:
                failures.append(f"perplexity trial={t} seed={seed}: doc {d} missing")
                ok = False
                break
            if r["n_bigrams"] != len(bigrams):
                failures.append(
                    f"perplexity trial={t} seed={seed} doc={d}: n_bigrams "
                    f"{r['n_bigrams']} != {len(bigrams)}"
                )
                ok = False
                break
            if not bigrams:
                if r["avg_nll"] is not None or r["ppl"] is not None:
                    failures.append(
                        f"perplexity trial={t} seed={seed} doc={d}: short doc "
                        f"must score null, got {r['avg_nll']}"
                    )
                    ok = False
                    break
                continue
            nmicro = 0
            for a, b in bigrams:
                p = (cb[(a, b)] + 0.5) / (cw[a] + 0.5 * v)
                term = Decimal(repr(-math.log(p))).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
                nmicro += int(term * 1_000_000)
            m = len(bigrams)
            avg = ((2 * nmicro + m) // (2 * m)) / 1e6
            if abs(r["avg_nll"] - avg) > 2e-6:
                failures.append(
                    f"perplexity trial={t} seed={seed} doc={d}: avg_nll "
                    f"{r['avg_nll']} != ref {avg}"
                )
                ok = False
                break
            if abs(r["ppl"] - math.exp(avg)) > 2e-4:
                failures.append(
                    f"perplexity trial={t} seed={seed} doc={d}: ppl "
                    f"{r['ppl']} != ref {math.exp(avg)}"
                )
                ok = False
                break
        if not ok:
            break
    return failures


def fuzz_pagerank(spark, n: int, seed: int) -> list[str]:
    """pagerank (both modes) vs a sequential power iteration on random
    SMALL nasty graphs: self-loops, duplicate edges (the engine
    dedups), hub skew, sinks, zero-in-degree nodes, 2-node cycles.
    The 1M-edge validation (tools/validate_pagerank.py) covers scale;
    this covers shape coverage — per-node agreement within 1e-9."""
    from gratum_spark.operators.graph import pagerank as _pagerank

    failures = []
    for t in range(n):
        rng = random.Random(seed * 550_321 + t)
        n_nodes = rng.randint(2, 25)
        n_edges = rng.randint(1, 60)
        edges = []
        for _ in range(n_edges):
            a = rng.randint(0, n_nodes - 1)
            if rng.random() < 0.15:
                b = a  # self-loop
            elif rng.random() < 0.3:
                b = 0  # hub skew
            else:
                b = rng.randint(0, n_nodes - 1)
            edges.append((a, b))
        undirected = bool(rng.getrandbits(1))
        iters = rng.randint(1, 4)
        d = 0.85
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["rank"]
            for r in _pagerank(
                df, damping=d, n_iters=iters, undirected=undirected
            ).collect()
        }

        es = set(edges)
        if undirected:
            es = es | {(b, a) for a, b in es}
        nodes = sorted({a for a, _ in es} | {b for _, b in es})
        outdeg = {u: sum(1 for a, _ in es if a == u) for u in nodes}
        nn = len(nodes)
        r = {u: 1.0 / nn for u in nodes}
        for _ in range(iters):
            contrib = {u: 0.0 for u in nodes}
            for a, b in es:
                contrib[b] += r[a] / outdeg[a]
            dm = sum(r[u] for u in nodes if outdeg[u] == 0)
            r = {
                u: (1 - d) / nn + d * (contrib[u] + dm / nn) for u in nodes
            }
        if set(got) != set(nodes):
            failures.append(
                f"pagerank trial={t} seed={seed}: node set {sorted(got)} != "
                f"{nodes} (undirected={undirected})"
            )
            break
        err = max(abs(got[u] - r[u]) for u in nodes)
        if err > 1e-9:
            failures.append(
                f"pagerank trial={t} seed={seed}: max per-node err {err:.2e} "
                f"(undirected={undirected}, iters={iters})"
            )
            break
    return failures


def fuzz_asof(spark, n: int, seed: int) -> list[str]:
    """asof_join vs a sequential per-row scan: backward/forward,
    allow_exact_matches on/off, unmatched lefts keep nulls, row count
    preserved, multiple left rows at one ts all match. Right (key, ts)
    pairs are generated UNIQUE — the documented determinism contract
    (ties between right rows at the same key+ts are unordered)."""
    from gratum_spark.operators import joins as _joins

    failures = []
    for t in range(n):
        rng = random.Random(seed * 311_117 + t)
        keys = list(range(rng.randint(1, 3)))
        left = [
            (rng.choice(keys), rng.randint(0, 20), i)
            for i in range(rng.randint(0, 14))
        ]
        right_pairs = set()
        while len(right_pairs) < rng.randint(0, 12):
            right_pairs.add((rng.choice(keys), rng.randint(0, 20)))
        right = [(k, ts, k * 1000 + ts) for k, ts in right_pairs]
        direction = rng.choice(["backward", "forward"])
        exact = bool(rng.getrandbits(1))

        ldf = spark.createDataFrame(left, "k long, ts long, lid long") \
            if left else spark.createDataFrame([], "k long, ts long, lid long")
        rdf = spark.createDataFrame(right, "k long, ts long, v long") \
            if right else spark.createDataFrame([], "k long, ts long, v long")
        out = {
            r["lid"]: r["v"]
            for r in _joins.asof_join(
                ldf, rdf, on="k", left_ts="ts", right_ts="ts",
                value_cols=["v"], direction=direction,
                allow_exact_matches=exact,
            ).collect()
        }

        def ref_match(k, ts):
            if direction == "backward":
                cand = [(rt, v) for rk, rt, v in right
                        if rk == k and (rt <= ts if exact else rt < ts)]
                return max(cand)[1] if cand else None
            cand = [(rt, v) for rk, rt, v in right
                    if rk == k and (rt >= ts if exact else rt > ts)]
            return min(cand)[1] if cand else None

        if len(out) != len(left):
            failures.append(
                f"asof trial={t} seed={seed}: {len(out)} rows != {len(left)} "
                f"lefts ({direction}, exact={exact})"
            )
            break
        bad = [
            (lid, out[lid], ref_match(k, ts))
            for k, ts, lid in left
            if out[lid] != ref_match(k, ts)
        ]
        if bad:
            failures.append(
                f"asof trial={t} seed={seed} ({direction}, exact={exact}): "
                f"first mismatch lid={bad[0][0]} got={bad[0][1]} want={bad[0][2]}"
            )
            break
    return failures


def fuzz_connected_components(spark, n: int, seed: int) -> list[str]:
    """connected_components vs a sequential union-find with min-label
    canonicalization: random sparse/dense graphs with self-loops,
    duplicate and reversed duplicate edges, multiple components, and
    path chains (diameter kept well under the max_iter cap). The
    partition AND the min-reachable-id labels must both match."""
    from gratum_spark.operators import dedup as _dedup

    failures = []
    for t in range(n):
        rng = random.Random(seed * 610_613 + t)
        n_nodes = rng.randint(2, 35)
        edges = []
        if rng.random() < 0.3:
            # adversarial shape: a long path (worst-case diameter)
            chain = list(range(n_nodes))
            rng.shuffle(chain)
            edges += list(zip(chain, chain[1:]))
        for _ in range(rng.randint(1, 40)):
            a, b = rng.randint(0, n_nodes - 1), rng.randint(0, n_nodes - 1)
            edges.append((a, b))
            if rng.random() < 0.2:
                edges.append((b, a))  # reversed duplicate
        df = spark.createDataFrame(edges, "a long, b long")
        got = {
            r["node"]: r["comp"]
            for r in _dedup.connected_components(df, "a", "b").collect()
        }

        parent = {}
        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        groups: dict[int, list[int]] = {}
        for u in parent:
            groups.setdefault(find(u), []).append(u)
        want = {u: min(g) for g in groups.values() for u in g}
        if got != want:
            diff = {u: (got.get(u), want[u]) for u in want if got.get(u) != want[u]}
            failures.append(
                f"cc trial={t} seed={seed}: {len(diff)} label diffs, "
                f"first {sorted(diff.items())[:3]}"
            )
            break
    return failures


def fuzz_interval_join(spark, n: int, seed: int) -> list[str]:
    """interval_join_bucketed vs brute-force [lo, hi) containment:
    random (including negative) coordinates, exact boundary hits
    (x == lo in, x == hi out), zero-width intervals, bucket widths both
    finer and coarser than the intervals. Pins the cell-quantization
    claim that trunc-toward-zero casting covers every containment pair
    (trunc is monotone, so lo <= x <= hi implies the interval's cell
    range covers the point's cell) — a switch to floor/round on ONE
    side only would break negatives and this campaign would catch it."""
    from gratum_spark.operators import joins as _joins

    failures = []
    for t in range(n):
        rng = random.Random(seed * 133_717 + t)
        npts, nivs = rng.randint(0, 15), rng.randint(0, 10)
        ivs = []
        for i in range(nivs):
            lo = round(rng.uniform(-30, 30), 1)
            hi = round(lo + rng.uniform(0, 15), 1)
            ivs.append((i, lo, hi))
        pts = []
        for p in range(npts):
            if ivs and rng.random() < 0.4:
                _, lo, hi = rng.choice(ivs)
                x = rng.choice([lo, hi])  # exact boundary hit
            else:
                x = round(rng.uniform(-35, 35), 1)
            pts.append((p, x))
        w = rng.choice([0.5, 1.0, 3.0, 10.0])
        pdf = spark.createDataFrame(pts, "pid long, x double") \
            if pts else spark.createDataFrame([], "pid long, x double")
        idf = spark.createDataFrame(ivs, "iid long, lo double, hi double") \
            if ivs else spark.createDataFrame([], "iid long, lo double, hi double")
        got = sorted(
            (r["pid"], r["iid"])
            for r in _joins.interval_join_bucketed(
                pdf, "x", idf, "lo", "hi", w
            ).collect()
        )
        want = sorted(
            (p, i) for p, x in pts for i, lo, hi in ivs if lo <= x < hi
        )
        if got != want:
            failures.append(
                f"interval trial={t} seed={seed} w={w}: "
                f"missing={sorted(set(want)-set(got))[:3]} "
                f"extra={sorted(set(got)-set(want))[:3]}"
            )
            break
    return failures


# ---------------------------------------------------------------- coercions

# strings exercising every branch of the scalar-coercion truth tables:
# Java parse contracts (whitespace, signs, overflow, newline-anchor),
# the case-sensitive asBoolean switch, Java String.trim's <= U+0020
# sweep (NBSP is NOT whitespace to it), strict date resolution.
COERCE_POOL = [
    None, "", "  ", "\t", "\n",
    "12", "+7", "-13", "007", "0", "-0", "9223372036854775807",
    "9223372036854775808", " 12 ", "12 ", " 12", "12.5", "1e3",
    "12abc", "abc", "+", "-", "--5", "12\n", "\n12", "\t42", "0x1F",
    "Y", "y", "yes", "YES", "Yes", "yES", "1", "T", "t",
    "n", "N", "NO", "no", "No", "F", "f", "null", "Null", "NULL",
    "true", "TRUE", "tRuE", "false", "False", " Y ", "maybe",
    "1.5", " 2.5 ", "-0.25", "3.0e-2", "1.", ".5", "3,14", "1..2",
    " 2.5", "Infinity", "-Infinity", "+Infinity", "NaN", "-NaN",
    "inf", "-inf", "nan", "INFINITY", "Nan", "1.5f", "1.5F", "2.5d",
    "3e2f", "0x1p3", "0x.8p1", "0x1p", "5.e3",
    "2024-02-29", "2023-02-29", "2024-02-31", "2024-1-5",
    "2024-02-29 x", "02/29/2024", "13/01/2024", "2024-12-31",
    "\x00a\x00", " nb ", "a\rb", " both ", "tab\there",
]

_LONG_MIN, _LONG_MAX = -(2 ** 63), 2 ** 63 - 1


def _java_trim(s):
    """Java String.trim: strip every char <= U+0020 from both ends."""
    if s is None:
        return None
    start, end = 0, len(s)
    while start < end and ord(s[start]) <= 0x20:
        start += 1
    while end > start and ord(s[end - 1]) <= 0x20:
        end -= 1
    return s[start:end]


def _model_as_int(s):
    """(kept, value): Integer.parseInt contract — [+-]?digits only, no
    surrounding whitespace (incl. a trailing newline), overflow throws;
    null/"" skip the parser and stay null."""
    import re as _re2

    if s is None or s == "":
        return True, None
    if not _re2.fullmatch(r"[+-]?[0-9]+", s):
        return False, None
    v = int(s)
    if not _LONG_MIN <= v <= _LONG_MAX:
        return False, None
    return True, v


def _model_as_double(s):
    """Full Double.parseDouble grammar: chars <= U+0020 trimmed (NBSP
    is not), case-sensitive [+-]?(NaN|Infinity) special literals,
    decimal/exponent with optional f/F/d/D suffix, hex floats with a
    REQUIRED binary exponent. "inf"/"nan"/"INFINITY" throw in Java —
    the engine guards Spark's more-lenient special literals back to
    rejects."""
    import re as _re2

    if s is None or s == "":
        return True, None
    t = _java_trim(s)
    if _re2.fullmatch(r"[+-]?(NaN|Infinity)", t):
        return True, float(t)
    m = _re2.fullmatch(
        r"([+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?)[fFdD]?", t
    )
    if m:
        return True, float(m.group(1))
    m = _re2.fullmatch(
        r"([+-]?0[xX]([0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)"
        r"[pP][+-]?[0-9]+)[fFdD]?",
        t,
    )
    if m:
        return True, float.fromhex(m.group(1))
    return False, None


_BOOL_TRUE = {"Y", "y", "yes", "YES", "Yes", "1", "T", "t"}
_BOOL_FALSE = {"n", "N", "NO", "no", "No", "0", "F", "f", "null", "Null", "NULL"}


def _model_as_boolean(s):
    """The reference's case-sensitive switch, untrimmed, with
    Boolean.parseBoolean fallthrough; null/"" map to null."""
    if s is None or s == "":
        return None
    if s in _BOOL_TRUE:
        return True
    if s in _BOOL_FALSE:
        return False
    return s.lower() == "true"


def _model_as_date(s, fmts):
    """(kept, value): strict resolution, zero-padded fields, full-string
    match, first format wins; null/"" stay null."""
    import datetime as _dt
    import re as _re2

    if s is None or s == "":
        return True, None
    shapes = {
        "yyyy-MM-dd": (r"(\d{4})-(\d{2})-(\d{2})", (1, 2, 3)),
        "MM/dd/yyyy": (r"(\d{2})/(\d{2})/(\d{4})", (3, 1, 2)),
    }
    for f in fmts:
        pat, (gy, gm, gd) = shapes[f]
        m = _re2.fullmatch(pat, s)
        if not m:
            continue
        try:
            return True, _dt.date(int(m.group(gy)), int(m.group(gm)), int(m.group(gd)))
        except ValueError:
            continue
    return False, None


def fuzz_coercions(spark, n: int, seed: int) -> list[str]:
    """Scalar coercion + substitution ops vs the reference truth tables
    (the r8 semantics-audit surface): trim, as_boolean, replace_values,
    default_values/defaults_by on every trial; one reject-accounted
    coercion (as_int / as_double / as_date) per trial with
    LoadStatistic loaded/rejected checks."""
    from gratum_spark import sources

    failures = []
    fmts = ["yyyy-MM-dd", "MM/dd/yyyy"]
    for t in range(n):
        rng = random.Random(seed * 700_003 + t)
        size = rng.randint(1, 40)
        rows = [
            {"i": i, "s": rng.choice(COERCE_POOL), "s2": rng.choice(COERCE_POOL)}
            for i in range(size)
        ]
        p = sources.from_collection(
            spark, rows, "i long, s string, s2 string", name="fzc", ordered=True
        )

        # trim: Java String.trim on every string column
        got = sorted(
            (r["i"], r["s"], r["s2"]) for r in p.trim().df.collect()
        )
        want = sorted(
            (r["i"], _java_trim(r["s"]), _java_trim(r["s2"])) for r in rows
        )
        if got != want:
            failures.append(
                f"trim trial={t} seed={seed}: first diff "
                f"{next((a, b) for a, b in zip(got, want) if a != b)}"
            )
            break

        # as_boolean: truth table, no rejects
        bgot = sorted((r["i"], r["s"]) for r in p.as_boolean("s").df.collect())
        bwant = sorted((r["i"], _model_as_boolean(r["s"])) for r in rows)
        if bgot != bwant:
            failures.append(
                f"as_boolean trial={t} seed={seed}: first diff "
                f"{next((a, b) for a, b in zip(bgot, bwant) if a != b)}"
            )
            break

        # replace_values: Groovy elvis — falsy replacements keep original
        keys = [k for k in rng.sample(COERCE_POOL, 6) if k is not None]
        mapping = {k: rng.choice([None, "", "X", "0", "zzz"]) for k in keys}
        rgot = sorted((r["i"], r["s"]) for r in p.replace_values("s", mapping).df.collect())
        live = {k: v for k, v in mapping.items() if v}
        rwant = sorted(
            (r["i"], live.get(r["s"], r["s"]) if r["s"] is not None else None)
            for r in rows
        )
        if rgot != rwant:
            failures.append(
                f"replace_values trial={t} seed={seed} mapping={mapping!r}: "
                f"first diff {next((a, b) for a, b in zip(rgot, rwant) if a != b)}"
            )
            break

        # default_values / defaults_by: string falsy = null or ""
        dgot = sorted((r["i"], r["s"]) for r in p.default_values({"s": "D"}).df.collect())
        dwant = sorted(
            (r["i"], r["s"] if r["s"] not in (None, "") else "D") for r in rows
        )
        bygot = sorted((r["i"], r["s"]) for r in p.defaults_by({"s": "s2"}).df.collect())
        bywant = sorted(
            (r["i"], r["s"] if r["s"] not in (None, "") else r["s2"]) for r in rows
        )
        if dgot != dwant or bygot != bywant:
            failures.append(
                f"defaults trial={t} seed={seed}: "
                f"default_values diff={dgot != dwant} defaults_by diff={bygot != bywant}"
            )
            break

        # one reject-accounted coercion per trial
        which = rng.choice(["int", "double", "date"])
        if which == "int":
            stepped, model = p.as_int("s"), _model_as_int
        elif which == "double":
            stepped, model = p.as_double("s"), _model_as_double
        else:
            stepped, model = p.as_date("s", *fmts), (
                lambda v: _model_as_date(v, fmts)
            )
        stat = stepped.go()

        def _nn(v):  # NaN-aware compare: nan != nan would fail the tuple eq
            return "NaN" if isinstance(v, float) and math.isnan(v) else v

        cgot = sorted((r["i"], _nn(r["s"])) for r in stepped.df.collect())
        modeled = [(r["i"], model(r["s"])) for r in rows]
        cwant = sorted((i, _nn(v)) for i, (kept, v) in modeled if kept)
        n_rej = sum(1 for _, (kept, _v) in modeled if not kept)
        if cgot != cwant or stat.loaded != len(cwant) or stat.rejected != n_rej:
            failures.append(
                f"as_{which} trial={t} seed={seed}: loaded={stat.loaded}/"
                f"{len(cwant)} rejected={stat.rejected}/{n_rej} first diff "
                f"{next(((a, b) for a, b in zip(cgot, cwant) if a != b), None)}"
            )
            break
    return failures


_JAVA_DATE_ORACLE_SRC = """
import java.text.ParseException;
import java.text.SimpleDateFormat;
import java.util.Base64;
import java.util.Date;
import java.util.Locale;
import java.util.Scanner;

public class LenientDateOracle {
    public static void main(String[] args) {
        Scanner sc = new Scanner(System.in, "UTF-8");
        SimpleDateFormat out = new SimpleDateFormat("yyyy-MM-dd");
        SimpleDateFormat startFmt = new SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS");
        Base64.Decoder dec = Base64.getDecoder();
        while (sc.hasNextLine()) {
            String[] parts = sc.nextLine().split("\\t");
            String fmt = new String(dec.decode(parts[0]));
            String val = new String(dec.decode(parts[1]));
            try {
                // Locale pinned: the engine's text-month table is the
                // English DateFormatSymbols, independent of host locale
                SimpleDateFormat sdf = new SimpleDateFormat(fmt, Locale.ENGLISH);
                if (parts.length > 2) {
                    // optional third field: pinned 2-digit-year window
                    // start (the engine's two_digit_year_start hook)
                    sdf.set2DigitYearStart(
                        startFmt.parse(new String(dec.decode(parts[2]))));
                }
                Date parsed = sdf.parse(val);
                System.out.println(out.format(parsed));
            } catch (ParseException e) {
                System.out.println("REJECT");
            }
        }
    }
}
"""


def _date_oracle_dir():
    """Compile the SimpleDateFormat ground-truth helper once (Java 17 is
    in the container — the `dates` campaign compares the engine against
    the REAL reference parser, not a Python model of it)."""
    import pathlib
    import subprocess

    d = pathlib.Path(tempfile.gettempdir()) / "gratum_fuzz_java"
    d.mkdir(exist_ok=True)
    src = d / "LenientDateOracle.java"
    # recompile when the embedded source changed (e.g. the r10 locale
    # pin), not only when the class is missing — a stale cached oracle
    # silently tests the wrong semantics
    stale = not src.exists() or src.read_text() != _JAVA_DATE_ORACLE_SRC
    if stale or not (d / "LenientDateOracle.class").exists():
        src.write_text(_JAVA_DATE_ORACLE_SRC)
        subprocess.run(
            ["javac", "LenientDateOracle.java"], check=True, cwd=d,
            capture_output=True,
        )
    return d


def _java_parse_dates(pairs):
    """[(fmt, val)] or [(fmt, val, start)] -> [iso-date-str or None] via
    one JVM invocation of java.text.SimpleDateFormat (lenient default).
    The optional third element is a "yyyy-MM-dd HH:mm:ss.SSS" string for
    set2DigitYearStart (the yy-window pin). Base64 framing so values may
    contain tabs/newlines."""
    import base64
    import subprocess

    d = _date_oracle_dir()

    def b64(s):
        return base64.b64encode(s.encode()).decode()

    inp = "\n".join("\t".join(b64(x) for x in p) for p in pairs)
    out = subprocess.run(
        ["java", "LenientDateOracle"], cwd=d, input=inp,
        capture_output=True, text=True, check=True,
    )
    lines = out.stdout.splitlines()
    assert len(lines) == len(pairs), (len(lines), len(pairs), out.stderr[:500])
    return [None if ln == "REJECT" else ln for ln in lines]


def _py_hybrid_label(y, mo, d, shift=0):
    """Python mirror of gratum_spark.pipeline._hybrid_resolve_np:
    GregorianCalendar lenient field resolution on Java's hybrid
    Julian/Gregorian calendar, returning the (year, month, day) LABEL
    plus the instant JDN (the yy-window model's ambiguous-year
    before-check compares INSTANTS, like java.util.Date.before — even
    when the first resolution's label is out of DateType range). The
    campaign uses the label only to decide the engine's documented
    fallthrough scope (result-year bound, unrepresentable Julian leap
    days); inside scope the REAL Java parser stays the ground truth and
    any disagreement with this arithmetic fails the trial loudly.
    ``shift`` (r12, zone fields): day delta between the wall fixed date
    and the UTC instant's day — the LABEL is taken from fd + shift
    while resolution (incl. the cutover pick) stays on wall fields,
    mirroring the engine."""
    cut = 2299161  # 1582-10-15 Gregorian
    ny = y + (mo - 1) // 12
    mi = (mo - 1) % 12 + 1
    a = 1 if mi <= 2 else 0
    y2 = ny + 4800 - a
    m2 = mi + 12 * a - 3
    base = (153 * m2 + 2) // 5 + 365 * y2 + y2 // 4 + d
    gfd = base - y2 // 100 + y2 // 400 - 32045
    jfd = base - 32083
    if y < 1582:
        fd = jfd  # raw-year branch: pure Julian even past the cutover
    else:
        fd = gfd if gfd >= cut else jfd
    fdl = fd + shift  # label = the (possibly zone-shifted) instant's day
    if fdl >= cut:
        a2 = fdl + 32044
        b = (4 * a2 + 3) // 146097
        c = a2 - 146097 * b // 4
    else:
        b = 0
        c = fdl + 32082
    d2 = (4 * c + 3) // 1461
    e = c - 1461 * d2 // 4
    m2r = (5 * e + 2) // 153
    rd = e - (153 * m2r + 2) // 5 + 1
    rm = m2r + 3 - 12 * (m2r // 10)
    ry = 100 * b + d2 - 4800 + m2r // 10
    return ry, rm, rd, fd


_DATE_FMT_POOL = [
    ("yyyy-MM-dd",),
    ("MM/dd/yyyy",),
    ("d.M.yyyy",),
    ("yyyy/M/d",),
    ("yyyy-MM-dd", "MM/dd/yyyy"),
    ("dd-MM-yyyy", "yyyy-MM-dd"),
    # text months (r10): every format here must stay inside the engine's
    # lenient scope (_simple_date_pattern non-None) — the model treats a
    # None spec as "this format never lenient-matches", which is only
    # safe because generation never produces strings the STRICT parser
    # would accept for an out-of-scope format
    ("yyyy-MMM-dd",),
    ("MMM d, yyyy",),
    ("dd MMMM yyyy",),
    ("yyyy-MMM-dd", "yyyy-MM-dd"),
    ("MMMM d yyyy", "MM/dd/yyyy"),
    # century-windowed short years (r11): y-runs of length <= 2 window
    # EXACTLY-2-digit input into [start, start+100); anything else is
    # literal; the boundary value bumps +100 on an instant before-check
    ("yy-MM-dd",),
    ("MM/dd/yy",),
    ("d.M.yy", "yyyy-MM-dd"),
    ("yy-MM-dd", "yyyy-MM-dd"),
    ("y-M-d",),  # count-1 'y' windows too (Java: count <= 2)
    ("MMM d, yy",),
    # time-of-day fields + quoted literals (r12): lenient H/m/s/S
    # contribute millis to the instant (hour 24 rolls forward, negative
    # fields roll back, day offset feeds the hybrid-calendar pick);
    # '...'/'' quoting is literal text. All still in lenient scope.
    ("yyyy-MM-dd HH:mm:ss",),
    ("yyyy-MM-dd'T'HH:mm:ss",),
    ("yyyy-MM-dd H:m",),
    ("MM/dd/yyyy HH:mm:ss.SSS",),
    # windowed + time (three entries, not one: the ms-instant bump
    # check only diverges from the old day-level one on boundary-year
    # rows under these formats, and one pool slot gave a mutation of
    # the remainder term only ~50% catch odds per seed)
    ("yy-MM-dd HH:mm:ss",),
    ("yy-MM-dd H:m:s",),
    ("MM/dd/yy HH:mm",),
    ("yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd"),
    ("'d:'yyyy-MM-dd",),
    ("yyyy-MM-dd''H",),  # '' = one literal quote between fields
    ("MMM d, yyyy H'h'",),
    # am/pm hours (r12): h maps 12->0, k maps 24->0, K unadjusted;
    # PM adds 12h only for h/K/absent hour (H+a ignores the marker)
    ("MM/dd/yyyy hh:mm a",),
    ("yyyy-MM-dd h:m a",),
    ("yyyy-MM-dd K:m a",),
    ("yyyy-MM-dd kk:mm",),
    ("yyyy-MM-dd HH:mm a",),  # marker parsed but ignored (HOUR_OF_DAY)
    ("yyyy-MM-dd a",),        # marker alone: PM = 12h
    ("MM/dd/yyyy hh:mm a", "yyyy-MM-dd"),
    # day-of-week names (r12): parsed (must match an English weekday,
    # full-then-short, case-insensitive, no whitespace skip) but IGNORED
    # — with y/M/d present computeTime never consults DAY_OF_WEEK, so a
    # mismatched name still resolves to the y/M/d date
    ("EEE, dd MMM yyyy",),            # RFC-1123 date part
    ("EEE, dd MMM yyyy HH:mm:ss",),
    ("EEEE, MMMM d, yyyy",),
    ("yyyy-MM-dd EEE",),
    ("E M/d/yy",),                    # count-1 E parses full names too
    ("EEE, dd MMM yyyy", "yyyy-MM-dd"),
    # zone fields (r12): the offset shifts the INSTANT after wall
    # resolution — label and window-bump use rem_ms - offset_ms; GMT
    # commit rule and RFC-822/ISO bounds checked downstream
    ("yyyy-MM-dd HH:mm Z",),
    ("EEE, dd MMM yyyy HH:mm:ss Z",),   # full RFC-1123
    ("yyyy-MM-dd'T'HH:mm:ssX",),
    ("yyyy-MM-dd'T'HH:mm:ssXXX", "yyyy-MM-dd'T'HH:mm:ss"),
    ("yyyy-MM-dd z",),
    ("yy-MM-dd HH:mm Z",),              # windowed + zone: bump on the
                                        # offset-shifted instant
    ("MM/dd/yy hh:mm a XX",),
    # adjacent fixed-width runs (r12, obeyCount): each
    # numeric-before-numeric field reads a width-bounded substring
    # (whitespace counts toward the width, minus accepted except on
    # years, NO backtracking); the last field of a chain stays greedy
    ("yyyyMMdd",),
    ("yyMMdd",),                        # windowed + obeyCount
    ("ddMMyyyy",),
    ("yyyyMMdd HHmmss",),
    ("yyyyMMdd'T'HHmmss", "yyyyMMdd"),
    ("ddMMMyyyy",),                     # greedy day before a text month
    ("MMddyy hhmma",),                  # windowed tail + ampm adjacency
    ("yyyyMMdd HHmmZ",),                # compact + zone
]

# pinned set2DigitYearStart values (engine two_digit_year_start <-> Java
# oracle third field): mid-day anchors, the exact-midnight edge (equal
# label must NOT bump), just-past-midnight, and an amb==0 start
_DCS_POOL = [
    datetime.datetime(1946, 8, 15, 12, 0),
    datetime.datetime(2026, 3, 1, 9, 30),
    datetime.datetime(2000, 1, 1),            # midnight, amb == 0
    datetime.datetime(1999, 12, 31, 23, 59, 59),
    datetime.datetime(1980, 6, 15, 0, 0, 0, 1000),  # 1 ms past midnight
]

_MONTH_RENDER = {
    1: ("Jan", "January"), 2: ("Feb", "February"), 3: ("Mar", "March"),
    4: ("Apr", "April"), 5: ("May", "May"), 6: ("Jun", "June"),
    7: ("Jul", "July"), 8: ("Aug", "August"), 9: ("Sep", "September"),
    10: ("Oct", "October"), 11: ("Nov", "November"), 12: ("Dec", "December"),
}

# (short, full) weekday names for E-runs (r12). Lenient SimpleDateFormat
# IGNORES the parsed day-of-week when y/M/d are present, so the
# generator draws a RANDOM weekday independent of the date — a
# "wrong" name must still parse to the y/M/d date on both engines.
_WEEKDAY_RENDER = [
    ("Sun", "Sunday"), ("Mon", "Monday"), ("Tue", "Tuesday"),
    ("Wed", "Wednesday"), ("Thu", "Thursday"), ("Fri", "Friday"),
    ("Sat", "Saturday"),
]


def _fmt_tokens(fmt):
    """SimpleDateFormat tokenizer shared by the renderer: yields
    (is_field_run, text) with quoted sections already unescaped into
    literal text ('' = one quote, inside or outside quotes) — the same
    rules gratum_spark.pipeline._simple_date_pattern applies."""
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "'":
            if fmt[i + 1 : i + 2] == "'":
                yield False, "'"
                i += 2
                continue
            i += 1
            buf = []
            while i < len(fmt) and (
                fmt[i] != "'" or fmt[i + 1 : i + 2] == "'"
            ):
                if fmt[i] == "'":
                    buf.append("'")
                    i += 2
                else:
                    buf.append(fmt[i])
                    i += 1
            i += 1  # closing quote (generator assumes well-formed pool)
            yield False, "".join(buf)
        elif ch.isalpha() and ch.isascii():
            j = i
            while j < len(fmt) and fmt[j] == ch:
                j += 1
            yield True, fmt[i:j]
            i = j
        else:
            j = i
            while j < len(fmt) and fmt[j] != "'" and not (
                fmt[j].isalpha() and fmt[j].isascii()
            ):
                j += 1
            yield False, fmt[i:j]
            i = j


def _render_date(fmt, y, mo, d, rng, t=(0, 0, 0, 0, "AM")):
    """Render fields into a SimpleDateFormat pattern, padding numeric
    fields to the pattern width most of the time (sometimes natural
    width — the greedy parse accepts both). A text-month run (MMM+)
    renders a short/full English name in mixed case when the month is
    in 1..12 — and sometimes a name even for MMMM vs MMM (Java parses
    both forms for any count>=3) — else the raw number (which BOTH the
    engine and Java reject in a text slot; a still-valid trial).
    Quoted sections render their literal text; time fields
    (H/h/K/k/m/s/S) render from ``t`` like any numeric field, and an
    'a' run renders the marker in mixed case (r12)."""
    th, tmi, ts, tms, ampm = t
    out = []
    for is_run, text in _fmt_tokens(fmt):
        if not is_run:
            out.append(text)
            continue
        run = text
        if run[0] == "a":
            c = rng.random()
            s = ampm
            if c < 0.3:
                s = s.lower()
            elif c < 0.45:
                s = s.capitalize()
            out.append(s)
            continue
        if run[0] == "M" and len(run) >= 3 and 1 <= mo <= 12:
            name = _MONTH_RENDER[mo][rng.random() < 0.5]
            c = rng.random()
            if c < 0.2:
                name = name.upper()
            elif c < 0.4:
                name = name.lower()
            elif c < 0.5:
                name = name[0].lower() + name[1:]
            out.append(name)
            continue
        if run[0] in "zZX":
            # zone field (r12): mostly valid offsets (RFC-822 / GMT /
            # ISO by X-count), some out-of-bounds ("+2400"), some
            # wrong-form or name tokens. Zone NAMES: GMT and UTC (r13)
            # parse at offset 0 on both engines; "UT" FAILS on this
            # container's Java 17 (probed) and on the engine, so it
            # renders as a reject token; other locale-table names (PST)
            # are a documented engine reject that Java WOULD accept, so
            # they are NOT rendered here.
            c = rng.random()
            h, mnt = rng.choice([0, 1, 5, 12, 23]), rng.choice([0, 30, 59])
            sgn = rng.choice(["+", "-"])
            if run[0] == "X":
                n = len(run)
                if c < 0.15:
                    out.append("Z")
                elif c < 0.75:
                    out.append(
                        f"{sgn}{h:02d}" if n == 1
                        else f"{sgn}{h:02d}{mnt:02d}" if n == 2
                        else f"{sgn}{h:02d}:{mnt:02d}"
                    )
                elif c < 0.85:  # out-of-bounds: regex hits, value rejects
                    out.append(
                        f"{sgn}24" if n == 1
                        else rng.choice([f"{sgn}2400", f"{sgn}0060"])
                        if n == 2 else f"{sgn}24:00"
                    )
                else:  # wrong form for the count / lowercase z
                    out.append(rng.choice(["z", f"{sgn}5", f"{sgn}05:30"
                                           if n != 3 else f"{sgn}0530"]))
            else:
                if c < 0.4:
                    out.append(f"{sgn}{h:02d}{mnt:02d}")
                elif c < 0.55:
                    gmt = rng.choice(["GMT", "gmt", "Gmt"])
                    hh = str(h) if rng.random() < 0.5 else f"{h:02d}"
                    out.append(f"{gmt}{sgn}{hh}:{mnt:02d}")
                elif c < 0.65:
                    out.append(rng.choice(["GMT", "gmt"]))
                elif c < 0.72:  # UTC name alias (r13): offset 0; the
                    # +hh:mm tail is TRAILING INPUT after the name (no
                    # custom UTC offset form — probed)
                    out.append(rng.choice(
                        ["UTC", "utc", "Utc", "UTC+01:00"]))
                elif c < 0.84:  # out-of-bounds / committed-GMT rejects
                    out.append(rng.choice(
                        [f"{sgn}2400", f"{sgn}0060", "GMT+24:00",
                         "GMT+01:0", "GMT+"]))
                else:  # wrong-form tokens (both reject; "UT" probed
                    # absent from this JDK's zone table)
                    out.append(rng.choice(
                        ["Z", f"{sgn}05:30", f"{sgn}000", f"{sgn}5",
                         "UT", "ut"]))
            continue
        if run[0] == "E":
            # random weekday, usually UNRELATED to (y, mo, d): lenient
            # parse ignores DAY_OF_WEEK when y/M/d are present, so a
            # mismatched name still parses (r12, probed). ~10% render a
            # truncated/bogus token instead (both engines must reject).
            c = rng.random()
            if c < 0.1:
                out.append(rng.choice(["Sund", "Mo", "Frid", "Xyz", "7"]))
                continue
            name = rng.choice(_WEEKDAY_RENDER)[rng.random() < 0.5]
            if c < 0.3:
                name = name.upper()
            elif c < 0.45:
                name = name.lower()
            out.append(name)
            continue
        v = {"y": y, "M": mo, "d": d,
             "H": th, "h": th, "K": th, "k": th,
             "m": tmi, "s": ts, "S": tms}[run[0]]
        if run[0] == "y" and len(run) <= 2:
            # short-y runs: the windowing rule is TEXTUAL (exactly two
            # digits), so render 2-digit (windowed), natural, and
            # zero-padded-3 ("046" = literal 46) shapes
            c = rng.random()
            out.append(str(v).zfill(2 if c < 0.6 else (3 if c < 0.75 else 0)))
            continue
        out.append(str(v).zfill(len(run) if rng.random() < 0.7 else 0))
    return "".join(out)


def fuzz_dates(spark, n: int, seed: int) -> list[str]:
    """as_date(lenient=True) vs the REAL java.text.SimpleDateFormat
    (r8 verdict task 4): well-formed dates, calendar-overflow fields
    (month 0/13+, day 0/99/999 — GregorianCalendar lenient roll),
    trailing junk (ignored by DateFormat.parse), leading junk /
    wrong separators / non-dates (ParseException -> reject), 1-2
    format lists with first-wins resolution, plus LoadStatistic
    loaded/rejected accounting. Year generation mixes the modern range
    with pre-1582 / cutover-dense years: the engine resolves fields on
    Java's hybrid Julian/Gregorian calendar (pipeline's
    _hybrid_lenient_epoch_days), so the Julian era and the 1582-10-15
    cutover are in scope, not carved out."""
    from gratum_spark import sources

    failures = []
    junk_pool = [None, "", "junk", "12", "----", "  ", "\t", "a-b-c", "99",
                 "2024", "..", "did 2024-01-01"]
    for t in range(n):
        rng = random.Random(seed * 910_099 + t)
        fmts = rng.choice(_DATE_FMT_POOL)
        # pinned 2-digit-year window start, passed to BOTH sides (the
        # engine's two_digit_year_start and the Java oracle's
        # set2DigitYearStart) so the window is bit-identical; the
        # default now-80y path is covered by the pytest truth table
        dcs = rng.choice(_DCS_POOL)
        amb_draw = dcs.year % 100
        short_y = any(
            len(r) <= 2
            for f in fmts
            for r in re.findall(r"y+", f)
        )
        size = rng.randint(20, 50)
        rows = []
        for i in range(size):
            kind = rng.random()
            if kind < 0.15:
                v = rng.choice(junk_pool)
            else:
                render_fmt = rng.choice(fmts)
                yk = rng.random()
                if short_y and yk < 0.45:
                    # dense 0-99 draws, over-weighting the ambiguous
                    # boundary value (== startYear % 100: resolves low,
                    # bumps on the instant before-check)
                    y = amb_draw if yk < 0.2 else rng.randint(0, 99)
                elif yk < 0.6:
                    y = rng.randint(1600, 2999)
                elif yk < 0.8:
                    y = rng.randint(1, 1599)  # Julian era
                else:
                    y = rng.randint(1575, 1590)  # cutover-dense
                if kind < 0.55:  # well-formed
                    mo, d = rng.randint(1, 12), rng.randint(1, 28)
                    # hour 12 over-weighted: the h-kind 12->0 parse rule
                    # and the K=12+PM day-roll both live exactly there
                    tv = (rng.choice([12, 12, rng.randint(0, 23)]),
                          rng.randint(0, 59),
                          rng.randint(0, 59), rng.randint(0, 999),
                          rng.choice(["AM", "PM"]))
                else:  # calendar overflow: lenient rolls, strict rejects
                    mo = rng.choice([0, rng.randint(1, 12), 13, rng.randint(14, 99),
                                     -rng.randint(1, 24)])
                    d = rng.choice([0, rng.randint(1, 28), rng.randint(29, 99),
                                    rng.randint(100, 999), -rng.randint(1, 99)])
                    # time overflow: hour 24+ rolls the day forward,
                    # negative fields roll backward (day-boundary-dense
                    # draws so the fold and the ms bump check both bite)
                    tv = (
                        rng.choice([0, 12, 23, 24, 25, rng.randint(0, 99),
                                    rng.randint(100, 9999), -rng.randint(1, 48)]),
                        rng.choice([0, 59, 60, rng.randint(0, 9999),
                                    -rng.randint(1, 120)]),
                        rng.choice([0, 59, 60, rng.randint(0, 99999),
                                    -rng.randint(1, 7200)]),
                        rng.choice([0, 999, rng.randint(0, 99999)]),
                        rng.choice(["AM", "PM"]),
                    )
                if short_y and rng.random() < 0.1:
                    # bump-edge-dense draws (r12): the boundary year
                    # landing EXACTLY on the window start's civil day,
                    # with times straddling the start instant — the only
                    # rows where the ms-resolution before-check differs
                    # from the old day-level one
                    y, mo, d = amb_draw, dcs.month, dcs.day
                    tv = (
                        dcs.hour + rng.choice([-1, 0, 0, 1]),
                        dcs.minute,
                        dcs.second + rng.randint(-90, 90),
                        rng.choice([0, dcs.microsecond // 1000,
                                    rng.randint(0, 1999)]),
                        rng.choice(["AM", "PM"]),
                    )
                v = _render_date(render_fmt, y, mo, d, rng, tv)
                tail = rng.random()
                if tail < 0.2:
                    v += rng.choice([" 10:00", "T", "xyz", "\n", " ", "junk"])
                elif tail < 0.3:
                    # leading space/tab: Java skips whitespace before a
                    # numeric field, so these PARSE; "a"/"0" prefixes vary
                    v = rng.choice([" ", "\t", " \t ", "a", "0"]) + v
                elif tail < 0.35:
                    v = v.replace(v[4] if len(v) > 4 and not v[4].isdigit() else "-",
                                  rng.choice([":", "_"]), 1)
                elif tail < 0.45:
                    # whitespace injected after a random separator (skipped
                    # before the next numeric field) or before one (reject)
                    seps = [j for j, ch in enumerate(v) if not ch.isdigit()]
                    if seps:
                        j = rng.choice(seps)
                        before = rng.random() < 0.5
                        v = (v[:j] + " " + v[j:]) if before else (
                            v[: j + 1] + rng.choice([" ", "\t", "  "]) + v[j + 1:]
                        )
            rows.append({"i": i, "s": v})

        # ground truth: first format SimpleDateFormat accepts wins
        dcs_str = dcs.strftime("%Y-%m-%d %H:%M:%S.") + (
            f"{dcs.microsecond // 1000:03d}"
        )
        need = [(f, r["s"], dcs_str) for r in rows if r["s"] not in (None, "")
                for f in fmts]
        parsed = dict()
        if need:
            res = _java_parse_dates(need)
            for (f, v, _s), got in zip(need, res):
                parsed.setdefault(v, {})[f] = got

        # Which formats the ENGINE attempts is its documented lenient
        # scope (field-extraction regex + year/month/day bounds — e.g. a
        # minus on the year is a documented reject where Java rolls into
        # BC-era normalization). WITHIN that scope Java is the ground
        # truth for the calendar arithmetic, and an engine-regex match
        # that SimpleDateFormat rejects is flagged as a bug.
        from gratum_spark.pipeline import (
            MONTH_NAME_TO_NUM,
            _JDN_EPOCH,
            _century_window,
            _jvm_tz_fixed_utc,
            _simple_date_pattern,
            _zone_offset_ms,
        )

        # The model's lenient scope must use the SAME zone gate the
        # engine applies at plan build — the session's JVM default
        # zone via _jvm_tz_fixed_utc — not _simple_date_pattern's
        # import-time libc default. On a host where libc TZ and the
        # JVM default disagree, the libc default either reports
        # spurious zone-field mismatches or silently drops zone
        # coverage (r13 ADVICE).
        tz_gate = _jvm_tz_fixed_utc(spark)
        specs = [(f, _simple_date_pattern(f, tz_gate)) for f in fmts]
        century, amb_v, cutoff = _century_window(dcs)

        def model(v):
            if v in (None, ""):
                return True, None
            for f, spec in specs:
                if spec is None:
                    # out of lenient scope: the ENGINE falls back to the
                    # strict parse for this format. Generation never
                    # produces strict-parseable strings for such formats
                    # (pool guard above), so modeling it as "no match"
                    # is sound — guarded here so a future pool addition
                    # fails a trial loudly instead of crashing the
                    # campaign on tuple unpack (r9 ADVICE)
                    continue
                rx, gy, gm, gd, m_text, y_win, tgr, g_zone = spec
                m = re.match(rx, v)  # \t escape reads the same in Python/Java regex
                if not m:
                    continue
                # zone offset (r12): shared parser with the engine; an
                # out-of-bounds offset rejects this format
                off = _zone_offset_ms(m.group(g_zone) if g_zone else "")
                if off is None:
                    continue
                if m_text:
                    try:
                        mo = MONTH_NAME_TO_NUM[m.group(gm).lower()]
                    except KeyError:
                        # Python re case-folds Unicode (U+017F 'ſ'
                        # matches 's') where the engine's Java regex
                        # (no UNICODE_CASE) does not match at all —
                        # treat as no-match so a future non-ASCII
                        # generator tweak can't desync the oracles
                        # (r10 ADVICE)
                        continue
                else:
                    mo = int(m.group(gm))
                # lstrip: obeyCount captures may carry in-width leading
                # whitespace; the 2-digit window test is on the digits
                yt = m.group(gy).lstrip(" \t")
                y, d = int(yt), int(m.group(gd))
                rem = 0
                if tgr:
                    # time-of-day fold (r12): mirror of the engine —
                    # each field bounded |v| <= 1e9 (else the format
                    # rejects), total millis split into a day offset
                    # (added to the day field BEFORE the hybrid
                    # resolution, like computeTime) and a remainder
                    # feeding the window bump's instant compare.
                    # Am/pm hours: 'h' maps exactly 12 -> 0 and 'k'
                    # maps 24 -> 0 at parse; PM adds 12h only when the
                    # hour field is h/K or absent (HOUR_OF_DAY branch
                    # precedence — all probed)
                    g_hr, g_mi, g_se, g_msec, hkind, g_ampm = tgr
                    th = int(m.group(g_hr)) if g_hr else 0
                    if hkind == "h" and th == 12:
                        th = 0
                    elif hkind == "k" and th == 24:
                        th = 0
                    tm2 = int(m.group(g_mi)) if g_mi else 0
                    ts = int(m.group(g_se)) if g_se else 0
                    tms = int(m.group(g_msec)) if g_msec else 0
                    if any(abs(tv) > 1_000_000_000
                           for tv in (th, tm2, ts, tms)):
                        continue
                    ampm_ms = 0
                    if g_ampm and hkind in ("h", "K", ""):
                        ampm_ms = (43200000
                                   if m.group(g_ampm).lower() == "pm" else 0)
                    extra, rem = divmod(
                        th * 3600000 + ampm_ms
                        + tm2 * 60000 + ts * 1000 + tms,
                        86400000,
                    )
                    d += extra
                # effective remainder (r12): the zone offset shifts the
                # INSTANT after wall resolution — it feeds the label's
                # day shift and the window bump compare, never the wall
                # fields (the cutover pick stays on wall values)
                rem -= off
                shift = rem // 86400000
                ambiguous = False
                if y_win and len(yt) == 2:
                    # textual century window: exactly-2-digit input only
                    y = century + y + (100 if y < amb_v else 0)
                    ambiguous = int(yt) == amb_v
                if not (1 <= y <= 9999 and abs(mo) <= 120000
                        and abs(d) <= 4000000):
                    continue
                jav = parsed[v][f]
                if jav is None:
                    return False, f"ENGINE-ONLY-MATCH fmt={f}"
                ry, rm, rd, fdi = _py_hybrid_label(y, mo, d, shift)
                if ambiguous and (
                    (fdi - _JDN_EPOCH) * 86400000 + rem < cutoff
                ):
                    # boundary value resolved before the window start
                    # (INSTANT compare at millis — the cutoff is the
                    # start instant in epoch ms since r12, and rem is
                    # the zone-EFFECTIVE remainder — even if the
                    # first label is out of DateType range): +100 on
                    # the raw year field, full lenient re-resolution
                    # (CalendarBuilder.addYear — probed, no
                    # day-of-month pinning)
                    ry, rm, rd, fdi = _py_hybrid_label(y + 100, mo, d, shift)
                if not (1 <= ry <= 9999) or (
                    rm == 2 and rd == 29 and ry % 100 == 0 and ry % 400 != 0
                ):
                    # documented engine fallthrough: result-year bound /
                    # Julian leap label proleptic DateType can't hold
                    continue
                # in scope, Java is ground truth — the arithmetic model
                # must agree with it or the trial fails loudly
                label = f"{ry:04d}-{rm:02d}-{rd:02d}"
                if jav != label:
                    return True, f"MODEL-JAVA-MISMATCH {label} != {jav}"
                return True, jav
            return False, None

        p = sources.from_collection(
            spark, rows, "i long, s string", name="fzd", ordered=True
        )
        stepped = p.as_date("s", *fmts, lenient=True, two_digit_year_start=dcs)
        stat = stepped.go()
        cgot = sorted(
            (r["i"], r["s"].isoformat() if r["s"] is not None else None)
            for r in stepped.df.collect()
        )
        modeled = [(r["i"], model(r["s"])) for r in rows]
        cwant = sorted((i, v) for i, (kept, v) in modeled if kept)
        n_rej = sum(1 for _, (kept, _v) in modeled if not kept)
        if cgot != cwant or stat.loaded != len(cwant) or stat.rejected != n_rej:
            diff = next(((a, b) for a, b in zip(cgot, cwant) if a != b), None)
            vals = {r["i"]: r["s"] for r in rows}
            bad_val = vals.get(diff[0][0]) if diff else None
            failures.append(
                f"dates trial={t} seed={seed} fmts={fmts}: loaded="
                f"{stat.loaded}/{len(cwant)} rejected={stat.rejected}/{n_rej} "
                f"first diff {diff} input={bad_val!r}"
            )
            break
    return failures


def _with_checkpoint_dir(base_fn):
    """Reliable-checkpoint campaign variant (r7 verdict task 5): run the
    same trials with a checkpoint dir set on the SparkContext, so every
    ``materialize`` cut (gratum_spark/pipeline.py) takes the replayable
    persist().checkpoint() branch — the real-cluster path — instead of
    localCheckpoint. Gives the cluster branch the same
    N×2-seed fuzz breadth the local branch has had since r5 (it was
    pytest-covered exactly once before this)."""

    def run(spark, n, seed):
        import shutil

        sc = spark.sparkContext
        prev = sc.getCheckpointDir()
        tmp = tempfile.mkdtemp(prefix="fuzz-reliable-ckpt-")
        sc.setCheckpointDir(tmp)
        try:
            return base_fn(spark, n, seed)
        finally:
            if prev is not None:
                sc.setCheckpointDir(prev)
            else:
                # there is no public unset; clear the Scala-side Option so
                # later campaigns in the same session keep exercising the
                # localCheckpoint default
                getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                    sc._jvm.scala.Option.empty()
                )
            shutil.rmtree(tmp, ignore_errors=True)

    return run


def fuzz_chain(spark, n: int, seed: int) -> list[str]:
    """Random OPERATOR CHAINS (2-5 steps) vs a sequential Groovy-semantics
    model — the composition axis the per-operator campaigns can't cover:
    reject accounting ACCUMULATED across multiple rejecting steps, play
    order flowing through a re-ordering sort into downstream
    order-dependent ops (limit first-n, unique first-wins — the r9 sort
    re-stamp fix), schema type change mid-chain (as_int flips s to long,
    changing trim's column set and default_values' falsy rule), and the
    kept/reject split staying a consistent partition of the input under
    all of it. r10 widens the step pool with the remaining
    order-dependent ops as chain LINKS: flatten_window (first-of-run
    over consecutive k, consuming and re-emitting play order), join
    (unmatched-left rejects accumulate mid-chain; the left stamp
    survives the 1-1 join), concat (appends a second stamped source —
    play order is left-then-right), and a grouped rows() TERMINAL that
    checks per-key lists come out in final play order. Final kept rows,
    LoadStatistic loaded/rejected, and per-category reject counts must
    all match the model."""
    from collections import Counter

    from gratum_spark import sources

    failures = []
    k_pool = [None, "", "a", "b", "c", "0", " a", "D", "X"]
    v_pool = [None, 0, 1, 2, 3, -5, 7]

    def _sort_key(col, default):
        def keyf(r):
            val = r[col]
            return (val is not None, default if val is None else val)
        return keyf

    for t in range(n):
        rng = random.Random(seed * 1_100_003 + t)
        size = rng.randint(1, 40)
        rows = [
            {
                "i": i,
                "s": rng.choice(COERCE_POOL),
                "k": rng.choice(k_pool),
                "v": rng.choice(v_pool),
            }
            for i in range(size)
        ]
        p = sources.from_collection(
            spark, rows, "i long, s string, k string, v long",
            name="fzchain", ordered=True,
        )
        model = [dict(r) for r in rows]
        rej: Counter = Counter()
        s_is_string = True
        applied: list[str] = []
        ops = ["filter", "unique", "sort", "limit", "trim",
               "defaults", "replace", "as_int", "as_double", "set",
               "fill_down", "flatten", "join", "concat"]
        next_i = size  # id source for concat'd rows
        # concat's left-then-right play-order contract is only VISIBLE
        # to an order-dependent op downstream of it (the r10 mutation
        # table measured one 25-trial seed missing a concat-order
        # break), so every applied concat link is now guaranteed such a
        # witness: draws are biased toward the order-dependent subset
        # while a concat is pending, and a witness step is FORCED at
        # the tail if the chain would end without one. sort does not
        # clear the pending flag — it is stable with a play-order
        # tiebreak, so concat order stays visible through equal keys.
        order_ops = ["fill_down", "flatten", "unique", "limit"]
        n_steps = rng.randint(2, 5)
        step_idx = 0
        pending_concat = False
        while step_idx < n_steps or pending_concat:
            if step_idx >= n_steps:
                op = rng.choice(order_ops)  # forced witness tail
            elif pending_concat and rng.random() < 0.7:
                op = rng.choice(order_ops)
            else:
                op = rng.choice(ops)
            step_idx += 1
            if op in order_ops:
                pending_concat = False
            if op == "filter":
                lit = rng.choice(["a", "b", "c", "0"])
                p = p.filter({"k": lit})
                kept = [r for r in model if r["k"] == lit]
                rej["IGNORE_ROW"] += len(model) - len(kept)
                model = kept
                applied.append(f"filter(k={lit})")
            elif op == "unique":
                p = p.unique("k")
                seen, kept = set(), []
                for r in model:
                    if r["k"] not in seen:
                        seen.add(r["k"])
                        kept.append(r)
                rej["IGNORE_ROW"] += len(model) - len(kept)
                model = kept
                applied.append("unique(k)")
            elif op == "sort":
                col = rng.choice(["v", "k", "i"])
                desc = rng.random() < 0.5
                p = p.sort((col, "desc") if desc else col)
                default = "" if col == "k" else 0
                # asc: nulls first (Groovy null <=> x == -1, Spark asc
                # default); desc: nulls last; stable both ways
                model = sorted(model, key=_sort_key(col, default), reverse=desc)
                applied.append(f"sort({col},{'desc' if desc else 'asc'})")
            elif op == "limit":
                nn = rng.randint(0, size + 2)
                halt = rng.random() < 0.5
                p = p.limit(nn, halt=halt)
                dropped = max(0, len(model) - nn)
                model = model[:nn]
                if not halt:
                    rej["IGNORE_ROW"] += dropped
                applied.append(f"limit({nn},halt={halt})")
            elif op == "trim":
                p = p.trim()
                for r in model:
                    if s_is_string:
                        r["s"] = _java_trim(r["s"])
                    r["k"] = _java_trim(r["k"])
                applied.append("trim")
            elif op == "defaults":
                if rng.random() < 0.5:
                    p = p.default_values({"k": "D"})
                    for r in model:
                        if r["k"] in (None, ""):
                            r["k"] = "D"
                    applied.append("defaults(k)")
                else:
                    p = p.default_values({"v": 7})
                    for r in model:
                        if r["v"] in (None, 0):
                            r["v"] = 7
                    applied.append("defaults(v)")
            elif op == "replace":
                keys = rng.sample([x for x in k_pool if x is not None], 3)
                mapping = {x: rng.choice([None, "", "X", "0"]) for x in keys}
                p = p.replace_values("k", mapping)
                live = {a: b for a, b in mapping.items() if b}
                for r in model:
                    if r["k"] is not None and r["k"] in live:
                        r["k"] = live[r["k"]]
                applied.append(f"replace(k,{mapping!r})")
            elif op == "as_int":
                if not s_is_string:
                    continue
                p = p.as_int("s")
                kept = []
                for r in model:
                    ok, val = _model_as_int(r["s"])
                    if ok:
                        r["s"] = val
                        kept.append(r)
                rej["INVALID_FORMAT"] += len(model) - len(kept)
                model = kept
                s_is_string = False
                applied.append("as_int(s)")
            elif op == "as_double":
                if not s_is_string:
                    continue
                p = p.as_double("s")
                kept = []
                for r in model:
                    ok, val = _model_as_double(r["s"])
                    if ok:
                        r["s"] = val
                        kept.append(r)
                rej["INVALID_FORMAT"] += len(model) - len(kept)
                model = kept
                s_is_string = False
                applied.append("as_double(s)")
            elif op == "fill_down":
                # no-key form: ONE run over the whole play order; fills
                # EVERY Groovy-falsy cell in every column (incl. i=0)
                p = p.fill_down_by()
                model = _seq_fill(
                    model, ["i", "s", "k", "v"], [0] * len(model)
                )
                applied.append("fill_down")
            elif op == "set":
                p = p.set_field("k", "Z")
                for r in model:
                    r["k"] = "Z"
                applied.append("set(k=Z)")
            elif op == "flatten":
                # first row of each run of consecutive equal k (null-safe
                # equality: consecutive Nones are ONE run). The fn sees
                # every column incl. the stamp, so head(1) re-emits the
                # surviving row's own play-order stamp and downstream
                # order-dependent steps keep working.
                p = p.flatten_window("k", lambda pdf: pdf.head(1))
                kept, sentinel = [], object()
                prev = sentinel
                for r in model:
                    if prev is sentinel or r["k"] != prev:
                        kept.append(r)
                    prev = r["k"]
                model = kept
                applied.append("flatten(k)")
            elif op == "join":
                # 1-1 inner join on k against a small unique-key lookup;
                # unmatched left rows (incl. k=None — SQL null equality)
                # reject IGNORE_ROW mid-chain
                univ = [x for x in k_pool if x is not None] + ["Z", "D", "X"]
                rkeys = rng.sample(sorted(set(univ)), rng.randint(1, 6))
                rrows = [{"k2": x, "w": j} for j, x in enumerate(rkeys)]
                rp = sources.from_collection(
                    spark, rrows, "k2 string, w long", name="fzchain_r",
                    ordered=True,
                )
                p = p.join(rp, on={"k": "k2"})
                kept = [r for r in model
                        if r["k"] is not None and r["k"] in rkeys]
                rej["IGNORE_ROW"] += len(model) - len(kept)
                model = kept
                applied.append(f"join(k in {rkeys})")
            elif op == "concat":
                if not s_is_string:
                    continue  # both sides must share the source schema
                extra_n = rng.randint(0, 10)
                xrows = [
                    {
                        "i": next_i + j,
                        "s": rng.choice(COERCE_POOL),
                        "k": rng.choice(k_pool),
                        "v": rng.choice(v_pool),
                    }
                    for j in range(extra_n)
                ]
                next_i += extra_n
                xp = sources.from_collection(
                    spark, xrows, "i long, s string, k string, v long",
                    name="fzchain_x", ordered=True,
                )
                p = p.concat(xp)
                model = model + [dict(r) for r in xrows]
                pending_concat = True  # guarantee an order witness
                applied.append(f"concat(+{extra_n})")

        # terminal grouped-rows check (~1 in 4 trials): per-key lists
        # must come out in FINAL play order — the r9 grouped-rows()
        # play-order contract, composed after an arbitrary chain
        if rng.random() < 0.25:
            gp = p.group_by("k").rows()

            def _nrm(v):
                return "<NaN>" if isinstance(v, float) and v != v else v

            ggot = {
                _nrm(r["k"]): [
                    (_nrm(x["i"]), _nrm(x["s"]), _nrm(x["v"]))
                    for x in r["rows"]
                ]
                for r in gp.df.collect()
            }
            gwant: dict = {}
            for r in model:
                gwant.setdefault(_nrm(r["k"]), []).append(
                    (_nrm(r["i"]), _nrm(r["s"]), _nrm(r["v"]))
                )
            if ggot != gwant:
                dk = next((k for k in gwant if ggot.get(k) != gwant[k]),
                          next(iter(ggot), None))
                failures.append(
                    f"chain trial={t} seed={seed} ops={applied}+rows(): "
                    f"key={dk!r} got={ggot.get(dk)} want={gwant.get(dk)}"
                )
                break
            # grouped-terminal trials still validate reject accounting
            # (r10 ADVICE): the mid-chain join/filter rejects happened
            # on THIS plan regardless of the terminal shape, so go()'s
            # LoadStatistic must agree with the model here too
            stat = p.go()
            cat_ok = all(
                stat.rejections_for(cat) == cnt for cat, cnt in rej.items()
            )
            if (
                stat.loaded != len(model)
                or stat.rejected != sum(rej.values())
                or not cat_ok
            ):
                failures.append(
                    f"chain trial={t} seed={seed} ops={applied}+rows(): "
                    f"loaded={stat.loaded}/{len(model)} "
                    f"rejected={stat.rejected}/{sum(rej.values())} "
                    f"cat_ok={cat_ok}"
                )
                break
            continue  # grouped terminal replaces the row-level compare

        stat = p.go()

        def _norm(r):
            # NaN breaks equality; fill_down can duplicate the identity
            # column, so the sort key is the full normalized tuple
            return tuple(
                "<NaN>" if isinstance(v, float) and v != v else v
                for v in (r["i"], r["s"], r["k"], r["v"])
            )

        got = sorted((_norm(row) for row in p.df.collect()), key=repr)
        want = sorted((_norm(r) for r in model), key=repr)
        cat_ok = all(
            stat.rejections_for(cat) == cnt for cat, cnt in rej.items()
        )
        if (
            got != want
            or stat.loaded != len(model)
            or stat.rejected != sum(rej.values())
            or not cat_ok
        ):
            diff = next(
                ((a, b) for a, b in zip(got, want) if a != b),
                (len(got), len(want)),
            )
            failures.append(
                f"chain trial={t} seed={seed} ops={applied}: first diff "
                f"{diff} loaded={stat.loaded}/{len(model)} "
                f"rejected={stat.rejected}/{sum(rej.values())} cat_ok={cat_ok}"
            )
            break
    return failures


CAMPAIGNS = {
    "fill_down": (fuzz_fill_down, 25),
    "fill_down_ckpt": (_with_checkpoint_dir(fuzz_fill_down), 25),
    "prefix_sum_ckpt": (_with_checkpoint_dir(fuzz_prefix_sum), 15),
    "connected_components_ckpt": (_with_checkpoint_dir(fuzz_connected_components), 20),
    "pagerank_ckpt": (_with_checkpoint_dir(fuzz_pagerank), 20),
    "perplexity": (fuzz_perplexity, 20),
    "pagerank": (fuzz_pagerank, 20),
    "asof": (fuzz_asof, 25),
    "connected_components": (fuzz_connected_components, 20),
    "interval_join": (fuzz_interval_join, 25),
    "flatten_window": (fuzz_flatten_window, 25),
    "csv_roundtrip": (fuzz_csv_roundtrip, 15),
    "csv_splits": (fuzz_csv_splits, 6),
    "jsonl_roundtrip": (fuzz_jsonl_roundtrip, 15),
    "unique_filter": (fuzz_unique_filter, 20),
    "join": (fuzz_join, 20),
    "prefix_sum": (fuzz_prefix_sum, 15),
    "collapse_repeats": (fuzz_collapse_repeats, 25),
    "mixture": (fuzz_mixture, 25),
    "bm25": (fuzz_bm25, 20),
    "resample": (fuzz_resample, 25),
    "duplicate_spans": (fuzz_duplicate_spans, 20),
    "coercions": (fuzz_coercions, 25),
    "dates": (fuzz_dates, 20),
    "chain": (fuzz_chain, 25),
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--campaign", choices=[*CAMPAIGNS, "all"], default="all")
    ap.add_argument("--n", type=int, default=None,
                    help="trials per campaign (default: per-campaign size)")
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()

    spark = _spark()
    names = list(CAMPAIGNS) if args.campaign == "all" else [args.campaign]
    any_failed = False
    for name in names:
        fn, default_n = CAMPAIGNS[name]
        n = args.n if args.n is not None else default_n
        t0 = time.perf_counter()
        failures = fn(spark, n, args.seed)
        dt = time.perf_counter() - t0
        if failures:
            any_failed = True
            print(f"FAIL {name}: {len(failures)} ({dt:.1f}s)")
            for f in failures:
                print(f"  {f}")
        else:
            print(f"PASS {name}: {n} trials ({dt:.1f}s)")
    return 1 if any_failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
