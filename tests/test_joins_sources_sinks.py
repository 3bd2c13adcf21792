"""Join / set-op / source / sink tests mirroring the reference's golden
counts (PipelineTest.groovy:484-546, JsonSourceTest.groovy,
ConcatSourceTest.groovy, CSVFileTest.java — see SURVEY §5)."""

from __future__ import annotations

import glob
import json
import os
import zipfile

import pytest
from pyspark.sql import functions as F

from gratum_spark import RejectionCategory, sinks, sources


# ---------------------------------------------------------------- joins

def test_join_inner_golden(people, hobbies):
    # people ⋈ hobbies on id: ids 1-4 have 2 hobbies each => 8 loaded;
    # person id=5 unmatched => 1 rejected (PipelineTest.groovy:484-503)
    stat = people.join(hobbies, on="id").go()
    assert stat.loaded == 8
    assert stat.rejected == 1
    assert stat.rejections_for(RejectionCategory.IGNORE_ROW) == 1


def test_join_left_golden(people, hobbies):
    # left join: 9 loaded, id=5 row has null hobby (PipelineTest.groovy:506-520)
    p = people.join(hobbies, on="id", left=True)
    assert p.go().loaded == 9
    null_hobby = [r for r in p.df.collect() if r["hobby"] is None]
    assert len(null_hobby) == 1 and null_hobby[0]["id"] == 5


def test_join_left_wins_on_collision(spark, people):
    # right side carries a conflicting 'name' column: left value wins
    # (reference j.putAll(row), Pipeline.groovy:404)
    other = sources.from_collection(
        spark,
        [{"id": 1, "name": "OVERWRITTEN"}],
        "id bigint, name string",
        ordered=False,
    )
    row = {r["id"]: r["name"] for r in people.join(other, on="id").df.collect()}
    assert row[1] == "Bill Rhodes"


def test_join_map_keys(spark, people):
    other = sources.from_collection(
        spark, [{"pid": 1, "x": "a"}, {"pid": 5, "x": "b"}], "pid bigint, x string",
        ordered=False,
    )
    stat = people.join(other, on={"id": "pid"}).go()
    assert stat.loaded == 2


def test_intersect_flag(people, hobbies):
    # intersect adds `included`, filters nothing (Pipeline.groovy:488-505)
    p = people.intersect(hobbies, on="id")
    assert p.go().loaded == 5
    inc = {r["id"]: r["included"] for r in p.df.collect()}
    assert inc == {1: True, 2: True, 3: True, 4: True, 5: False}


def test_concat_null_fills(spark, people):
    other = sources.from_collection(
        spark, [{"id": 99, "extra": "x"}], "id bigint, extra string", ordered=False
    )
    p = people.concat(other)
    assert p.go().loaded == 6
    by_id = {r["id"]: r for r in p.df.collect()}
    assert by_id[99]["name"] is None
    assert by_id[1]["extra"] is None


def test_fill_down_by(spark):
    rows = [
        {"k": "a", "seq": 1, "v": "x"},
        {"k": "a", "seq": 2, "v": None},
        {"k": "a", "seq": 3, "v": ""},
        {"k": "b", "seq": 1, "v": None},  # nothing to carry in group b
        {"k": "b", "seq": 2, "v": "y"},
    ]
    p = sources.from_collection(spark, rows, "k string, seq int, v string")
    got = {
        (r["k"], r["seq"]): r["v"]
        for r in p.fill_down_by(["k"], order_by="seq").df.collect()
    }
    assert got[("a", 2)] == "x" and got[("a", 3)] == "x"
    assert got[("b", 1)] is None and got[("b", 2)] == "y"


def test_flatten_window(spark):
    rows = [
        {"g": "a", "v": 1}, {"g": "a", "v": 2},
        {"g": "b", "v": 3},
        {"g": "a", "v": 4},  # new consecutive run of 'a'
    ]
    p = sources.from_collection(spark, rows, "g string, v int")

    def summarize(pdf):
        return pdf.groupby("g", as_index=False).agg(n=("v", "count"))

    out = p.flatten_window("g", summarize, "g string, n long")
    runs = sorted((r["g"], r["n"]) for r in out.df.collect())
    # three consecutive runs: a(2 rows), b(1), a(1)
    assert runs == [("a", 1), ("a", 2), ("b", 1)]


def test_fill_down_mixed_falsy_chain_matches_reference(spark):
    """Reference recurrence (Pipeline.groovy:443-449): a falsy cell takes
    the PREVIOUS cell's final value unconditionally — so "" after a None
    run-start becomes None (and None after "" becomes ""). A
    last-non-falsy + keep-own-on-miss formulation diverges exactly here
    (found by fuzz, 63/100 random trials)."""
    rows = [
        {"i": 0, "k": "p", "v": None},   # run start: stays None
        {"i": 1, "k": "p", "v": ""},     # falsy: takes prev final -> None
        {"i": 2, "k": "p", "v": "x"},    # non-falsy: keeps x
        {"i": 3, "k": "p", "v": ""},     # falsy: takes x
        {"i": 4, "k": "q", "v": ""},     # new run start: stays ""
        {"i": 5, "k": "q", "v": None},   # falsy: takes prev final -> ""
    ]
    p = sources.from_collection(spark, rows, "i long, k string, v string").fill_down_by(
        lambda row, prev: row["k"] == prev["k"], order_by="i"
    )
    got = [r["v"] for r in sorted(p.df.collect(), key=lambda r: r["i"])]
    assert got == [None, None, "x", "x", "", ""]


def test_fill_down_skips_valid_to_column(spark):
    """Reference parity: fillDownBy never fills a column literally named
    valid_To (Pipeline.groovy:446, a documented wart)."""
    rows = [
        {"i": 0, "k": "p", "valid_To": "keepme", "v": "a"},
        {"i": 1, "k": "p", "valid_To": None, "v": None},
    ]
    p = sources.from_collection(
        spark, rows, "i long, k string, valid_To string, v string"
    ).fill_down_by(["k"], order_by="i")
    got = {r["i"]: r for r in p.df.collect()}
    assert got[1]["v"] == "a"            # normal column fills
    assert got[1]["valid_To"] is None    # valid_To does not


def test_fill_down_decider_runs_span_partitions(spark):
    """The closure-decider fill_down must stitch runs across range
    partitions: values set only at run starts must propagate through
    rows that land in later partitions."""
    rows = []
    for i in range(200):
        k = i // 45  # 45-row runs: cross the ~25-row partition size
        rows.append({"seq": i, "k": k, "v": f"val{k}" if i % 45 == 0 else None})
    p = sources.from_collection(spark, rows, "seq long, k long, v string")
    out = p.fill_down_by(
        lambda row, prev: row["k"] == prev["k"], order_by="seq"
    )
    got = {r["seq"]: r["v"] for r in out.df.collect()}
    assert len(got) == 200
    for i in range(200):
        assert got[i] == f"val{i // 45}", (i, got[i])


def test_flatten_window_runs_span_partitions(spark):
    """The distributed run-id must stitch runs across range-partition
    boundaries: with ~8 shuffle partitions over 200 rows, the long runs
    below cross several partitions (including a 70-row run and a
    null-valued run — eqNullSafe keeps consecutive nulls in ONE run)."""
    vals: list[str | None] = (
        ["a"] * 70 + ["b"] * 3 + [None] * 25 + ["b"] * 40 + ["a"] * 1
        + [None] * 1 + ["c"] * 60
    )
    rows = [{"seq": i, "g": g} for i, g in enumerate(vals)]

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
        return pdf.groupby("g", as_index=False, dropna=False).agg(n=("seq", "count"))

    p = sources.from_collection(spark, rows, "seq long, g string")
    out = p.flatten_window("g", summarize, "g string, n long", order_by="seq")
    got = sorted(
        ((r["g"], r["n"]) for r in out.df.collect()),
        key=lambda t: (t[0] is None, t[0], t[1]),
    )
    want = sorted(expected, key=lambda t: (t[0] is None, t[0], t[1]))
    assert got == want
    # and the run COUNT matches (no run split at a partition boundary)
    assert out.df.count() == len(expected)


# --------------------------------------------------------------- sources

def test_csv_roundtrip_quotes_and_whitespace(tmp_path, spark):
    """save() -> csv() must preserve quote characters (RFC doubled-quote
    escaping like the reference's CSVFile) and leading/trailing field
    whitespace (Spark's writer trims by default — disabled). Caught by
    fuzz r5: 29/30 random roundtrips failed before the fix."""
    rows = [
        {"id": 1, "a": 'with"quote', "b": "  spaces  "},
        {"id": 2, "a": 'quote"and,comma', "b": 'multi\nline"q"'},
        {"id": 3, "a": "plain", "b": "a\r\nb"},
    ]
    path = str(tmp_path / "quoted_csv")
    p = sources.from_collection(spark, rows, "id long, a string, b string")
    p.save(path)
    back = {r["id"]: (r["a"], r["b"]) for r in sources.csv(spark, path).df.collect()}
    assert back["1"] == ('with"quote', "  spaces  ")
    assert back["2"] == ('quote"and,comma', 'multi\nline"q"')
    assert back["3"] == ("plain", "a\r\nb")


def test_csv_roundtrip_multiline(tmp_path, people, spark):
    # save writes always-quoted CSV; multiline comments survive a re-read
    # (reference CSVFileTest.java quoting tests)
    path = str(tmp_path / "people_csv")
    result = people.save(path)
    assert result.df.collect()[0]["filename"] == path
    back = sources.csv(spark, path)
    rows = {r["id"]: r for r in back.df.collect()}
    assert len(rows) == 5
    assert rows["1"]["comment"] == "solid\nguy"


def test_csv_headerless_and_separator(tmp_path, spark):
    f = tmp_path / "raw.psv"
    f.write_text("1|x\n2|y\n")
    p = sources.csv(spark, str(f), separator="|", header=False, columns=["n", "s"])
    got = sorted((r["n"], r["s"]) for r in p.df.collect())
    assert got == [("1", "x"), ("2", "y")]


def test_csv_escaping_off(tmp_path, spark):
    # bare quotes mid-field break RFC parsers; escaping=False splits raw
    # lines (reference CsvSource escaping toggle, CsvSource.groovy:112-129)
    f = tmp_path / "unescaped.csv"
    f.write_text('id,txt\n1,he said "hi" there\n2,plain\n')
    p = sources.csv(spark, str(f), escaping=False)
    got = {r["id"]: r["txt"] for r in p.df.collect()}
    assert got["1"] == 'he said "hi" there'


def test_json_path_descent(tmp_path, spark):
    doc = {"meta": "m", "items": [{"a": 1}, {"a": 2}, {"a": 3}]}
    f = tmp_path / "doc.json"
    f.write_text(json.dumps(doc))
    p = sources.json(spark, str(f), path_expr=["items"])
    assert sorted(r["a"] for r in p.df.collect()) == [1, 2, 3]


def test_jsonl_roundtrip(tmp_path, spark, people):
    path = str(tmp_path / "people_jsonl")
    people.jsonl(path)
    back = sources.jsonl(spark, path)
    assert back.go().loaded == 5


def test_jsonl_writes_explicit_nulls(tmp_path, spark):
    """The reference's JsonSink (JsonOutput.toJson,
    sink/JsonSink.groovy:46-63) serializes null map values as an
    explicit "x": null rather than dropping the key. Spark's json
    writer defaults to ignoreNullFields=true, under which a column
    that is null in EVERY row vanishes from the files and a read-back
    silently loses the field (caught by the jsonl_roundtrip fuzz at
    seed 1307, r13). Pin the explicit-null behavior."""
    rows = [{"id": 1, "a": "x", "num": None},
            {"id": 2, "a": None, "num": None}]
    p = sources.from_collection(spark, rows, "id long, a string, num long")
    path = str(tmp_path / "nulls_jsonl")
    p.jsonl(path)
    # the raw files must carry the null keys, like JsonOutput.toJson
    import glob as _glob
    text = "".join(
        open(f).read() for f in _glob.glob(path + "/part-*")
    )
    assert '"num":null' in text and '"a":null' in text
    # and the round-trip keeps the all-null column as a field
    back = {r["id"]: r.asDict() for r in sources.jsonl(spark, path).df.collect()}
    assert set(back[1]) == {"id", "a", "num"}
    assert back[1]["num"] is None and back[2]["a"] is None
    assert back[1]["a"] == "x"


def test_concat_sources(spark):
    a = sources.from_collection(spark, [{"x": 1}], ordered=False)
    b = sources.from_collection(spark, [{"x": 2}, {"x": 3}], ordered=False)
    assert sources.concat(a, b).go().loaded == 3


def test_files_binary_source(tmp_path, spark):
    (tmp_path / "sub").mkdir()
    (tmp_path / "a.bin").write_bytes(b"alpha")
    (tmp_path / "sub" / "b.bin").write_bytes(b"beta")
    (tmp_path / "skip.txt").write_bytes(b"no")
    p = sources.files(spark, str(tmp_path), glob="*.bin", recursive=True)
    rows = p.df.collect()
    names = sorted(os.path.basename(r["path"]) for r in rows)
    assert names == ["a.bin", "b.bin"]
    assert {bytes(r["content"]) for r in rows} == {b"alpha", b"beta"}


def test_zip_source(tmp_path, spark):
    zpath = tmp_path / "arch.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("one.txt", "1")
        zf.writestr("dir/two.txt", "22")
    p = sources.zip_entries(spark, str(zpath))
    got = {r["entry"]: bytes(r["content"]) for r in p.df.collect()}
    assert got == {"one.txt": b"1", "dir/two.txt": b"22"}


def test_archive_tar_source(tmp_path, spark):
    import tarfile

    tpath = tmp_path / "arch.tar.gz"
    (tmp_path / "payload.txt").write_text("hello")
    with tarfile.open(tpath, "w:gz") as tf:
        tf.add(tmp_path / "payload.txt", arcname="payload.txt")
    p = sources.archive_entries(spark, str(tpath))
    got = {r["entry"]: bytes(r["content"]) for r in p.df.collect()}
    assert got == {"payload.txt": b"hello"}


def test_xlsx_source_gated(tmp_path, spark):
    # openpyxl isn't in this container: the gate must raise
    # NotImplementedError (not ImportError) per the stub contract
    try:
        import openpyxl  # noqa: F401

        pytest.skip("openpyxl present — gate not exercised")
    except ImportError:
        pass
    f = tmp_path / "x.xlsx"
    f.write_bytes(b"not really xlsx")
    with pytest.raises((NotImplementedError, ValueError)):
        sources.xlsx(spark, str(f))


# ----------------------------------------------------------------- sinks

def test_save_column_subset(tmp_path, people, spark):
    path = str(tmp_path / "subset_csv")
    people.save(path, columns=["id", "name"])
    back = sources.csv(spark, path)
    assert back.columns == ["id", "name"]
    assert back.go().loaded == 5


def test_write_single_csv_and_json_array(tmp_path, people):
    csv_path = sinks.write_single_csv(people.df.orderBy("id"), str(tmp_path / "one.csv"))
    header = open(csv_path).readline().strip()
    # every field always-quoted (reference CSVFile.java:229-254)
    assert all(c.startswith('"') and c.endswith('"') for c in header.split(","))
    assert '"id"' in header and '"comment"' in header

    json_path = sinks.write_json_array(people.df.orderBy("id"), str(tmp_path / "arr.json"))
    data = json.load(open(json_path))
    assert [r["id"] for r in data] == [1, 2, 3, 4, 5]


def test_parquet_sink_partitioned(tmp_path, people, spark):
    path = str(tmp_path / "ppl_parquet")
    people.parquet(path, partition_by=["gender"])
    assert glob.glob(f"{path}/gender=male/*.parquet")
    back = sources.parquet(spark, path)
    assert back.go().loaded == 5


# ----------------------------------------------------- pgp + concurrency

def test_pgp_gated(spark, people):
    from gratum_spark.operators import pgp

    try:
        import pgpy  # noqa: F401

        pytest.skip("pgpy present — gate not exercised")
    except ImportError:
        pass
    df = people.df.withColumn("payload", F.encode(F.col("name"), "utf-8"))
    with pytest.raises(NotImplementedError):
        pgp.encrypt_pgp(df, "payload", public_key="---")
    with pytest.raises(NotImplementedError):
        pgp.decrypt_pgp(df, "payload", private_key="---")


def test_spread_collect_shim(people):
    from gratum_spark import LocalConcurrentContext

    ctx = LocalConcurrentContext(4, 50)
    out = (
        ctx.spread(lambda p: p.filter({"gender": "female"}))
        .collect(lambda p: p.sort("id"))
        .connect(people)
    )
    stat = out.go()
    assert stat.loaded == 3
    assert stat.rejected == 2
    assert out.df.rdd.getNumPartitions() == 1  # collector stage


def test_http_fan_out_file_urls(tmp_path, spark):
    # file:// URLs exercise the full fan-out path without a network
    (tmp_path / "a.json").write_text('{"v": 1}')
    (tmp_path / "b.txt").write_text("plain text")
    urls = [
        {"id": 1, "url": f"file://{tmp_path}/a.json"},
        {"id": 2, "url": f"file://{tmp_path}/b.txt"},
        {"id": 3, "url": f"file://{tmp_path}/missing.txt"},
    ]
    df = spark.createDataFrame(urls, "id long, url string")
    from gratum_spark.operators.http import http_fan_out

    out = {r["id"]: r for r in http_fan_out(df).collect()}
    assert out[1]["status"] == 200 and json.loads(out[1]["json"]) == {"v": 1}
    assert out[2]["body"] == "plain text" and out[2]["json"] is None
    assert out[3]["status"] == -1


def test_csv_multiline_false_splittable(tmp_path, spark):
    # multiline=False keeps files splittable at scale (no quoted newlines)
    f = tmp_path / "plain.csv"
    f.write_text("a,b\n1,x\n2,y\n")
    p = sources.csv(spark, str(f), multiline=False)
    assert p.go().loaded == 2


def test_csv_sniff_embedded_newlines(tmp_path):
    from gratum_spark.sources import _sniff_embedded_newlines

    plain = tmp_path / "plain.csv"
    plain.write_text("a,b\n1,x\n2,\"quoted, comma\"\n")
    assert _sniff_embedded_newlines(str(plain)) is False

    embedded = tmp_path / "embedded.csv"
    embedded.write_text('a,b\n1,"line one\nline two"\n')
    assert _sniff_embedded_newlines(str(embedded)) is True

    # doubled "" escape must not flip the quote state machine
    escaped = tmp_path / "escaped.csv"
    escaped.write_text('a,b\n1,"say ""hi"""\n2,y\n')
    assert _sniff_embedded_newlines(str(escaped)) is False

    # file ending inside an open quote (malformed) -> conservative True
    openq = tmp_path / "openq.csv"
    openq.write_text('a,b\n1,"' + "z" * 100 + "\n")
    assert _sniff_embedded_newlines(str(openq)) is True

    # remote-looking path without a session -> conservative True
    assert _sniff_embedded_newlines("s3://bucket/data.csv") is True


def test_csv_sniff_large_files_checked_distributed(tmp_path, spark):
    # r6 review finding: a prefix-only sniff misses a first embedded
    # newline PAST the window and corrupts silently. Files bigger than
    # the local window now get an exact distributed odd-quote-line
    # check — the late embedded newline must be found.
    from gratum_spark.sources import _sniff_embedded_newlines

    late = tmp_path / "late.csv"
    with open(late, "w") as fh:
        fh.write("a,b\n")
        for i in range(200):
            fh.write(f"{i},plain\n")
        fh.write('999,"line one\nline two"\n')  # past a tiny sniff window
    assert _sniff_embedded_newlines(
        str(late), spark, sniff_bytes=64
    ) is True

    clean = tmp_path / "clean_big.csv"
    with open(clean, "w") as fh:
        fh.write("a,b\n")
        for i in range(200):
            fh.write(f'{i},"quoted {i}"\n')
    assert _sniff_embedded_newlines(
        str(clean), spark, sniff_bytes=64
    ) is False

    # no session available for a too-big file -> conservative True
    assert _sniff_embedded_newlines(str(clean), None, sniff_bytes=64) is True


def test_csv_auto_multiline_splittable_and_correct(tmp_path, spark):
    # r5 verdict #5: the multiLine=True parity default made every CSV
    # single-split — the #1 remaining scale caveat. Default is now auto:
    # a newline-free file must read multiLine=False and split into >1
    # input partition; a file WITH quoted newlines must stay on the
    # single-split multiLine path and parse identically.
    big = tmp_path / "big.csv"
    with open(big, "w") as fh:
        fh.write("id,payload\n")
        for i in range(40_000):
            fh.write(f"{i},{'x' * 80}\n")  # ~3.3 MB total

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(512 * 1024))
    try:
        auto = sources.csv(spark, str(big))
        assert auto.df.rdd.getNumPartitions() > 1  # splittable fast path
        assert auto.go().loaded == 40_000
        forced = sources.csv(spark, str(big), multiline=True)
        assert forced.df.rdd.getNumPartitions() == 1  # parity path: 1 task/file
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    emb = tmp_path / "emb.csv"
    emb.write_text('id,note\n1,"first\nsecond"\n2,plain\n')
    rows = {r["id"]: r["note"] for r in sources.csv(spark, str(emb)).df.collect()}
    assert rows == {1: "first\nsecond", 2: "plain"} or \
        rows == {"1": "first\nsecond", "2": "plain"}


def test_csv_bom_and_crlf(spark, tmp_path):
    # reference detects and strips a UTF-8 BOM (csv/CSVFile.java:52-58)
    # and handles CRLF; Spark's reader does both natively — pin it.
    p = tmp_path / "bom.csv"
    p.write_bytes(b"\xef\xbb\xbfname,age\r\nAlice,30\r\nBob,41\r\n")
    pl = sources.csv(spark, str(p))
    assert pl.df.columns == ["name", "age"]
    assert [r["name"] for r in pl.df.sort("name").collect()] == ["Alice", "Bob"]


def test_csv_escaping_off_keeps_data_row_matching_header(tmp_path, spark):
    # a data row whose first field literally equals the header name must
    # survive — the header is dropped positionally, not by value
    f = tmp_path / "h.csv"
    f.write_text("name,role\nname,analyst\nBob,admin\n")
    p = sources.csv(spark, str(f), escaping=False)
    rows = {(r["name"], r["role"]) for r in p.df.collect()}
    assert rows == {("name", "analyst"), ("Bob", "admin")}


def test_legacy_xls_gated_when_xlrd_missing(spark, tmp_path):
    try:
        import xlrd  # noqa: F401
        pytest.skip("xlrd installed; gate not applicable")
    except ImportError:
        pass
    f = tmp_path / "old.xls"
    f.write_bytes(b"\xd0\xcf\x11\xe0fakehssf")
    with pytest.raises(NotImplementedError, match="xlrd"):
        sources.xlsx(spark, str(f))


def test_csv_header_callback(tmp_path, spark):
    # reference: CsvSource.header{} callback, PipelineTest.groovy:980-992
    f = tmp_path / "hc.csv"
    f.write_text("a,b,c\n1,2,3\n")
    seen = []
    p = sources.csv(spark, str(f), on_header=seen.append)
    assert seen == [["a", "b", "c"]]
    stat = p.limit(0, halt=True).go()
    assert stat.loaded == 0


def test_json_text_with_path_and_root(spark):
    # mirrors reference JsonSourceTest.jsonSourceWithPathTest
    text = '''{"status": 200, "items": [
        {"name": "Lamp", "price": 30.0, "color": ["white", "black", "red"]},
        {"name": "Desk", "price": 90.0, "color": ["oak", "pine"]},
        {"name": "Chair", "price": 125.0, "color": ["gray", "black"]}]}'''
    p = sources.json_text(spark, text, path_expr=["items"], include_root=True)
    rows = p.df.collect()
    assert len(rows) == 3
    for r in rows:
        assert r["_root_json"] and len(r["color"]) > 0
    assert {r["name"] for r in rows} == {"Lamp", "Desk", "Chair"}


def test_json_text_record_per_line_include_root(spark):
    # mirrors reference JsonSourceTest.parseRecordPerJson: includeRoot
    # WITHOUT a path must still attach _root_json
    text = '''
        {"firstName": "Bob", "lastName": "Smith", "age": 41}
        {"firstName": "Don", "lastName": "Johnson", "age": 64}
        {"firstName": "Rick", "lastName": "Richards", "age": 72}
        {"firstName": "Frank", "lastName": "Kilgore", "age": 22}
    '''
    p = sources.json_text(spark, text, include_root=True, record_per_line=True)
    stat = p.go()
    assert stat.loaded == 4 and stat.rejected == 0
    for r in p.df.collect():
        assert r["_root_json"] and r["firstName"] and r["age"]


# --------------------------------------------- r3 advice regression tests

def test_save_count_from_write_not_reexecution(tmp_path, spark):
    # the saved-row count must come from the write itself (Observation),
    # not a second execution of the parent plan: with a nondeterministic
    # source a recount would disagree with what was written
    import random

    from pyspark.sql import functions as F

    base = sources.from_collection(
        spark, [{"id": i} for i in range(100)], name="nd"
    )
    seed = random.randint(0, 1 << 30)
    nd = base.filter(F.rand(seed) < 0.5, name="coin")
    result = nd.save(str(tmp_path / "nd_csv"))
    written = len(sources.csv(spark, str(tmp_path / "nd_csv")).df.collect())
    assert result.go().loaded == written


def test_save_result_operators_count_their_own_rows(tmp_path, people, spark):
    # p.save(x).filter(...).go() reports the FILTERED count, not the
    # parent's pre-save count (r2 advice: _count_source leaked through
    # _next to every derived pipeline)
    path = str(tmp_path / "ppl_csv")
    result = people.save(path)
    assert result.go().loaded == 5  # immediate result: parent's count
    derived = result.filter({"filename": "nope"}, name="none")
    assert derived.go().loaded == 0
    kept = result.filter({"filename": path}, name="all")
    assert kept.go().loaded == 1  # its own single result row


def test_save_result_rejecting_every_row_loads_zero(tmp_path, spark):
    # the saved parent rejected rows; a step after the save that rejects
    # the result's one row leaves 0 loaded, not the parent's live count,
    # and the parent's rejections are still reported — also after a
    # second save, whose write observed 0 live rows
    p = sources.from_collection(spark, [{"k": k} for k in "aab"], "k string")
    parent = p.filter({"k": "a"}, name="only_a")
    none = parent.save(str(tmp_path / "a")).filter("false", name="none")
    expected = {"IGNORE_ROW": {"only_a": 1, "none": 1}}
    for stat in (none.go(), none.save(str(tmp_path / "b")).go()):
        assert stat.loaded == 0
        assert stat.rejections == expected


def test_csv_escaping_off_header_drop_across_splits(tmp_path, spark):
    # header drop is anchored on file offset (block start 0), so it stays
    # exact when one file splits into many read tasks (r2 advice: min(mii)
    # per file depends on FilePartition bin-packing)
    f = tmp_path / "wide.csv"
    rows = "\n".join(f'r{i}|x{i}' for i in range(5000))
    f.write_text("a|b\n" + rows + "\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        # the raw scan really splits into multiple read tasks (the window
        # that finds the header collapses partitions downstream, so check
        # the scan itself, not p.df)
        assert spark.read.text(str(f)).rdd.getNumPartitions() > 1
        p = sources.csv(spark, str(f), separator="|", escaping=False)
        got = p.df.collect()
        assert len(got) == 5000  # exactly the header dropped
        assert {r["a"] for r in got} == {f"r{i}" for i in range(5000)}
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_parquet_sink_file_size_and_sort_controls(tmp_path, spark):
    import glob as _glob

    import pyarrow.parquet as _pq

    rows = [{"k": i % 7, "v": i} for i in range(10_000)]
    p = sources.from_collection(spark, rows, "k long, v long", ordered=False)
    out = str(tmp_path / "controlled")
    result = p.parquet(out, max_records_per_file=1000, sort_by=["v"])
    assert result.go().loaded == 10_000

    files = _glob.glob(f"{out}/*.parquet")
    # every file respects the record cap
    assert all(_pq.read_metadata(f).num_rows <= 1000 for f in files)
    # within-file sort: row-group v stats are tight (non-overlapping
    # ordering inside each file)
    f0 = max(files, key=lambda f: _pq.read_metadata(f).num_rows)
    md = _pq.read_metadata(f0)
    col_idx = [md.schema.column(i).name for i in range(md.num_columns)].index("v")
    stats = md.row_group(0).column(col_idx).statistics
    assert stats.has_min_max
    back = spark.read.parquet(out)
    assert back.count() == 10_000
