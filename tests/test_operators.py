"""Operator-level tests mirroring the reference's unit-test tier
(SURVEY.md §5.1: per-operator tests under .../mapreduce/lib/)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hadoop_3_3_6_spark.operators.mapops import inverse_map, parse_field_spec
from hadoop_3_3_6_spark.operators.sort import key_field_sort, parse_key_field_spec
from hadoop_3_3_6_spark.operators.counters import skip_bad_records, with_counters
from hadoop_3_3_6_spark.operators.pipeops import chain, pipe_map
from hadoop_3_3_6_spark.sources.readers import (
    read_key_value_text,
    read_text_lines,
    sample_filter_percent,
    sample_filter_regex,
)
from hadoop_3_3_6_spark.sources.writers import multiple_outputs, write_key_value_text


def test_parse_field_spec():
    # grammar per FieldSelectionHelper.java:27-56
    assert parse_field_spec("4,3,0,1-3,7-") == [(4, 4), (3, 3), (0, 0), (1, 3), (7, None)]
    assert parse_field_spec("2") == [(2, 2)]
    with pytest.raises(ValueError):
        parse_field_spec("x")


def test_parse_key_field_spec():
    assert parse_key_field_spec("-k2,2nr -k1,1") == [(1, True, True), (0, False, False)]
    # reference parseOption silently IGNORES unknown tokens and falls
    # back to the single global (whole-key) description — it does NOT
    # raise (KeyFieldHelper.java:158-175 has no error arm)
    from hadoop_3_3_6_spark.operators.sort import parse_key_field_spec_full

    assert parse_key_field_spec_full("oops") == [(1, 1, 0, 0, False, False)]
    # a malformed -k argument DOES raise (parseKey's
    # IllegalArgumentException / parseInt's NumberFormatException)
    with pytest.raises(ValueError):
        parse_key_field_spec("-k2,2x")
    with pytest.raises(ValueError):
        parse_key_field_spec("-kzap")


def test_parse_key_field_spec_reference_grammar():
    """Round-11 conformance review vs KeyFieldHelper.parseOption/
    parseKey: global -n/-r/-nr apply to flagless keyspecs only; flags
    may sit after pos1; -k f (no pos2) = field f to END OF RECORD
    (endField 0); .0 end char = end of that field; -k may be split
    from its argument; field ranges parse."""
    from hadoop_3_3_6_spark.operators.sort import parse_key_field_spec_full as full

    # global flags fill in flagless keys, flagged keys keep their own
    assert full("-nr -k1,1 -k2,2r") == [(1, 1, 1, 0, True, True), (2, 1, 2, 0, False, True)]
    # flags after pos1 (the -k2n,2 form the old regex rejected)
    assert full("-k2n,2") == [(2, 1, 2, 0, True, False)]
    # no pos2: end field 0 = rest of the record
    assert full("-k2") == [(2, 1, 0, 0, False, False)]
    # char offsets on both ends; .0 = end of field
    assert full("-k2.3,2.5n") == [(2, 3, 2, 5, True, False)]
    assert full("-k2.3,4.0") == [(2, 3, 4, 0, False, False)]
    # detached argument form "-k 2,2"
    assert full("-k 2,2n") == [(2, 1, 2, 0, True, False)]
    # multi-field range
    assert full("-k1,3") == [(1, 1, 3, 0, False, False)]
    # no -k at all: ONE global whole-key description with the flags
    assert full("-r") == [(1, 1, 0, 0, False, True)]
    assert full("") == [(1, 1, 0, 0, False, False)]


def test_inverse_map(spark):
    df = spark.createDataFrame([("a", "1")], "key string, value string")
    out = inverse_map(df).collect()[0]
    assert (out["key"], out["value"]) == ("1", "a")


def test_key_field_sort(spark):
    rows = [("b\t2",), ("a\t10",), ("c\t1",)]
    df = spark.createDataFrame(rows, "line string")
    # numeric reverse on field 2: 10, 2, 1
    out = [r["line"] for r in key_field_sort(df, "line", "-k2,2nr").collect()]
    assert out == ["a\t10", "b\t2", "c\t1"]
    # lexicographic on field 2 would give 1, 10, 2
    out2 = [r["line"] for r in key_field_sort(df, "line", "-k2,2").collect()]
    assert out2 == ["c\t1", "a\t10", "b\t2"]


def test_key_field_sort_differential_vs_reference_algebra(spark):
    """DIFFERENTIAL conformance: for a random tab-record corpus (small
    alphabet, 1-4 fields of 0-3 chars — maximizes ties, empty fields
    and out-of-range offsets) and a battery of specs, every adjacent
    pair of the Spark sort output must compare <= under a direct
    python port of the reference's BYTE-OFFSET key algebra
    (getStartOffset/getEndOffset: prefix-length accumulators, byte
    offsets that legitimately run past their field into the following
    separator/fields, end clamped to the record end; comparison is
    UNSIGNED byte order like compareByteSequence — python ``bytes``
    comparison), with the two documented divergences folded in
    (missing/out-of-range begin -> empty key; numeric specs excluded —
    cast semantics are pinned elsewhere).  The alphabet includes
    2- and 3-byte UTF-8 chars so the round-12 byte-exactness fix
    (offsets over encode(text,'utf-8'), binary compare) is exercised:
    a char-counting port would disagree on these records."""
    import random

    from hadoop_3_3_6_spark.operators.sort import parse_key_field_spec_full

    rng = random.Random(11)

    def rec() -> str:
        nf = rng.randint(1, 4)
        return "\t".join(
            "".join(rng.choice("ab1é→") for _ in range(rng.randint(0, 3)))
            for _ in range(nf)
        )

    rows = [(i, rec()) for i in range(150)]
    df = spark.createDataFrame(rows, "i long, line string")

    def ref_key(line: str, k) -> bytes:
        bf, bc, ef, ec, _n, _r = k
        parts = [p.encode("utf-8") for p in line.split("\t")]
        data = line.encode("utf-8")
        L = len(data)

        def prefix(f: int) -> int:
            return sum(len(parts[j]) + 1 for j in range(f - 1))

        if len(parts) < bf:
            return b""
        start = prefix(bf) + bc - 1  # 0-based
        if start >= L:
            return b""  # the reference's -1 arm, documented as ''
        if ef == 0 or len(parts) < ef:
            end = L - 1
        else:
            pos = prefix(ef) + (len(parts[ef - 1]) if ec == 0 else 0) + ec
            end = min(pos, L) - 1
        if end < start:
            return b""
        return data[start : end + 1]

    specs = [
        "-k2", "-k2,2", "-k1.2,2.1", "-k2,3", "-k1,1r", "-k2.2",
        "-k3.2,3.0", "-r -k2,2 -k1,1", "-k1.3,1.2", "-k2.3", "-k4,4",
        "-k1.1,4.0", "-k2.2,2", "-k3", "-k1,2r -k3,3",
    ]
    for spec in specs:
        keys = parse_key_field_spec_full(spec)
        out = [r["line"] for r in key_field_sort(df, "line", spec).collect()]
        assert sorted(out) == sorted(l for _i, l in rows), spec
        for a, b in zip(out, out[1:]):
            for k in keys:
                ka, kb = ref_key(a, k), ref_key(b, k)
                r = (ka > kb) - (ka < kb)
                if k[5]:
                    r = -r
                if r:
                    break
            assert r <= 0, (spec, a, b, ka, kb)


def test_key_field_sort_range_semantics(spark):
    """Round-11 conformance: -k2 (no pos2) spans field 2 THROUGH THE
    END OF THE RECORD (KeyFieldHelper.getEndOffset endFieldIdx==0 arm)
    — unlike -k2,2 which stops at field 2; char offsets span fields;
    .0 stops at its field's end."""
    rows = [("x\tb\tz",), ("y\tb\ta",), ("w\tb\tm",)]
    df = spark.createDataFrame(rows, "line string")
    # field 2 is 'b' everywhere; -k2,2 ties -> input order is arbitrary,
    # but -k2 extends into field 3 and must order by it: a, m, z
    out = [r["line"] for r in key_field_sort(df, "line", "-k2").collect()]
    assert out == ["y\tb\ta", "w\tb\tm", "x\tb\tz"]
    # char range spanning fields: -k1.3,2.1 = chars 3.. of field 1,
    # the separator, then char 1 of field 2
    rows2 = [("ab9\t5x",), ("ab1\t7x",), ("ab1\t3x",)]
    df2 = spark.createDataFrame(rows2, "line string")
    out2 = [r["line"] for r in key_field_sort(df2, "line", "-k1.3,2.1").collect()]
    # keys: '9\t5', '1\t7', '1\t3' -> sorted: 1\t3, 1\t7, 9\t5
    assert out2 == ["ab1\t3x", "ab1\t7x", "ab9\t5x"]
    # .0 end: -k1.2,1.0 = field 1 from char 2 to its end (not beyond)
    rows3 = [("aZ\tz",), ("aA\ty",)]
    df3 = spark.createDataFrame(rows3, "line string")
    out3 = [r["line"] for r in key_field_sort(df3, "line", "-k1.2,1.0").collect()]
    assert out3 == ["aA\ty", "aZ\tz"]
    # global flags: '-nr -k2,2' sorts field 2 numeric reverse
    rows4 = [("a\t2",), ("b\t10",)]
    df4 = spark.createDataFrame(rows4, "line string")
    out4 = [r["line"] for r in key_field_sort(df4, "line", "-nr -k2,2").collect()]
    assert out4 == ["b\t10", "a\t2"]


def test_corrupt_record_tolerant_scans(spark, tmp_path):
    """SkipBadRecords for structured text formats: PERMISSIVE scans
    quarantine malformed lines into _corrupt_record instead of failing
    the job; DROPMALFORMED silently skips them — the bad-row-tolerance
    a crawl-scale ingest relies on."""
    p = tmp_path / "mixed.jsonl"
    p.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\nTHIS IS NOT JSON\n{"a": 3}\n')
    schema = "a long, b string, _corrupt_record string"
    perm = spark.read.schema(schema).option("mode", "PERMISSIVE").json(str(p)).cache()
    assert perm.count() == 4
    bad = perm.filter("_corrupt_record is not null").collect()
    assert len(bad) == 1 and "NOT JSON" in bad[0]._corrupt_record
    perm.unpersist()
    dropped = spark.read.schema("a long, b string").option("mode", "DROPMALFORMED").json(str(p))
    assert dropped.count() == 3

    c = tmp_path / "mixed.csv"
    c.write_text("a,b\n1,x\nnot_a_number,y\n3,z\n")
    csv_drop = (
        spark.read.option("header", True)
        .schema("a long, b string")
        .option("mode", "DROPMALFORMED")
        .csv(str(c))
    )
    assert [r.a for r in csv_drop.collect()] == [1, 3]


def test_text_and_kv_readers(spark, tmp_path):
    p = tmp_path / "in.txt"
    p.write_text("k1\tv1\nk2\tv2 with tabs\tv2b\nno-separator\n")
    lines = read_text_lines(spark, str(p))
    assert lines.count() == 3
    kv = {r["key"]: r["value"] for r in read_key_value_text(spark, str(p)).collect()}
    # split on FIRST tab only (KeyValueTextInputFormat semantics)
    assert kv == {"k1": "v1", "k2": "v2 with tabs\tv2b", "no-separator": ""}


def test_sample_filters(spark):
    df = spark.range(1000).select(F.col("id").cast("string").alias("key"))
    kept = sample_filter_percent(df, "key", 10).count()
    assert 50 < kept < 200  # ~10% deterministic hash sample
    # determinism
    assert kept == sample_filter_percent(df, "key", 10).count()
    assert sample_filter_regex(df, "key", "^1.$").count() == 10
    # RegexFilter is a FULL-string match (Matcher.matches, round-11
    # review): '1.' accepts only the two-char 1x keys, never '312'
    assert sample_filter_regex(df, "key", "1.").count() == 10
    assert sample_filter_regex(df, "key", "1").count() == 1
    # top-level alternation survives the anchoring group
    assert sample_filter_regex(df, "key", "7|42").count() == 2


def test_sample_filter_md5_matches_reference_arithmetic(spark):
    """MD5Filter differential: accept iff the first 8 bytes of
    MD5(utf8(key)), read as a big-endian SIGNED long, are divisible by
    the frequency — python-ported per key and compared exactly."""
    import hashlib
    import struct

    from hadoop_3_3_6_spark.sources.readers import sample_filter_md5

    df = spark.range(500).select(F.col("id").cast("string").alias("key"))
    for freq in (2, 7, 10):
        kept = {r.key for r in sample_filter_md5(df, "key", freq).collect()}
        expect = set()
        for i in range(500):
            (h,) = struct.unpack(
                ">q", hashlib.md5(str(i).encode()).digest()[:8]
            )
            if h % freq == 0:
                expect.add(str(i))
        assert kept == expect, freq


def test_sample_filter_md5_binary_keys_hash_raw_bytes(spark):
    """Round-12 ADVICE fix: a BINARY key column hashes its RAW bytes
    (the BytesWritable arm of MD5Filter.accept) — pinned on keys with
    non-UTF-8 bytes (0xFF, 0x80 continuation without lead) that the
    r11 binary->string cast would have mangled."""
    import hashlib
    import struct

    from hadoop_3_3_6_spark.sources.readers import sample_filter_md5

    rows = [(bytes([i, 0xFF, 0x80, i ^ 0x5A]),) for i in range(200)]
    df = spark.createDataFrame(rows, "key binary")
    for freq in (3, 7):
        kept = {bytes(r.key) for r in sample_filter_md5(df, "key", freq).collect()}
        expect = {
            k
            for (k,) in rows
            if struct.unpack(">q", hashlib.md5(k).digest()[:8])[0] % freq == 0
        }
        assert kept == expect, freq


def test_sample_filter_percent_positional(spark):
    """The faithful positional PercentFilter: per-partition counter,
    record 0 of each partition accepted then every f-th — pinned on a
    single partition where order is the data order."""
    from hadoop_3_3_6_spark.sources.readers import (
        sample_filter_percent_positional,
    )

    df = (
        spark.range(20)
        .select(F.col("id").cast("string").alias("key"))
        .coalesce(1)
    )
    kept = [r.key for r in sample_filter_percent_positional(df, 5).collect()]
    assert kept == ["0", "5", "10", "15"]
    # two partitions: each reader restarts its counter (the per-split
    # reference behavior — membership is layout-dependent by design)
    df2 = spark.range(10).select(F.col("id").cast("string").alias("key")).repartitionByRange(2, "id")
    kept2 = sample_filter_percent_positional(df2, 5).count()
    assert kept2 == 2  # record 0 of each of the 2 readers


def test_kv_text_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "key string, value int")
    out = str(tmp_path / "out")
    write_key_value_text(df, out)
    back = {r["key"]: r["value"] for r in read_key_value_text(spark, out).collect()}
    assert back == {"a": "1", "b": "2"}


def test_multiple_outputs(spark, tmp_path):
    df = spark.createDataFrame([("x", "r1"), ("y", "r1"), ("z", "r2")], "v string, route string")
    out = str(tmp_path / "routed")
    multiple_outputs(df, out, "route")
    assert sorted(d for d in os.listdir(out) if d.startswith("route=")) == ["route=r1", "route=r2"]
    back = spark.read.parquet(out)
    assert back.filter("route = 'r1'").count() == 2


def test_multiple_outputs_expression_route(spark, tmp_path):
    """Per-record arbitrary baseOutputPath (MultipleOutputs.java:474):
    a record-derived route EXPRESSION plus a second segment expression
    yields nested dynamic directories from one partitioned write."""
    df = spark.createDataFrame(
        [("a", 2023, 1), ("b", 2023, 9), ("c", 2024, 3)], "v string, yr int, n int"
    )
    out = str(tmp_path / "dyn")
    multiple_outputs(
        df,
        out,
        [F.concat(F.lit("y"), F.col("yr").cast("string")), F.when(F.col("n") < 5, "small").otherwise("large")],
        route_name="seg",
    )
    dirs = sorted(d for d in os.listdir(out) if d.startswith("seg="))
    assert dirs == ["seg=y2023", "seg=y2024"]
    nested = sorted(os.listdir(os.path.join(out, "seg=y2023")))
    assert [d for d in nested if d.startswith("seg_1=")] == ["seg_1=large", "seg_1=small"]
    back = spark.read.parquet(out)
    assert {(r.v, r.seg, r.seg_1) for r in back.collect()} == {
        ("a", "y2023", "small"),
        ("b", "y2023", "large"),
        ("c", "y2024", "small"),
    }


def test_counters_observe(spark):
    df = spark.range(100).withColumn("v", F.col("id") % 10)
    counted, obs = with_counters(df, {"records": F.count(F.lit(1)), "zeros": F.count_if(F.col("v") == 0)})
    counted.write.format("noop").mode("overwrite").save()
    assert obs.get == {"records": 100, "zeros": 10}


def test_skip_bad_records(spark):
    df = spark.range(100).withColumn("qty", F.when(F.col("id") % 7 == 0, -1).otherwise(F.col("id")))
    clean, obs = skip_bad_records(df, F.col("qty") >= 0)
    assert clean.count() == 85
    got = obs.get
    assert got["input_records"] == 100 and got["skipped_records"] == 15


def test_pipe_map_and_chain(spark):
    df = spark.createDataFrame([("hello",), ("world",)], "w string")
    out = sorted(r["line"] for r in pipe_map(df, "tr a-z A-Z").collect())
    assert out == ["HELLO", "WORLD"]
    chained = chain(
        df,
        lambda d: d.withColumn("w2", F.upper("w")),
        lambda d: d.filter(F.col("w2") == "HELLO"),
    )
    assert chained.count() == 1


def test_pipe_map_fails_on_nonzero_child_exit(spark):
    """A child that prints a partial answer and exits non-zero fails
    the job instead of returning its partial lines as rows."""
    df = spark.createDataFrame([("hello",), ("world",)], "w string")
    with pytest.raises(Exception, match="exited with error code 3"):
        pipe_map(df, "sh -c 'cat >/dev/null; echo partial; exit 3'").collect()


def test_partitioned_sink_prunes_on_read(spark, tmp_path):
    """MultipleOutputs routing property at scale: reading one route
    back only scans that route's directory (PartitionFilters on the
    scan, not a post-filter over all routes)."""
    df = spark.range(1000).select(
        F.col("id").alias("v"), (F.col("id") % 4).cast("string").alias("route")
    )
    out = str(tmp_path / "routed")
    multiple_outputs(df, out, "route")
    back = spark.read.parquet(out).filter(F.col("route") == "2")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(route" in plan, plan
    assert back.count() == 250


def test_nline_repartition(spark, tmp_path):
    """NLineInputFormat (…/lib/input/NLineInputFormat.java:63): control
    parallelism per N input lines — Spark-side repartition."""
    p = tmp_path / "lines.txt"
    p.write_text("".join(f"l{i}\n" for i in range(100)))
    df = read_text_lines(spark, str(p)).repartition(10)
    assert df.rdd.getNumPartitions() == 10
    assert df.count() == 100


def test_key_field_partitioner(spark):
    """KeyFieldBasedPartitioner (…/lib/partition/KeyFieldBasedPartitioner.java:51):
    partition on a subset of key fields — rows with the same field land
    in the same partition."""
    rows = [(f"{i % 5}\tpayload{i}",) for i in range(100)]
    df = spark.createDataFrame(rows, "line string")
    parts = df.repartition(5, F.split(F.col("line"), "\t")[0])
    per_part = parts.withColumn("pid", F.spark_partition_id()).select(
        F.split(F.col("line"), "\t")[0].alias("k"), "pid"
    )
    # each key maps to exactly one partition id
    assert per_part.groupBy("k").agg(F.countDistinct("pid").alias("n")).filter("n > 1").count() == 0


def test_field_selection_kv(spark):
    """keySpec:valueSpec form (FieldSelectionHelper.java:27-56)."""
    from hadoop_3_3_6_spark.operators.mapops import field_selection_kv

    df = spark.createDataFrame([("a\tb\tc\td",)], "line string")
    out = field_selection_kv(df, "line", "2:0,3-").collect()[0]
    assert out["key"] == "c"
    assert out["value"] == "a\td"
    with pytest.raises(ValueError):
        field_selection_kv(df, "line", "2,0")


def test_key_field_sort_char_offsets(spark):
    """-k1.2,1.3 sorts on characters 2-3 of field 1."""
    rows = [("xBAy\t1",), ("xABy\t2",), ("xCAy\t3",)]
    df = spark.createDataFrame(rows, "line string")
    out = [r["line"] for r in key_field_sort(df, "line", "-k1.2,1.4").collect()]
    assert out == ["xABy\t2", "xBAy\t1", "xCAy\t3"]


def test_hash_split_stable_under_growth(spark, sf_dir):
    """A doc's split assignment is a pure function of its id: computing
    the split over a half-corpus subset gives the same labels as over
    the full corpus (the property rand()-sampling lacks)."""
    from hadoop_3_3_6_spark.functions.sampling import hash_split
    from hadoop_3_3_6_spark.session import load_table

    docs = load_table(spark, "documents", sf_dir)
    full = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").select("doc_id", "split").collect()}
    sub = hash_split(docs.filter(F.col("doc_id") % 2 == 0), "doc_id").select("doc_id", "split").collect()
    assert sub and all(full[r["doc_id"]] == r["split"] for r in sub)
    assert {"train", "val", "test"} >= set(full.values())


def test_global_shuffle_is_permutation(spark, sf_dir):
    """(block, pos) is a total order: positions are dense per block and
    every input row appears exactly once."""
    from hadoop_3_3_6_spark.functions.sampling import global_shuffle
    from hadoop_3_3_6_spark.session import load_table

    docs = load_table(spark, "documents", sf_dir)
    out = global_shuffle(docs, "doc_id", num_blocks=8).select("doc_id", "block", "pos").collect()
    assert len(out) == docs.count()
    assert len({r["doc_id"] for r in out}) == len(out)
    by_block = {}
    for r in out:
        by_block.setdefault(r["block"], []).append(r["pos"])
    for poss in by_block.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def _dt(s):
    from datetime import datetime, timezone

    return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)


def test_asof_join_matches_naive_reference(spark):
    """Randomized (seeded) as-of join vs the obvious per-row reference:
    latest right row per key with rtime <= ltime, ties broken by max
    tiebreak."""
    import random

    from hadoop_3_3_6_spark.operators.joins import asof_join

    rng = random.Random(7)
    left = [(i, rng.randrange(10), _dt(rng.randrange(0, 1000))) for i in range(200)]
    right = [(rid, rng.randrange(10), _dt(rng.randrange(0, 1000)), rng.randrange(100)) for rid in range(100)]
    ldf = spark.createDataFrame(left, "lid int, k int, t timestamp")
    rdf = spark.createDataFrame(right, "rid int, k int, t timestamp, val int")
    out = asof_join(
        ldf, rdf, left_on="k", right_on="k", left_time="t", right_time="t",
        value_cols=["rid", "val"], tiebreak_col="rid",
    ).collect()
    expected = {}
    for lid, lk, lt in left:
        cands = [(t, rid, val) for rid, rk, t, val in right if rk == lk and t <= lt]
        expected[lid] = max(cands)[1:] if cands else (None, None)
    assert len(out) == len(left)
    for r in out:
        assert (r["asof_rid"], r["asof_val"]) == expected[r["lid"]], r["lid"]

    # forward direction: earliest right at-or-after, ties -> MIN tiebreak
    fwd = asof_join(
        ldf, rdf, left_on="k", right_on="k", left_time="t", right_time="t",
        value_cols=["rid", "val"], tiebreak_col="rid", direction="forward",
    ).collect()
    fexp = {}
    for lid, lk, lt in left:
        cands = [(t, rid, val) for rid, rk, t, val in right if rk == lk and t >= lt]
        fexp[lid] = min(cands)[1:] if cands else (None, None)
    assert len(fwd) == len(left)
    for r in fwd:
        assert (r["asof_rid"], r["asof_val"]) == fexp[r["lid"]], r["lid"]

    # nearest: smaller |delta| wins, ties -> backward
    near = asof_join(
        ldf, rdf, left_on="k", right_on="k", left_time="t", right_time="t",
        value_cols=["rid", "val"], tiebreak_col="rid", direction="nearest",
    ).collect()
    nexp = {}
    for lid, lk, lt in left:
        b = [(t, rid, val) for rid, rk, t, val in right if rk == lk and t <= lt]
        f = [(t, rid, val) for rid, rk, t, val in right if rk == lk and t >= lt]
        bpick = max(b) if b else None
        fpick = min(f) if f else None
        if bpick is None and fpick is None:
            nexp[lid] = (None, None)
        elif bpick is None:
            nexp[lid] = fpick[1:]
        elif fpick is None or (fpick[0] - lt) >= (lt - bpick[0]):
            nexp[lid] = bpick[1:]
        else:
            nexp[lid] = fpick[1:]
    assert len(near) == len(left)
    for r in near:
        assert (r["asof_rid"], r["asof_val"]) == nexp[r["lid"]], r["lid"]


def test_interval_join_matches_naive_reference(spark):
    """Randomized (seeded) bucketed interval join vs the all-pairs
    reference — intervals span multiple buckets, so the explode +
    post-filter path is exercised."""
    import random

    from hadoop_3_3_6_spark.operators.joins import interval_join_bucketed

    rng = random.Random(11)
    left = [(i, rng.randrange(6), _dt(rng.randrange(0, 500))) for i in range(150)]
    right = []
    for rid in range(60):
        s = rng.randrange(0, 500)
        right.append((rid, rng.randrange(6), _dt(s), _dt(s + rng.randrange(1, 120))))
    ldf = spark.createDataFrame(left, "lid int, k int, t timestamp")
    rdf = spark.createDataFrame(right, "rid int, k int, s timestamp, e timestamp")
    out = interval_join_bucketed(
        ldf, rdf, "k", "k", "t", "s", "e", bucket_seconds=30
    ).select("lid", "rid").collect()
    got = {(r["lid"], r["rid"]) for r in out}
    want = {
        (lid, rid)
        for lid, lk, lt in left
        for rid, rk, s, e in right
        if rk == lk and s <= lt < e
    }
    assert got == want


def test_key_field_sort_regex_special_separator(spark):
    """Separators that are regex metacharacters ('.', '|') must split
    literally — a double-escaped pattern would never split on '.' and
    would split '|' between every character."""
    rows = [("b.2",), ("a.10",), ("c.1",)]
    df = spark.createDataFrame(rows, "line string")
    out = [r["line"] for r in key_field_sort(df, "line", "-k2,2nr", sep=".").collect()]
    assert out == ["a.10", "b.2", "c.1"]
    df2 = spark.createDataFrame([("b|2",), ("a|10",), ("c|1",)], "line string")
    out2 = [r["line"] for r in key_field_sort(df2, "line", "-k2,2nr", sep="|").collect()]
    assert out2 == ["a|10", "b|2", "c|1"]


def test_key_field_sort_multibyte_separator_byte_offsets(spark):
    """A MULTI-BYTE UTF-8 separator ('→', 3 bytes) exercises the
    round-12 byte-exactness fix end-to-end: the prefix-length
    accumulator must advance by the separator's BYTE length, and a
    `.c` position that overruns its field must continue into the
    separator's bytes exactly as the reference's raw offset
    arithmetic does."""
    rows = [("bb→z",), ("aa→y",), ("cc→x",)]
    df = spark.createDataFrame(rows, "line string")
    # plain field sort across the 3-byte separator
    out = [r["line"] for r in key_field_sort(df, "line", "-k2,2", sep="→").collect()]
    assert out == ["cc→x", "aa→y", "bb→z"]
    # -k1.3,1.4: bytes 3..4 of the record = the separator's FIRST TWO
    # BYTES on every row (field 1 is 2 bytes) -> all keys tie, and the
    # secondary -k2,2 breaks the tie; a char-counting implementation
    # would instead read '→' + the field-2 char and still "work", so
    # pin the byte reading directly too
    out2 = [
        r["line"]
        for r in key_field_sort(df, "line", "-k1.3,1.4 -k2,2", sep="→").collect()
    ]
    assert out2 == ["cc→x", "aa→y", "bb→z"]
    # byte-identity of the extracted extent: -k1.3 runs from byte 3 to
    # the record end -> on 'aa→y' that is the 3 separator bytes + 'y';
    # keys '\xe2\x86\x92x' < '...y' < '...z' orders exactly as -k2,2
    out3 = [r["line"] for r in key_field_sort(df, "line", "-k1.3", sep="→").collect()]
    assert out3 == ["cc→x", "aa→y", "bb→z"]


def test_regex_map_backslash_and_quote_patterns(spark):
    """Patterns with backslash classes and quotes must survive intact —
    SQL-literal interpolation would eat the backslash ('\\d+' -> 'd+')
    and a quote would break the expression."""
    from hadoop_3_3_6_spark.operators.mapops import regex_map

    df = spark.createDataFrame([("a1 bb22 c333 don't",)], "text string")
    out = sorted(r["match"] for r in regex_map(df, "text", r"\d+").collect())
    assert out == ["1", "22", "333"]
    out2 = [r["match"] for r in regex_map(df, "text", r"don't").collect()]
    assert out2 == ["don't"]
    # the RegexMapper GROUP knob (mapreduce.mapper.regexmapper.group):
    # emit a capture group instead of the whole match
    out3 = sorted(
        r["match"] for r in regex_map(df, "text", r"([a-z])(\d+)", group=2).collect()
    )
    assert out3 == ["1", "22", "333"]


def test_token_counter_stringtokenizer_delimiters(spark):
    """StringTokenizer's default delimiter set is exactly
    ' \\t\\n\\r\\f' — vertical tab (\\x0B) is token CONTENT, not a
    delimiter (round-11 review; \\s+ would split on it)."""
    from hadoop_3_3_6_spark.operators.mapops import token_counter

    df = spark.createDataFrame([("a b\tc\nd\re\ff g\x0bh",)], "text string")
    toks = [r["word"] for r in token_counter(df, "text").collect()]
    assert toks == ["a", "b", "c", "d", "e", "f", "g\x0bh"]


def test_salted_join_rejects_outer_types(spark):
    from hadoop_3_3_6_spark.operators.skew import salted_join

    big = spark.range(10).select((F.col("id") % 3).alias("k"), F.col("id").alias("v"))
    small = spark.createDataFrame([(0, "z"), (7, "unmatched")], "k long, name string")
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(big, small, "k", how="full_outer")
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(big, small, "k", how="right")
    # left join multiplicity is preserved for the big side
    assert salted_join(big, small, "k", how="left").count() == 10


def test_merge_upsert_arms_and_passthrough(spark):
    """All three MERGE arms in one op: matched keys take source values
    (columns absent from the source pass through), source-only keys
    insert, tombstoned matches delete.  Unmatched tombstones are
    no-ops."""
    from hadoop_3_3_6_spark.operators.joins import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, name string, v double"
    )
    source = spark.createDataFrame(
        [(2, 99.0, False), (4, 40.0, False), (3, 0.0, True), (9, 0.0, True)],
        "k long, v double, dead boolean",
    )
    out = {
        r["k"]: r
        for r in merge_upsert(
            target, source, on="k", tombstone_col="dead", action_col="act"
        ).collect()
    }
    assert sorted(out) == [1, 2, 4]
    assert out[1]["name"] == "a" and out[1]["v"] == 10.0 and out[1]["act"] == "keep"
    # matched: v from source, name passes through from target
    assert out[2]["v"] == 99.0 and out[2]["name"] == "b" and out[2]["act"] == "update"
    assert out[4]["v"] == 40.0 and out[4]["name"] is None and out[4]["act"] == "insert"


def test_merge_upsert_randomized_reference(spark):
    """Seeded randomized equivalence against a plain-Python MERGE
    reference over overlapping key ranges with tombstones."""
    import numpy as np

    rng = np.random.default_rng(23)
    tgt = [(int(k), float(v)) for k, v in zip(rng.choice(60, 40, replace=False), rng.integers(0, 100, 40))]
    src = [
        (int(k), float(v), bool(d))
        for k, v, d in zip(
            rng.choice(80, 30, replace=False), rng.integers(100, 200, 30), rng.integers(0, 2, 30)
        )
    ]
    from hadoop_3_3_6_spark.operators.joins import merge_upsert

    target = spark.createDataFrame(tgt, "k long, v double")
    source = spark.createDataFrame(src, "k long, v double, dead boolean")
    got = {r["k"]: r["v"] for r in merge_upsert(target, source, on="k", tombstone_col="dead").collect()}

    want = dict(tgt)
    for k, v, dead in src:
        if dead:
            want.pop(k, None)  # unmatched tombstone: no-op insert-skip
        else:
            want[k] = v
    # reference also inserts non-dead source-only keys (dict update above covers it)
    assert got == want


def test_sentence_split_udtf_lateral(spark):
    """The Python UDTF tier: registered table function, lateral join
    row expansion, output parity with the built-in fast path."""
    from hadoop_3_3_6_spark.functions.udfs import sentence_split_udtf

    SentenceSplit = sentence_split_udtf()
    spark.udtf.register("split_sentences", SentenceSplit)
    df = spark.createDataFrame(
        [(1, "a b. c d! e"), (2, ""), (3, "one?  two. ")], "doc_id long, text string"
    )
    df.createOrReplaceTempView("_udtf_docs")
    got = spark.sql(
        "SELECT s.* FROM _udtf_docs, LATERAL split_sentences(doc_id, text) s ORDER BY doc_id, sent_idx"
    ).collect()
    want = [(1, 0, "a b"), (1, 1, "c d"), (1, 2, "e"), (3, 0, "one"), (3, 1, "two")]
    assert [tuple(r) for r in got] == want


def test_audit_checks_counts_violations(spark):
    from hadoop_3_3_6_spark.operators.counters import audit_checks

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -5.0, "B"), (None, 0.0, "A"), (4, None, "C")],
        "k long, v double, s string",
    )
    out = {r["check"]: r for r in audit_checks(df, {
        "k_not_null": F.col("k").isNotNull(),
        "v_positive": F.col("v") > 0,
        "s_in_domain": F.col("s").isin("A", "B"),
    }).collect()}
    assert out["k_not_null"]["n_bad"] == 1 and not out["k_not_null"]["passed"]
    # a NULL v VIOLATES v > 0 (round-9 contract: a check is violated
    # when its predicate is not TRUE — Deequ's compliance counting;
    # the earlier three-valued-NOT form silently passed NULL fields
    # through range/domain checks)
    assert out["v_positive"]["n_bad"] == 3
    assert out["s_in_domain"]["n_bad"] == 1
    assert all(r["n_rows"] == 4 for r in out.values())


def test_audit_checks_hostile_names_and_empty(spark):
    """Check names are labels, not SQL identifiers: quotes/backticks
    must pass through; the empty dict is rejected loudly."""
    from hadoop_3_3_6_spark.operators.counters import audit_checks

    df = spark.createDataFrame([(1,), (None,)], "k long")
    out = {r["check"]: r["n_bad"] for r in audit_checks(df, {
        "it's a `weird` name": F.col("k").isNotNull(),
        "_total": F.col("k").isNotNull(),
    }).collect()}
    assert out == {"it's a `weird` name": 1, "_total": 1}
    with pytest.raises(ValueError, match="at least one"):
        audit_checks(df, {})


def test_scd2_collapse_randomized_reference(spark):
    """Seeded randomized equivalence against a plain-Python interval
    builder over timelines with duplicate timestamps and repeated
    attribute runs."""
    import numpy as np

    rng = np.random.default_rng(31)
    rows = []
    for key in range(6):
        for seq in range(rng.integers(1, 12)):
            rows.append((key, int(rng.integers(0, 50)), str(rng.choice(["a", "b", "c"])), seq))
    from hadoop_3_3_6_spark.operators.joins import scd2_collapse

    df = spark.createDataFrame(rows, "k long, ts long, attr string, tb long")
    got = {
        (r.k, r.version): (r.attr, r.valid_from, r.valid_to, r.is_current, r.n_rows)
        for r in scd2_collapse(df, "k", "attr", "ts", "tb").collect()
    }

    want = {}
    for key in {r[0] for r in rows}:
        timeline = sorted((r for r in rows if r[0] == key), key=lambda r: (r[1], r[3]))
        runs = []
        for _, ts, attr, _tb in timeline:
            if not runs or runs[-1][0] != attr:
                runs.append([attr, ts, 0])
            runs[-1][2] += 1
        for v, (attr, start, n) in enumerate(runs, start=1):
            nxt = runs[v][1] if v < len(runs) else None
            want[(key, v)] = (attr, start, nxt, nxt is None, n)
    assert got == want


def test_fuzzy_join_matches_python_reference(spark):
    """fuzzy_join vs a straight DP levenshtein reference: same pairs,
    same distances, within-block only, threshold exact (the -1 rows
    from the banded JVM levenshtein must be filtered, never surface)."""
    from pyspark.sql import functions as F

    from hadoop_3_3_6_spark.operators.joins import fuzzy_join

    names = [
        (1, "martha stone"), (2, "marhta stone"), (3, "martin stone"),
        (4, "bob iron"), (5, "rob iron"), (6, "bobby ironman"),
        (7, "zed"), (8, "martha stonework"),
    ]

    def lev(a, b):
        m, n = len(a), len(b)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (a[i - 1] != b[j - 1]))
            prev = cur
        return prev[n]

    blk = lambda s: s[0]  # block on first letter
    expect = {
        (a_id, b_id): lev(a, b)
        for a_id, a in names
        for b_id, b in names
        if a_id < b_id and blk(a) == blk(b) and lev(a, b) <= 3
    }

    left = spark.createDataFrame(names, "left_id long, left_name string")
    right = spark.createDataFrame(names, "right_id long, right_name string")
    got = {
        (r.left_id, r.right_id): r.edit_distance
        for r in fuzzy_join(
            left, right, "left_name", "right_name",
            F.substring("left_name", 1, 1), F.substring("right_name", 1, 1),
            max_distance=3,
            pair_filter=F.col("left_id") < F.col("right_id"),
        ).collect()
    }
    assert got == expect
    assert all(d >= 0 for d in got.values())


def test_fuzzy_join_distinct_mode_preserves_multiplicity(spark):
    """distinct_values=True compares DISTINCT (block, value) pairs and
    re-expands — with duplicated values both modes must emit the SAME
    row-level pairs (each duplicate pairing once), and the distinct
    mode's quadratic stage must not see the duplicates."""
    from pyspark.sql import functions as F

    from hadoop_3_3_6_spark.operators.joins import fuzzy_join

    rows = [(1, "alpha beta"), (2, "alpha beta"), (3, "alpha betb"), (4, "alpha beta"), (5, "gamma")]
    left = spark.createDataFrame(rows, "left_id long, left_name string")
    right = spark.createDataFrame(
        [(i + 10, n) for i, n in rows], "right_id long, right_name string"
    )
    kwargs = dict(
        max_distance=2,
        pair_filter=F.col("left_id") + 10 < F.col("right_id"),
    )
    args = (left, right, "left_name", "right_name",
            F.substring("left_name", 1, 1), F.substring("right_name", 1, 1))
    a = {(r.left_id, r.right_id, r.edit_distance)
         for r in fuzzy_join(*args, distinct_values=True, **kwargs).collect()}
    b = {(r.left_id, r.right_id, r.edit_distance)
         for r in fuzzy_join(*args, distinct_values=False, **kwargs).collect()}
    assert a == b
    # duplicates expanded: ids 1,2,4 x 12,13(dist1),14... spot-check one
    assert (1, 14, 0) in a and (2, 13, 1) in a


def test_value_histogram_median_is_reference_element(spark):
    """The median must be ValueHistogram.java:111's sorted middle
    ELEMENT (counts[n/2], the upper middle for even n), not an
    interpolated percentile — with counts [1, 3] the reference reports
    3.0 where percentile(0.5) would say 2.0 (round-9 review fix)."""
    from hadoop_3_3_6_spark.operators.aggregate import value_histogram

    rows = [("k", "a")] * 1 + [("k", "b")] * 3 + [("odd", "x")] * 2 + [("odd", "y")] * 5 + [("odd", "z")] * 1
    df = spark.createDataFrame(rows, "key string, v string")
    out = {r.key: r for r in value_histogram(df, ["key"], "v").collect()}
    # even n=2: counts [1,3] -> element at index 1 (0-based n/2) = 3
    assert out["k"].median_count == 3.0 and out["k"].distinct_values == 2
    assert out["k"].avg_count == 2.0
    # odd n=3: counts [1,2,5] -> element at index 1 = 2 (both
    # definitions agree on odd n)
    assert out["odd"].median_count == 2.0


def test_grouped_sorted_apply_null_group_carry(spark):
    """A NULL group key straddling an Arrow batch boundary must stay
    ONE group: the carry's pandas comparison is null-safe (round-9
    review fix — `== None`/NaN equality is elementwise False, which
    silently split the trailing null group in two)."""
    import pandas as pd

    from hadoop_3_3_6_spark.operators.sort import grouped_sorted_apply

    rows = [("g1", i) for i in range(3)] + [(None, i) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, v int")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
            return (
                pdf.groupby("g", dropna=False)
                .agg(n=("v", "size"), first_v=("v", "min"), last_v=("v", "max"))
                .reset_index()
            )

        out = grouped_sorted_apply(
            df, ["g"], ["v"], summarize, "g string, n long, first_v int, last_v int",
            num_partitions=1,
        ).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    got = {r.g: (r.n, r.first_v, r.last_v) for r in out}
    # the null group spans many 64-row batches; it must come back as
    # exactly one row covering all 500 values
    assert len(out) == 2
    assert got[None] == (500, 0, 499)
    assert got["g1"] == (3, 0, 2)


def test_skip_bad_and_audit_count_null_predicates(spark):
    """NULL predicate evaluations are DROPPED rows / VIOLATIONS and
    must be counted: a qty>=0 check on a NULL qty row is exactly the
    corrupt-record case SkipBadRecords exists for, and input - kept
    must equal skipped (round-9 review fix — count_if(~pred) skipped
    NULLs)."""
    from hadoop_3_3_6_spark.operators.counters import audit_checks, skip_bad_records

    df = spark.createDataFrame(
        [(1, 5), (2, -1), (3, None), (4, 7)], "id int, qty int"
    )
    clean, obs = skip_bad_records(df, F.col("qty") >= 0)
    kept = clean.count()
    assert kept == 2
    got = obs.get
    assert got["input_records"] == 4
    assert got["skipped_records"] == 2  # the -1 AND the NULL
    assert got["input_records"] - kept == got["skipped_records"]

    audit = {r.check: r for r in audit_checks(df, {"qty_nonneg": F.col("qty") >= 0}).collect()}
    assert audit["qty_nonneg"].n_bad == 2 and not audit["qty_nonneg"].passed


def test_field_selection_reference_exact_semantics(spark):
    """Round-10 conformance review vs FieldSelectionHelper.java
    (extractFields/selectFields/parseOutputKeyValueSpec):
    (a) an out-of-range index keeps its separator slot (empty field);
    (b) the KEY side of a key:value spec IGNORES open ranges;
    (c) of several open ranges the LAST wins;
    (d) an empty range start means 0 ('-1' == '0-1');
    (e) a reversed range enumerates nothing."""
    from hadoop_3_3_6_spark.operators.mapops import (
        field_selection,
        field_selection_kv,
    )

    df = spark.createDataFrame([("a\tb\tc",)], "line string")

    def sel(spec):
        return field_selection(df, "line", spec).collect()[0].selected

    assert sel("0,7,1") == "a\t\tb"          # (a) empty slot preserved
    assert sel("0-4") == "a\tb\tc\t\t"       # (a) range slots preserved
    assert sel("-1") == "a\tb"               # (d)
    assert sel("0-,2-") == "c"               # (c) last open range wins
    assert sel("2-0") == ""                  # (e)
    kv = field_selection_kv(df, "line", "2,0-:1").collect()[0]
    assert kv.key == "c"                     # (b) key-side '0-' ignored
    assert kv.value == "b"
    kv2 = field_selection_kv(df, "line", "1:0-").collect()[0]
    assert kv2.key == "b" and kv2.value == "a\tb\tc"


def test_field_selection_differential_vs_reference_port(spark):
    """DIFFERENTIAL conformance for the field-selection DSL: random
    records (0-5 fields, some empty) under a battery of random specs
    must match a direct python port of the reference's
    extractFields/selectFields pair — enumerated indices append
    field-if-in-range plus separator (out-of-range keeps the empty
    slot), the LAST open range is appended AFTER the enumerated list
    regardless of where it appears in the spec, and the trailing
    separator is stripped.  Key side of key:value specs drops the
    open range (parseOutputKeyValueSpec discards extractFields'
    return for the key list)."""
    import random

    from hadoop_3_3_6_spark.operators.mapops import (
        field_selection,
        field_selection_kv,
    )

    def extract_fields(pieces):
        all_from, fl = -1, []
        for p in pieces:
            if not p:
                continue
            pos = p.find("-")
            if pos < 0:
                fl.append(int(p))
            else:
                start = p[:pos] or "0"
                end = p[pos + 1 :]
                if not end:
                    all_from = int(start)
                    continue
                fl.extend(range(int(start), int(end) + 1))
        return fl, all_from

    def select_fields(fields, fl, all_from, sep="\t"):
        sb = None
        if fl:
            sb = "".join(
                (fields[i] if i < len(fields) else "") + sep for i in fl
            )
        if all_from >= 0:
            sb = (sb or "") + "".join(f + sep for f in fields[all_from:])
        if sb is None:
            return ""
        return sb[: -len(sep)] if sb else sb

    rng = random.Random(7)

    def piece():
        r = rng.random()
        a, b = rng.randint(0, 6), rng.randint(0, 6)
        if r < 0.4:
            return str(a)
        if r < 0.6:
            return f"{a}-{b}"
        if r < 0.8:
            return f"{a}-"
        return f"-{b}"

    records = [
        "\t".join(
            "".join(rng.choice("xy1") for _ in range(rng.randint(0, 2)))
            for _ in range(rng.randint(1, 5))
        )
        for _ in range(25)
    ]
    df = spark.createDataFrame([(r,) for r in records], "line string")
    for _trial in range(30):
        spec = ",".join(piece() for _ in range(rng.randint(1, 3)))
        got = [r.selected for r in field_selection(df, "line", spec).collect()]
        fl, all_from = extract_fields(spec.split(","))
        want = [select_fields(rec.split("\t"), fl, all_from) for rec in records]
        assert got == want, (spec, got[:3], want[:3])
        # key:value — the key side ignores the open range
        vspec = ",".join(piece() for _ in range(rng.randint(1, 2)))
        kv = field_selection_kv(df, "line", f"{spec}:{vspec}").collect()
        kfl, _dropped = extract_fields(spec.split(","))
        vfl, v_from = extract_fields(vspec.split(","))
        for row, rec in zip(kv, records):
            fields = rec.split("\t")
            assert row.key == select_fields(fields, kfl, -1), (spec, rec)
            assert row.value == select_fields(fields, vfl, v_from), (vspec, rec)


def test_aggregate_descriptors_match_case_insensitively(spark):
    """ValueAggregatorBaseDescriptor.generateValueAggregator resolves
    descriptor types with compareToIgnoreCase — 'longvaluesum' is a
    legal spec (round-10 conformance review)."""
    import pytest

    from hadoop_3_3_6_spark.operators.aggregate import aggregate_job

    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 5)], "k string, v int")
    out = {
        r.k: r.s
        for r in aggregate_job(df, ["k"], {"s": ("longvaluesum", "v")}).collect()
    }
    assert out == {"a": 3, "b": 5}
    with pytest.raises(ValueError, match="unknown aggregate descriptor"):
        aggregate_job(df, ["k"], {"s": ("NoSuchThing", "v")})
