"""Source/sink connectors: format round-trips with schema enforcement and
partitioned writes (the unit of partition pruning at scale)."""

from __future__ import annotations

from pyspark.sql import functions as F

from purescript_ifrit_spark.sources import tables as S


def test_csv_roundtrip_with_schema(spark, sf_dir, tmp_path):
    orders = S.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = str(tmp_path / "orders_csv")
    S.write(orders, path, fmt="csv", header=True)
    back = S.read(
        spark, path, fmt="csv",
        schema="o_orderkey long, o_orderstatus string, o_totalprice double",
        header=True,
    )
    assert back.count() == orders.count()
    a = orders.agg(F.sum("o_totalprice")).first()[0]
    b = back.agg(F.sum("o_totalprice")).first()[0]
    assert abs(a - b) < 1e-6


def test_json_roundtrip(spark, sf_dir, tmp_path):
    cust = S.load_table(spark, sf_dir, "customer")
    path = str(tmp_path / "cust_json")
    S.write(cust, path, fmt="json")
    back = S.read(spark, path, fmt="json",
                  schema="c_custkey long, c_name string, c_nationkey int, "
                         "c_acctbal double, c_mktsegment string")
    assert back.count() == cust.count()


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    orders = S.load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_part")
    S.write(orders, path, partition_by=["o_orderstatus"])
    back = S.read(spark, path)
    pruned = back.filter(F.col("o_orderstatus") == "F")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filter must be recognized as such, not a data filter
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
    assert pruned.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Tables bucketed on the join key join WITHOUT a shuffle — the
    co-location strategy for repeated fact-fact joins at scale."""
    # warehouse dir is a static conf, set in conftest's session builder
    orders = S.load_table(spark, sf_dir, "orders")
    li = S.load_table(spark, sf_dir, "lineitem")
    S.write_bucketed(orders, "orders_b", ["o_orderkey"], 8)
    S.write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b",
        ["o_orderkey"], 8,
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_register_views(spark, sf_dir):
    S.register_views(spark, sf_dir)
    assert spark.sql("SELECT count(*) FROM region").first()[0] == 5
    from purescript_ifrit_spark.api import run_query

    # run_query accepts a registered view name directly
    df = run_query(spark, "nation", "SELECT n_name LIMIT 3")
    assert df.count() == 3


# ---------------------------------------------------------------------------
# events.ts physical-encoding normalization (regression for the round-2
# TIMESTAMP_NTZ breakage: a no-timezone micros parquet column reached the
# operators as TIMESTAMP_NTZ and unix_micros rejected it — VERDICT.md r2)
# ---------------------------------------------------------------------------

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

# one known instant: 2024-03-01T12:34:56.789123Z
_EPOCH_US = 1709296496789123


def _write_events_parquet(path: str, ts_type: pa.DataType) -> None:
    ts = pa.array([_EPOCH_US * 1000 if ts_type == pa.timestamp("ns")
                   else _EPOCH_US], type=pa.int64())
    table = pa.table({
        "event_id": pa.array([1], type=pa.int64()),
        "user_id": pa.array([7], type=pa.int64()),
        "ts": ts.cast(ts_type),
        "event_type": pa.array(["click"], type=pa.string()),
        "value": pa.array([1.5], type=pa.float64()),
    })
    pq.write_table(table, path)


@pytest.mark.parametrize(
    "ts_type",
    [pa.timestamp("ns"), pa.timestamp("us"), pa.timestamp("us", tz="UTC")],
    ids=["nanos", "micros-ntz", "micros-utc"],
)
def test_load_table_normalizes_every_ts_encoding(spark, tmp_path, ts_type):
    """All three physical encodings events.ts has shipped under must
    surface as plain TimestampType with identical epoch values — on the
    inferring first load and on the second, a schema-memo hit."""
    from pyspark.sql import functions as F

    _write_events_parquet(str(tmp_path / "events.parquet"), ts_type)
    for _ in range(2):
        df = S.load_table(spark, str(tmp_path), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        assert df.select(F.unix_micros("ts")).first()[0] == _EPOCH_US


def test_ntz_cast_requires_utc_session(spark, tmp_path):
    """The NTZ->TIMESTAMP cast is value-preserving only under a UTC session
    timezone; any other tz must fail fast instead of silently shifting —
    also when the schema comes from the memo of an earlier UTC load."""
    _write_events_parquet(str(tmp_path / "events.parquet"), pa.timestamp("us"))
    S.load_table(spark, str(tmp_path), "events")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="session timezone"):
            S.load_table(spark, str(tmp_path), "events")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def _jobs_run(spark, fn):
    """fn()'s result and the number of Spark jobs it started (a set
    difference: the tracker drops its oldest jobs past its retention)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup() or [])
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup() or []) - before)


def test_load_table_second_load_runs_no_job(spark, tmp_path):
    """The first load infers the schema from the footers with a Spark job;
    a second load of the unchanged table reuses it and runs none — for a
    file, a partitioned directory and the events branch."""
    _write_events_parquet(str(tmp_path / "events.parquet"), pa.timestamp("ns"))
    pq.write_table(pa.table({"k": [1, 2]}), str(tmp_path / "t.parquet"))
    spark.range(6).selectExpr("id", "id % 2 AS p").write.partitionBy(
        "p"
    ).parquet(str(tmp_path / "d.parquet"))
    for name, rows in (("t", 2), ("d", 6), ("events", 1)):
        def load():
            return S.load_table(spark, str(tmp_path), name)

        inferred, first = _jobs_run(spark, load)
        df, second = _jobs_run(spark, load)
        assert first >= 1 and second == 0, (name, first, second)
        assert df.schema == inferred.schema and df.count() == rows, name
    assert S.load_table(spark, str(tmp_path), "d").filter("p = 1").count() == 3


def test_load_table_rewrite_in_place_is_not_stale(spark, tmp_path):
    """Rewriting a table at the same path with another column set must
    give the new schema, not the memoized one."""
    _write_events_parquet(str(tmp_path / "events.parquet"), pa.timestamp("us"))
    assert "value" in S.load_table(spark, str(tmp_path), "events").columns
    pq.write_table(
        pa.table({
            "event_id": pa.array([5], type=pa.int64()),
            "ts": pa.array([_EPOCH_US]).cast(pa.timestamp("us")),
            "session": pa.array(["s1"], type=pa.string()),
        }),
        str(tmp_path / "events.parquet"),
    )
    df = S.load_table(spark, str(tmp_path), "events")
    assert df.columns == ["event_id", "ts", "session"]
    assert df.first()["session"] == "s1"


def test_load_table_memo_keys_on_parquet_confs(spark, tmp_path):
    """A conf that changes the inferred type must miss the memo: an NTZ
    column reads as TIMESTAMP_NTZ by default and as TIMESTAMP when
    inferTimestampNTZ is off."""
    pq.write_table(
        pa.table({"ts": pa.array([_EPOCH_US]).cast(pa.timestamp("us"))}),
        str(tmp_path / "t.parquet"),
    )
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert isinstance(
        S.load_table(spark, str(tmp_path), "t").schema["ts"].dataType,
        T.TimestampNTZType,
    )
    spark.conf.set(key, "false")
    try:
        got = S.load_table(spark, str(tmp_path), "t").schema["ts"].dataType
    finally:
        spark.conf.unset(key)
    assert isinstance(got, T.TimestampType)


def test_load_table_self_join_resolves(spark, sf_dir):
    """Each load is a fresh relation with fresh attribute ids, so two
    loads of one table (the second a memo hit) join without
    AMBIGUOUS_REFERENCE."""
    S.load_table(spark, sf_dir, "orders")
    a = S.load_table(spark, sf_dir, "orders")
    b = S.load_table(spark, sf_dir, "orders")
    joined = a.join(b, a.o_orderkey == b.o_orderkey).select(
        a.o_orderkey, b.o_totalprice
    )
    assert joined.count() == a.count()


def _ntz_events(spark):
    return spark.createDataFrame(
        [
            (1, 7, datetime.datetime(2024, 1, 1, 0, 0, 0), "click", 1.0),
            (2, 7, datetime.datetime(2024, 1, 1, 0, 10, 0), "click", 2.0),
            (3, 7, datetime.datetime(2024, 1, 1, 3, 0, 0), "view", 3.0),
        ],
        T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]),
    )


def test_temporal_operators_accept_ntz_dataframes(spark):
    """Operators must work on user DataFrames that never pass through
    load_table — e.g. a DataFrame read from pandas/pyarrow-written parquet,
    which is TIMESTAMP_NTZ by default."""
    from pyspark.sql import functions as F

    from purescript_ifrit_spark.operators.temporal import asof_join, rollup_time
    from purescript_ifrit_spark.operators.windows import (
        session_stats,
        sessionize,
        tumbling_agg,
    )

    ev = _ntz_events(spark)

    s = sessionize(ev, "user_id", "ts", 30)
    assert s.agg(F.max("session_id")).first()[0] == 2  # 3h gap splits

    st = session_stats(ev, "user_id", "ts", 30)
    assert st.count() == 2

    hourly = tumbling_agg(ev, "ts", "hour", ("event_type",))
    assert hourly.count() == 2

    right = ev.select("user_id", "ts", F.col("event_id").alias("aid"))
    aj = asof_join(ev, right, on="user_id", left_ts="ts", payload=["aid"])
    assert aj.count() == 3
    # each event's as-of match (<=) is itself
    assert aj.filter(F.col("event_id") != F.col("aid")).count() == 0

    ru = rollup_time(ev, "ts", ["event_type"], "value")
    assert ru.count() > 0


def test_read_text_corpus_whole_files(spark, tmp_path):
    from purescript_ifrit_spark.sources.tables import read_text_corpus

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("doc one text")
    (d / "b.txt").write_text("doc two\nwith lines")
    df = read_text_corpus(spark, str(d))
    rows = {r["path"].split("/")[-1]: r for r in df.collect()}
    assert set(rows) == {"a.txt", "b.txt"}
    assert rows["b.txt"]["text"] == "doc two\nwith lines"
    # ids are stable functions of the path
    again = {r["path"].split("/")[-1]: r["doc_id"] for r in
             read_text_corpus(spark, str(d)).collect()}
    assert again == {k: v["doc_id"] for k, v in rows.items()}
    # line mode: one row per line, ordinal-stable ids
    lines = read_text_corpus(spark, str(d), whole_files=False)
    assert lines.count() == 3


def test_read_text_corpus_line_mode_offset_stable(spark, tmp_path):
    # line ordinals must follow BYTE ORDER in the file (wholetext+split),
    # not partition order — and mirror spark.read.text's terminator
    # semantics: a trailing newline adds no empty line; \r\n is stripped
    from purescript_ifrit_spark.sources.tables import read_text_corpus

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("l0\nl1\nl2\n")        # trailing terminator
    (d / "b.txt").write_text("m0\r\nm1")            # CRLF, no terminator
    (d / "c.txt").write_text("x\n\ny\n")            # interior empty line
    (d / "d.txt").write_text("p\rq\r")              # classic-Mac lone \r
    out = read_text_corpus(spark, str(d), whole_files=False)
    rows = sorted(
        ((r["path"].split("/")[-1], r["text"], r["doc_id"]) for r in out.collect())
    )
    by_file: dict = {}
    for name, text, _id in rows:
        by_file.setdefault(name, []).append((text, _id))
    assert sorted(t for t, _ in by_file["a.txt"]) == ["l0", "l1", "l2"]
    assert sorted(t for t, _ in by_file["b.txt"]) == ["m0", "m1"]
    assert sorted(t for t, _ in by_file["c.txt"]) == ["", "x", "y"]
    assert sorted(t for t, _ in by_file["d.txt"]) == ["p", "q"]
    # the ids ARE (path, byte-order ordinal) hashes — recompute the
    # expectation independently so a regression back to partition-order
    # ordinals cannot pass via rerun-equality alone
    paths = {r["path"].split("/")[-1]: r["path"] for r in out.collect()}
    want = {}
    for fname, lines in (("a.txt", ["l0", "l1", "l2"]),
                         ("b.txt", ["m0", "m1"]),
                         ("c.txt", ["x", "", "y"]),
                         ("d.txt", ["p", "q"])):
        hashes = spark.range(1).select(*[
            F.xxhash64(F.lit(paths[fname]), F.lit(i + 1)).alias(f"h{i}")
            for i in range(len(lines))
        ]).first()
        for i, text in enumerate(lines):
            want[(fname, text, hashes[f"h{i}"])] = True
    got = {(n, t, h): True for n, t, h in rows}
    assert got == want


def test_read_binary_media_feeds_decode_path(spark, tmp_path):
    import numpy as np

    from purescript_ifrit_spark.operators.multimodal import (
        extract_pixel_stats,
    )
    from purescript_ifrit_spark.sources.tables import read_binary_media

    d = tmp_path / "media"
    d.mkdir()
    px = bytes((np.arange(36) % 256).astype(np.uint8))
    (d / "img.ppm").write_bytes(b"P6\n4 3\n255\n" + px)
    (d / "skip.txt").write_bytes(b"not media")
    media = read_binary_media(spark, str(d), glob="*.ppm")
    rows = media.collect()
    assert len(rows) == 1
    assert rows[0]["meta"]["mime"] == "image/x-portable-pixmap"
    stats = extract_pixel_stats(media).collect()[0]
    assert (stats["width"], stats["height"]) == (4, 3)
    assert stats["sum_r"] == sum(range(0, 36, 3))


def test_read_avro_gated_without_jar(spark, tmp_path):
    import pytest

    from purescript_ifrit_spark.sources.tables import read_avro

    with pytest.raises((NotImplementedError, Exception)):
        read_avro(spark, str(tmp_path / "nope"))


def test_read_jsonl_corpus_roundtrip_and_ids(spark, tmp_path):
    import json

    from purescript_ifrit_spark.sources.tables import (
        read_jsonl_corpus,
        write_jsonl,
    )

    d = tmp_path / "corpus"
    d.mkdir()
    rows = [
        {"id": "a1", "text": "hello world", "lang": "en"},
        {"id": "b2", "text": "bonjour", "lang": "fr"},
        {"id": "c3", "text": "hola", "lang": "es"},
    ]
    with open(d / "part0.jsonl", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")

    # schema-first read (the scale path: no inference pass)
    df = read_jsonl_corpus(
        spark, str(d), schema="id string, text string, lang string",
        id_field="id",
    )
    got = {r["id"]: r for r in df.collect()}
    assert set(got) == {"a1", "b2", "c3"}
    assert got["a1"]["text"] == "hello world"
    # ids are content-derived: rerun-identical
    again = {r["id"]: r["doc_id"] for r in read_jsonl_corpus(
        spark, str(d), schema="id string, text string, lang string",
        id_field="id").collect()}
    assert again == {k: v["doc_id"] for k, v in got.items()}

    # content-hash ids when no id field exists (inference mode)
    df2 = read_jsonl_corpus(spark, str(d))
    assert df2.select("doc_id").distinct().count() == 3

    with pytest.raises(ValueError):
        read_jsonl_corpus(spark, str(d), schema="text string",
                          id_field="missing")

    # write twin round-trips
    out = tmp_path / "out"
    write_jsonl(df.select("id", "text", "lang"), str(out))
    back = read_jsonl_corpus(
        spark, str(out), schema="id string, text string, lang string",
        id_field="id",
    )
    assert {r["id"] for r in back.collect()} == {"a1", "b2", "c3"}


def test_read_jsonl_corpus_source_doc_id_field_does_not_collide(spark, tmp_path):
    # corpora commonly ship with a doc_id field already — the engine's
    # hash id must not produce two doc_id columns (AMBIGUOUS_REFERENCE
    # downstream); the source's value survives as doc_id_raw
    import json

    from purescript_ifrit_spark.sources.tables import read_jsonl_corpus

    d = tmp_path / "c3"
    d.mkdir()
    with open(d / "x.jsonl", "w") as fh:
        fh.write(json.dumps({"doc_id": "src-9", "text": "t"}) + "\n")
    df = read_jsonl_corpus(spark, str(d), schema="doc_id string, text string",
                           id_field="doc_id")
    assert df.columns.count("doc_id") == 1
    row = df.select("doc_id", "doc_id_raw", "text").first()  # unambiguous
    assert row["doc_id_raw"] == "src-9" and isinstance(row["doc_id"], int)


def test_read_jsonl_corpus_poison_line_survives(spark, tmp_path):
    from purescript_ifrit_spark.sources.tables import read_jsonl_corpus

    d = tmp_path / "c2"
    d.mkdir()
    (d / "x.jsonl").write_text(
        '{"id": "ok", "text": "fine"}\n'
        "{this is not json}\n"
        '{"id": "ok2", "text": "also fine"}\n'
    )
    # schema passed: poison line becomes a null row, batch survives
    df = read_jsonl_corpus(spark, str(d), schema="id string, text string",
                           id_field="id")
    rows = df.collect()
    assert len(rows) == 3
    assert sum(1 for r in rows if r["id"] is None) == 1


def test_read_jsonl_corpus_null_id_yields_null_doc_id(spark, tmp_path):
    # ADVICE r6: xxhash64(NULL) is one constant seed hash, so poison
    # lines / genuinely-null ids would all collapse onto a single shared
    # doc_id that downstream dedup silently merges — NULL id must give
    # NULL doc_id (distinguishable, filterable), never a shared hash
    from purescript_ifrit_spark.sources.tables import read_jsonl_corpus

    d = tmp_path / "cnull"
    d.mkdir()
    (d / "x.jsonl").write_text(
        '{"id": "ok", "text": "fine"}\n'
        "{not json at all}\n"
        '{"id": null, "text": "null id"}\n'
        '{"text": "missing id"}\n'
    )
    df = read_jsonl_corpus(spark, str(d), schema="id string, text string",
                           id_field="id")
    rows = df.collect()
    assert len(rows) == 4
    null_ids = [r for r in rows if r["id"] is None]
    assert len(null_ids) == 3
    assert all(r["doc_id"] is None for r in null_ids)
    (ok,) = [r for r in rows if r["id"] == "ok"]
    assert ok["doc_id"] is not None


def test_read_text_corpus_oversized_file_raises(spark, tmp_path):
    # ADVICE r6: both modes read wholetext (one file = one task), so an
    # oversized file must fail fast with a pointer at read_jsonl_corpus,
    # not OOM a task mid-job
    import pytest

    from purescript_ifrit_spark.sources.tables import read_text_corpus

    d = tmp_path / "big"
    d.mkdir()
    (d / "a.txt").write_text("small\n")
    (d / "b.txt").write_text("x" * 4096)
    with pytest.raises(ValueError, match="read_jsonl_corpus"):
        read_text_corpus(spark, str(d), max_file_bytes=1024)
    # under the cap (and with the guard off) both modes still read
    assert read_text_corpus(spark, str(d), max_file_bytes=8192).count() == 2
    assert read_text_corpus(spark, str(d), max_file_bytes=None).count() == 2


def test_compact_parquet_reduces_files_and_preserves_rows(spark, sf_dir, tmp_path):
    docs = S.load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    small = str(tmp_path / "small")
    out = str(tmp_path / "compacted")
    docs.repartition(32).write.parquet(small)
    import glob

    n_small = len(glob.glob(small + "/*.parquet"))
    assert n_small == 32
    n = S.compact_parquet(spark, small, out, target_file_bytes=64 * 1024 * 1024)
    files = glob.glob(out + "/*.parquet")
    assert len(files) == n and n < n_small  # sized from the byte listing
    # layout maintenance only: same rows, any order
    a = sorted(map(tuple, spark.read.parquet(out).collect()))
    b = sorted(map(tuple, docs.collect()))
    assert a == b


def test_compact_parquet_with_sort_establishes_clustering(spark, sf_dir, tmp_path):
    docs = S.load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    small = str(tmp_path / "small2")
    out = str(tmp_path / "sorted")
    docs.repartition(16).write.parquet(small)
    # tiny target to force multiple output files, so the range split shows
    n = S.compact_parquet(
        spark, small, out, target_file_bytes=16 * 1024, sort_cols=["doc_id"]
    )
    assert n > 1
    import glob

    import pyarrow.parquet as pq

    ranges = []
    for f in glob.glob(out + "/*.parquet"):
        t = pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        if t:
            assert t == sorted(t)  # sorted within each file
            ranges.append((min(t), max(t)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint per-file ranges: footer min/max tight


def test_jsonl_corrupt_lines_keep_distinct_content_ids(spark, tmp_path):
    """r8 review: malformed lines parse to all-null payload rows and
    to_json drops null fields, so every corrupt line shared
    xxhash64('{}') — the exact collapse the id_field branch guards
    against. Corrupt rows now hash their RAW line: distinct garbage
    stays distinct; identical garbage collapses (content-derived)."""
    from purescript_ifrit_spark.sources.tables import read_jsonl_corpus

    p = tmp_path / "c.jsonl"
    p.write_text(
        '{"a": 1, "b": "x"}\n'
        "this is not json at all\n"
        "neither { is this\n"
        "this is not json at all\n"
    )
    out = read_jsonl_corpus(
        spark, str(p), schema="a int, b string"
    ).collect()
    ids = [r["doc_id"] for r in out]
    assert len(ids) == 4 and None not in ids
    # the two distinct garbage lines differ; the repeated one collapses
    assert len(set(ids)) == 3
