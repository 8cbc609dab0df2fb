"""Tests for page selection (P7), extractor comparison (D4/D6), the
table IO seam, and the streaming operators."""

import pytest

from pyspark.sql import functions as F

from pdf_parser_spark.operators.compare import compare_extractors, get_variant
from pdf_parser_spark.plans.pages import PageRange, parse_pages_argument, select_turns


# ---- P7 parse_pages_argument: cases mirror the reference's unit tests
# (/root/reference/tests/test_pdf_layouts.py:41-88) -----------------------

def test_parse_single_int():
    assert parse_pages_argument(1) == [1]
    assert parse_pages_argument(5) == [5]


def test_parse_list_dedup_sorted():
    assert parse_pages_argument([3, 1, 3, 2]) == [1, 2, 3]


def test_parse_page_range():
    assert parse_pages_argument(PageRange(2, 4)) == [2, 3, 4]


def test_parse_string_forms():
    assert parse_pages_argument("7") == [7]
    assert parse_pages_argument("1-5") == [1, 2, 3, 4, 5]


@pytest.mark.parametrize("bad", [0, -1, "5-1", "invalid", "0-3", None, 1.5])
def test_parse_invalid(bad):
    with pytest.raises(ValueError):
        parse_pages_argument(bad)


def test_select_turns_pushdown(spark, transcripts_sf0001):
    df = spark.read.parquet(transcripts_sf0001)
    got = select_turns(df, "1-3")
    assert set(r.turn_idx for r in got.select("turn_idx").distinct().collect()) == {0, 1, 2}
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" not in plan or "turn_idx" in plan
    sparse = select_turns(df, [1, 5])
    assert set(r.turn_idx for r in sparse.select("turn_idx").distinct().collect()) == {0, 4}


# ---- D4/D6 ---------------------------------------------------------------

def test_variant_registry():
    assert get_variant(None) == "a003"
    assert get_variant("a002") == "a002"
    with pytest.raises(KeyError):
        get_variant("a999")


def test_compare_extractors(spark, transcripts_sf0001):
    src = spark.read.parquet(transcripts_sf0001).filter(
        (F.col("tool") == "page/v1") & (F.col("turn_idx") < 3))
    out = compare_extractors(src)
    counts = {r.extractor_name: r["count"]
              for r in out.groupBy("extractor_name").count().collect()}
    n = src.count()
    assert counts == {"a002": n, "a003": n, "a004": n}


def test_compare_extractors_single_pass_matches_per_variant(spark, transcripts_sf0001):
    """The fused D4 fan-out (one scan, one tokenize) emits exactly what N
    independent extract_layouts runs emit, and its plan reads the input
    once with no shuffle."""
    import re

    from pdf_parser_spark.operators.extract import extract_layouts

    src = spark.read.parquet(transcripts_sf0001).filter(F.col("turn_idx") < 4)
    fused = compare_extractors(src)
    plan = fused._sc._jvm.PythonSQLUtils.explainString(
        fused._jdf.queryExecution(), "formatted")
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "Exchange" not in plan
    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 1

    key = ["conv_id", "turn_idx", "extractor_name"]
    got = fused.orderBy(*key).toPandas().set_index(key)
    for v in ("a002", "a003", "a004"):
        want = (
            extract_layouts(src, variant=v)
            .withColumn("extractor_name", F.lit(v))
            .orderBy(*key).toPandas().set_index(key))
        sub = got.loc[(slice(None), slice(None), v), :]
        for col in ("header", "footer", "left_column", "right_column",
                    "page_number", "metadata"):
            assert list(sub[col]) == list(want[col]), (v, col)


def test_table_io_seam(tmp_path, monkeypatch):
    """The pluggable IO interface: parquet impl round-trips data and
    manifests; the Iceberg impl routes path-like targets to parquet and
    raises clearly for catalog operations absent a runtime."""
    from pdf_parser_spark.io import IcebergTableIO, ParquetTableIO, get_table_io

    pio = ParquetTableIO()
    mdir = str(tmp_path / "_manifests")
    pio.commit_manifest(mdir, {"bucket": 3, "status": "committed"})
    pio.commit_manifest(mdir, {"bucket": 1, "status": "committed"})
    assert sorted(pio.committed_manifests(mdir)) == [1, 3]

    iio = IcebergTableIO()
    # path-like manifest dirs fall through to the file protocol
    assert sorted(iio.committed_manifests(mdir)) == [1, 3]
    with pytest.raises(NotImplementedError, match="Iceberg catalog"):
        iio.committed_manifests("catalog.db.manifests")

    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "iceberg")
    assert get_table_io().format == "iceberg"
    monkeypatch.delenv("SPARK_GRAFT_TABLE_FORMAT")
    assert get_table_io().format == "parquet"


class _FakeWriterV2:
    """Records the DataFrameWriterV2 call sequence (the Iceberg runtime is
    absent in this sandbox, so the catalog branches are contract-tested
    against the exact writeTo protocol they must emit)."""

    def __init__(self, log):
        self.log = log

    def append(self):
        self.log.append(("append",))

    def createOrReplace(self):
        self.log.append(("createOrReplace",))


class _FakeDF:
    def __init__(self, log):
        self.log = log

    def writeTo(self, target):
        self.log.append(("writeTo", target))
        return _FakeWriterV2(self.log)


def test_iceberg_write_contract(spark):
    """Every IcebergTableIO.write branch executes against a recorded-call
    fake: append -> append(); overwrite -> createOrReplace(); unknown
    mode -> ValueError."""
    from pdf_parser_spark.io import IcebergTableIO

    iio = IcebergTableIO()

    log = []
    iio.write(_FakeDF(log), "cat.db.manifests", mode="append")
    assert log == [("writeTo", "cat.db.manifests"), ("append",)]

    log = []
    iio.write(_FakeDF(log), "cat.db.layouts", mode="overwrite")
    assert log == [("writeTo", "cat.db.layouts"), ("createOrReplace",)]

    with pytest.raises(ValueError, match="unsupported mode"):
        iio.write(_FakeDF([]), "cat.db.layouts", mode="ignore")


def test_iceberg_read_contract(spark):
    """Catalog reads go through format('iceberg').load(table); path-like
    targets route to the parquet fallback reader."""
    from pdf_parser_spark.io import IcebergTableIO

    calls = []

    class FakeReader:
        def format(self, fmt):
            calls.append(("format", fmt))
            return self

        def load(self, target):
            calls.append(("load", target))
            return "df"

        def parquet(self, target):
            calls.append(("parquet", target))
            return "pdf"

    class FakeSpark:
        @property
        def read(self):
            return FakeReader()

    iio = IcebergTableIO()
    assert iio.read(FakeSpark(), "cat.db.layouts") == "df"
    assert calls == [("format", "iceberg"), ("load", "cat.db.layouts")]
    calls.clear()
    assert iio.read(FakeSpark(), "/tmp/somewhere") == "pdf"
    assert calls == [("parquet", "/tmp/somewhere")]


# ---- streaming -----------------------------------------------------------

def test_stream_dedup_turns(spark, transcripts_sf0001):
    """Streaming exact dedup keeps one turn per canonical fingerprint
    (within the watermark horizon) — matches the batch distinct count."""
    from pdf_parser_spark.streaming.pipeline import (
        read_transcript_stream,
        stream_dedup_turns,
    )

    stream = read_transcript_stream(spark, transcripts_sf0001)
    q = (stream_dedup_turns(stream).writeStream.format("memory")
         .queryName("sdt").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = spark.sql("SELECT count(*) AS n FROM sdt").first()["n"]
    batch = spark.read.parquet(transcripts_sf0001)
    want = (batch.select(
        F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))))
        .distinct().count())
    # all fixture rows share one load window, so horizon eviction cannot
    # reduce below the batch-distinct count
    assert got == want


def test_stateful_conversation_progress(spark, transcripts_sf0001, tmp_path):
    from pdf_parser_spark.streaming.pipeline import read_transcript_stream
    from pdf_parser_spark.streaming.stateful import conversation_progress

    stream = read_transcript_stream(spark, transcripts_sf0001,
                                    max_files_per_trigger=2)
    q = (conversation_progress(stream)
         .writeStream.format("memory").queryName("conv_prog")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(300)
    import pandas as pd

    got = spark.sql(
        "select conv_id, max(turns_seen) as seen, max(max_turn_idx) as mx, "
        "max(contiguous_upto) as upto from conv_prog group by conv_id"
    ).toPandas().set_index("conv_id")
    src = pd.read_parquet(transcripts_sf0001)
    want = src.groupby("conv_id")["turn_idx"].agg(["count", "max"])
    assert len(got) == len(want)
    for conv_id, row in want.iterrows():
        assert got.loc[conv_id, "seen"] == row["count"], conv_id
        assert got.loc[conv_id, "mx"] == row["max"], conv_id
        # fixture turns are contiguous from 0 -> final contiguity = count
        assert got.loc[conv_id, "upto"] == row["count"], conv_id


def test_question_sinks(spark, transcripts_sf0001):
    import json

    from pyspark.sql import functions as F
    from pdf_parser_spark.operators.extract import extract_layouts
    from pdf_parser_spark.operators.questions import (
        extract_questions,
        questions_to_json,
        questions_to_markdown,
    )

    src = spark.read.parquet(transcripts_sf0001).filter(F.col("tool") == "page/v1")
    qs = extract_questions(extract_layouts(src, variant="a004"))
    md = questions_to_markdown(qs).limit(5).collect()
    for r in md:
        assert r.questions_md.startswith("# Questions\n\n**Source:** " + r.conv_id)
        assert r.questions_md.count("## Question ") == r.total_questions
    js = questions_to_json(qs).limit(5).collect()
    for r in js:
        obj = json.loads(r.questions_json)
        assert obj["conv_id"] == r.conv_id
        assert obj["total_questions"] == len(obj["questions"])
        nums = [x["question_number"] for x in obj["questions"]]
        assert nums == sorted(nums)


def test_session_window_counts_batch_semantics(spark):
    """Hand-computed fixture: a >= gap idle closes the session; window
    end = last event + gap; out-of-order input lands by event time."""
    from datetime import datetime

    from pdf_parser_spark.streaming.pipeline import session_window_counts

    def t(s):
        return datetime(2024, 1, 1, s // 3600, (s % 3600) // 60, s % 60)

    rows = [  # deliberately out of turn order for c0
        ("c0", 1, t(100)), ("c0", 0, t(0)), ("c0", 2, t(2000)),
        ("c0", 3, t(2001)),
        ("c1", 0, t(0)), ("c1", 1, t(1799)),  # 1799 < gap: same session
        ("c2", 0, t(0)), ("c2", 1, t(1800)),  # exactly gap: still merges
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    B = 1704067200  # epoch of 2024-01-01 (fixture base)
    got = {(r.conv_id, r.ws_s): (r.we_s, r.n_turns)
           for r in session_window_counts(df, gap="30 minutes").collect()}
    # Spark splits only on gap STRICTLY greater than the gap duration
    # (same boundary rule as convstats.conv_sessionize); end = last + gap
    assert got == {
        ("c0", B + 0): (B + 100 + 1800, 2),
        ("c0", B + 2000): (B + 2001 + 1800, 2),
        ("c1", B + 0): (B + 1799 + 1800, 2),
        ("c2", B + 0): (B + 1800 + 1800, 2),
    }


def test_session_window_counts_stream_matches_batch(spark, transcripts_sf0001):
    """A REAL streaming run (complete mode, availableNow) converges to
    the batch result on the same jittered input."""
    from pdf_parser_spark.streaming.pipeline import (
        read_transcript_stream,
        session_window_counts,
    )

    def jitter(df):
        ti = F.col("turn_idx").cast("long")
        return df.withColumn(
            "ts", (F.col("ts").cast("timestamp_ltz").cast("long")
                   + (ti * ti * 997) % 7200).cast("timestamp"))

    q = (session_window_counts(
            jitter(read_transcript_stream(spark, transcripts_sf0001)),
            gap="30 minutes", watermark="3650 days")
         .writeStream.format("memory").queryName("swc")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = sorted(map(tuple, spark.table("swc").collect()))
    want = sorted(map(tuple, session_window_counts(
        jitter(spark.read.parquet(transcripts_sf0001)),
        gap="30 minutes").collect()))
    assert got == want
    assert len(want) > spark.read.parquet(transcripts_sf0001) \
        .select("conv_id").distinct().count()  # jitter actually splits


def test_stream_contamination_hits_matches_batch(spark, transcripts_sf0001):
    """The stateless hit stream equals the batch broadcast semi-join on
    the same input."""
    from pdf_parser_spark.corpus.decontam import eval_gram_set
    from pdf_parser_spark.streaming.pipeline import (
        read_transcript_stream,
        stream_contamination_hits,
    )

    ev = eval_gram_set(
        spark.read.parquet(transcripts_sf0001)
        .filter(F.col("conv_id").rlike("0$"))
        .select(F.lit(0).cast("long").alias("doc_id"), "text"))
    q = (stream_contamination_hits(
            read_transcript_stream(spark, transcripts_sf0001), ev)
         .writeStream.format("memory").queryName("sch")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = sorted(map(tuple, spark.table("sch")
                     .select("conv_id", "turn_idx").distinct().collect()))
    want = sorted(map(tuple, stream_contamination_hits(
        spark.read.parquet(transcripts_sf0001), ev)
        .select("conv_id", "turn_idx").distinct().collect()))
    assert got == want and len(got) > 0


def test_stream_merge_tombstone_out_of_order(spark, tmp_path):
    """A delete tombstone must survive micro-batch boundaries: an OLDER
    upsert arriving in a LATER batch cannot resurrect the key, and a
    NEWER one can — the cross-batch latest-wins/tombstone contract of
    stream_merge_changes (three sequential availableNow runs = three
    real foreachBatch merges against the same state)."""
    from datetime import datetime, timedelta

    from pdf_parser_spark.streaming.pipeline import (
        merged_snapshot, stream_merge_changes,
    )

    def t(us):
        return datetime(2024, 1, 1) + timedelta(microseconds=us)

    base = spark.createDataFrame([(1, 10.0, t(0)), (2, 20.0, t(0))],
                                 "id long, price double, loaded timestamp")
    state = str(tmp_path / "state")
    sch = ("id long, price double, loaded timestamp, "
           "op string, cts timestamp")

    def run(n, rows):
        src = str(tmp_path / f"src{n}")
        spark.createDataFrame(rows, sch).write.parquet(src)
        q = stream_merge_changes(
            spark.readStream.schema(sch).parquet(src), base,
            state_dir=state, checkpoint_dir=str(tmp_path / f"ck{n}"),
            key_col="id", ts_col="cts")
        q.awaitTermination(120)
        return {r.id: r.price
                for r in merged_snapshot(spark, state).collect()}

    # batch 1: delete key 1 at ts=200
    assert run(1, [(1, 10.0, t(0), "d", t(200))]) == {2: 20.0}
    # batch 2: LATE upsert at ts=100 -> tombstone wins, stays deleted
    assert run(2, [(1, 11.0, t(0), "u", t(100))]) == {2: 20.0}
    # batch 3: genuinely newer upsert at ts=300 -> key resurrects
    assert run(3, [(1, 12.0, t(0), "u", t(300))]) == {1: 12.0, 2: 20.0}
    # versions derive from the POINTER (fresh checkpoints restart
    # epoch ids at 0 — an epoch-keyed layout would overwrite the live
    # dir), and superseded versions are pruned to committed+predecessor
    import os

    vdirs = sorted(n for n in os.listdir(state) if n.startswith("v"))
    assert vdirs == ["v2", "v3"], vdirs
