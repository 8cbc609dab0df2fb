"""Unit tests for the post-extraction operators: question spans, markdown
sinks, conversation reassembly, manifest/resume, and corpus ops."""

import os

import pandas as pd
import pytest

from pyspark.sql import functions as F

from pdf_parser_spark.goldens import ensure_goldens, markdown_c001, markdown_c002
from pdf_parser_spark.operators.extract import extract_layouts
from pdf_parser_spark.operators.manifest import (
    committed_buckets,
    lineage_metrics,
    read_output,
    run_with_manifest,
)
from pdf_parser_spark.operators.markdown import to_markdown
from pdf_parser_spark.operators.questions import extract_questions, questions_per_page
from pdf_parser_spark.operators.reassemble import reassemble_conversations

SF = 0.001


@pytest.fixture(scope="module")
def gdir():
    return ensure_goldens(SF)


@pytest.fixture(scope="module")
def layouts(spark, transcripts_sf0001):
    df = extract_layouts(spark.read.parquet(transcripts_sf0001))
    df.cache().count()
    yield df
    df.unpersist()


def test_question_spans_match_golden(spark, transcripts_sf0001, gdir):
    src = spark.read.parquet(transcripts_sf0001).filter(F.col("tool") == "page/v1")
    got = (
        extract_questions(extract_layouts(src, variant="a004"))
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "col_side", "start_offset"])
        .reset_index(drop=True)
    )
    want = (
        pd.read_parquet(os.path.join(gdir, "questions.parquet"))
        .sort_values(["conv_id", "turn_idx", "col_side", "start_offset"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    for col in ["question_number", "question_text", "col_side",
                "start_offset", "end_offset", "page_number"]:
        assert list(got[col]) == list(want[col]), f"column {col} mismatch"


def test_questions_global_order(spark, transcripts_sf0001):
    src = spark.read.parquet(transcripts_sf0001).filter(F.col("tool") == "page/v1")
    qdf = extract_questions(extract_layouts(src, variant="a004"))
    nums = [r.question_number for r in qdf.select("question_number").collect()]
    assert nums == sorted(nums)  # O6: the global sort (A004:404-405)
    per_page = questions_per_page(qdf)
    assert per_page.agg(F.sum("n_questions")).first()[0] == len(nums)


def test_markdown_matches_python_twin(layouts):
    c1 = to_markdown(layouts, "c001").select("conv_id", "turn_idx", "markdown").toPandas()
    c2 = to_markdown(layouts, "c002").select("conv_id", "turn_idx", "markdown").toPandas()
    base = layouts.select("conv_id", "turn_idx", "page_number", "header",
                          "footer", "left_column", "right_column").toPandas()
    base = base.set_index(["conv_id", "turn_idx"])
    for frame, twin in ((c1, markdown_c001), (c2, markdown_c002)):
        for conv_id, turn_idx, md in frame[["conv_id", "turn_idx", "markdown"]].itertuples(index=False):
            row = base.loc[(conv_id, turn_idx)]
            want = twin(row["page_number"], row["header"], row["footer"],
                        row["left_column"], row["right_column"])
            assert md == want, (conv_id, turn_idx)


def test_reassembly_order_and_content(layouts):
    # block_size=4 forces multi-block merges even on short conversations.
    got = reassemble_conversations(layouts, text_col="left_column",
                                   block_size=4).toPandas()
    src = (
        layouts.select("conv_id", "turn_idx", "left_column")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
    )
    want = src.groupby("conv_id")["left_column"].agg("\n\n".join)
    got = got.set_index("conv_id")
    assert len(got) == len(want)
    for conv_id, doc in want.items():
        assert got.loc[conv_id, "doc"] == doc, conv_id
    n_turns = src.groupby("conv_id").size()
    for conv_id, n in n_turns.items():
        assert got.loc[conv_id, "n_turns"] == n


def test_manifest_resume_exact(spark, transcripts_sf0001, tmp_path,
                               monkeypatch):
    """Kill the run after its one job wrote every bucket but committed
    only 3: the rerun skips the 3, rewrites the written-but-uncommitted
    buckets, and neither loses nor duplicates a turn."""
    from pdf_parser_spark.operators import manifest

    out_dir = str(tmp_path / "layout_out")
    src = spark.read.parquet(transcripts_sf0001)
    n_src = src.count()

    commit, calls = manifest._commit_manifest, []

    def crash_on_fourth(manifest_dir, m):
        calls.append(m["bucket"])
        if len(calls) == 4:
            raise RuntimeError("injected failure")
        commit(manifest_dir, m)

    monkeypatch.setattr(manifest, "_commit_manifest", crash_on_fourth)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_manifest(spark, src, out_dir, n_buckets=8)
    monkeypatch.undo()
    done = committed_buckets(os.path.join(out_dir, "_manifests"))
    assert len(done) == 3
    written = {int(d.split("=")[1]) for d in os.listdir(out_dir)
               if d.startswith("bucket=")}
    assert written - set(done), "no bucket was written but left uncommitted"

    res = run_with_manifest(spark, src, out_dir, n_buckets=8)
    assert sorted(res["skipped"]) == sorted(
        set(range(8)) - set(res["processed"]))
    assert len(res["manifests"]) == 8

    out = read_output(spark, out_dir)
    assert out.count() == n_src  # no missing turns
    dups = (
        out.groupBy("conv_id", "turn_idx").count()
        .filter(F.col("count") > 1).count())
    assert dups == 0  # no duplicated turns

    metrics = lineage_metrics(spark, out_dir).toPandas()
    assert len(metrics) == 8
    assert metrics["rows_out"].sum() == n_src
    assert (metrics["turns_per_sec"] > 0).all()
    assert set(metrics["status"]) == {"committed"}


def test_manifest_resume_validation(spark, transcripts_sf0001, tmp_path):
    """Resume with a different run shape fails fast (no silent mixing)."""
    out_dir = str(tmp_path / "val_out")
    src = spark.read.parquet(transcripts_sf0001)
    run_with_manifest(spark, src, out_dir, n_buckets=4)
    with pytest.raises(ValueError, match="resume mismatch.*n_buckets"):
        run_with_manifest(spark, src, out_dir, n_buckets=8)
    with pytest.raises(ValueError, match="resume mismatch.*variant"):
        run_with_manifest(spark, src, out_dir, n_buckets=4, variant="a002")
    with pytest.raises(ValueError, match="resume mismatch.*pages_spec"):
        run_with_manifest(spark, src, out_dir, n_buckets=4, pages_spec="1-3")
    # matching shape still resumes cleanly
    res = run_with_manifest(spark, src, out_dir, n_buckets=4)
    assert res["processed"] == [] and len(res["skipped"]) == 4


def test_manifest_job_is_single_scan(spark, transcripts_sf0001):
    """The whole-run plan reads the input exactly once for ANY bucket
    count, and its one shuffle is the bucket clustering of the write,
    above extraction: the MapInPandas keeps the input-split parallelism,
    and the MapInArrow bucket writer sits above the shuffle."""
    from pdf_parser_spark.operators.manifest import (
        bucket_expr, bucket_job_plan, bucket_write_plan)

    src = spark.read.parquet(transcripts_sf0001).withColumn(
        "bucket", bucket_expr(64))
    plan_df = bucket_write_plan(bucket_job_plan(src, list(range(64)), 64), "out")
    plan = plan_df._sc._jvm.PythonSQLUtils.explainString(
        plan_df._jdf.queryExecution(), "formatted")
    import re

    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert len(re.findall(
        r"^\(\d+\) Exchange\n.*\nArguments: hashpartitioning\(bucket#",
        plan, re.M)) == 1
    tree = plan.split("\n\n", 1)[0]
    assert re.search(r"Exchange \(\d+\)\n(?:.*\n)*.*\+- MapInPandas", tree)
    assert re.search(r"MapInArrow \(\d+\)\n(?:.*\n)*.*\+- Exchange", tree)


def _sql_executions(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore().executionsList().size()


def test_manifest_run_is_one_query(spark, transcripts_sf0001, tmp_path):
    """A first run is one SQL execution (extraction, write and counts
    together); a full-skip resume runs none; no temp file is left."""
    src = spark.read.parquet(transcripts_sf0001)
    out_dir = str(tmp_path / "one_query")
    before = _sql_executions(spark)
    first = run_with_manifest(spark, src, out_dir, n_buckets=4)
    assert _sql_executions(spark) == before + 1
    again = run_with_manifest(spark, src, out_dir, n_buckets=4)
    assert _sql_executions(spark) == before + 1
    assert first["processed"] == [0, 1, 2, 3] and again["processed"] == []
    assert [f for _d, _s, files in os.walk(out_dir)
            for f in files if f.startswith(".")] == []


def test_manifest_stale_temp_file_is_not_read(spark, transcripts_sf0001,
                                              tmp_path, monkeypatch):
    """A writer's temp file left by a failed attempt is read neither from
    an uncommitted bucket (the rerun removes the bucket dir) nor from a
    committed one (Spark's file index skips dot-prefixed files), and the
    committed-bucket filter prunes at the scan."""
    import re
    import shutil

    from pdf_parser_spark.operators import manifest

    out_dir = str(tmp_path / "stale")
    src = spark.read.parquet(transcripts_sf0001)
    commit = manifest._commit_manifest

    def crash_after_first(manifest_dir, m):
        if m["bucket"] > 0:
            raise RuntimeError("injected failure")
        commit(manifest_dir, m)

    monkeypatch.setattr(manifest, "_commit_manifest", crash_after_first)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_manifest(spark, src, out_dir, n_buckets=4)
    monkeypatch.undo()
    assert sorted(committed_buckets(os.path.join(out_dir, "_manifests"))) == [0]
    for k in (0, 1):  # committed, uncommitted: a full copy of the bucket
        bucket_dir = os.path.join(out_dir, f"bucket={k}")
        shutil.copy(os.path.join(bucket_dir, "part-00000.parquet"),
                    os.path.join(bucket_dir, ".part-stale.tmp"))
    partial = read_output(spark, out_dir)
    plan = partial._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan
    bucket_of = manifest.bucket_expr(4)
    assert partial.count() == src.filter(bucket_of == 0).count()

    run_with_manifest(spark, src, out_dir, n_buckets=4)
    assert not os.path.exists(os.path.join(out_dir, "bucket=1", ".part-stale.tmp"))
    got = read_output(spark, out_dir)
    assert got.count() == src.count()
    assert _by_key(got) == _by_key(extract_layouts(src))


def test_manifest_empty_input(spark, transcripts_sf0001, tmp_path):
    """A run whose filter matches nothing still commits (empty) manifests
    and read_output returns a stable empty relation."""
    out_dir = str(tmp_path / "empty_out")
    src = spark.read.parquet(transcripts_sf0001).filter(F.col("turn_idx") > 10**6)
    res = run_with_manifest(spark, src, out_dir, n_buckets=4)
    assert len(res["processed"]) == 4
    metrics = lineage_metrics(spark, out_dir).toPandas()
    assert metrics["rows_out"].sum() == 0
    out = read_output(spark, out_dir)
    assert out.count() == 0
    assert "left_column" in out.columns


def test_manifest_empty_schema_matches_nonempty(spark, transcripts_sf0001, tmp_path):
    """The empty-output read path surfaces the SAME schema a non-empty run
    of the same pipeline would write — including dropping passthrough
    columns the input lacks (ts here), via the _schema.json sidecar."""
    src = spark.read.parquet(transcripts_sf0001).drop("ts")

    empty_dir = str(tmp_path / "no_ts_empty")
    run_with_manifest(
        spark, src.filter(F.col("turn_idx") > 10**6), empty_dir, n_buckets=2)
    empty_schema = read_output(spark, empty_dir).schema

    full_dir = str(tmp_path / "no_ts_full")
    run_with_manifest(spark, src, full_dir, n_buckets=2)
    full_schema = read_output(spark, full_dir).schema

    assert [f.name for f in empty_schema] == [f.name for f in full_schema]
    assert "ts" not in [f.name for f in empty_schema]
    assert [f.dataType for f in empty_schema] == [f.dataType for f in full_schema]


def test_manifest_writes_one_file_per_bucket(spark, transcripts_sf0001, tmp_path):
    """Several extraction tasks feed each bucket, yet each committed
    bucket is one parquet file, and the output equals plain extraction."""
    out_dir = str(tmp_path / "one_file")
    src = spark.read.parquet(transcripts_sf0001).repartition(3)
    run_with_manifest(spark, src, out_dir, n_buckets=4)
    for k in range(4):
        files = [f for f in os.listdir(os.path.join(out_dir, f"bucket={k}"))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (k, files)

    got = read_output(spark, out_dir)
    want = extract_layouts(src)
    assert got.count() == want.count()
    assert _by_key(got) == _by_key(want)


def _by_key(df):
    return {(r.conv_id, r.turn_idx): r.asDict(recursive=True)
            for r in df.collect()}


def test_manifest_runtime_empty_input(spark, transcripts_sf0001, tmp_path):
    """An input that is empty only at run time (the parquet stats cannot
    prune the filter) commits empty manifests and reads back as the
    stable empty relation — the empty shuffle stage keeps its metric."""
    out_dir = str(tmp_path / "runtime_empty")
    src = spark.read.parquet(transcripts_sf0001).filter(F.col("text") == "__none__")
    res = run_with_manifest(spark, src, out_dir, n_buckets=4)
    assert res["processed"] == [0, 1, 2, 3]
    assert lineage_metrics(spark, out_dir).toPandas()["rows_out"].sum() == 0
    out = read_output(spark, out_dir)
    assert out.count() == 0
    assert out.columns == extract_layouts(src).columns


def test_manifest_dropped_rows_fail_the_run(spark, transcripts_sf0001, tmp_path,
                                            monkeypatch):
    """An extractor that drops every row must break the observed row
    invariant (D1), not pass as an empty run."""
    import pdf_parser_spark.operators.manifest as manifest

    def dropping(df, variant="a003"):
        return extract_layouts(df, variant=variant).filter(F.col("turn_idx") < 0)

    monkeypatch.setattr(manifest, "extract_layouts", dropping)
    src = spark.read.parquet(transcripts_sf0001)
    with pytest.raises(RuntimeError, match="extraction row invariant broken"):
        run_with_manifest(spark, src, str(tmp_path / "dropped"), n_buckets=4)


def test_read_output_starts_no_spark_job(spark, transcripts_sf0001, tmp_path):
    """A committed read plans from the manifests and the recorded schema:
    with ``get_spark``'s listing threshold, reading more partitions than
    Spark's default parallel-listing threshold (32) starts neither a
    listing job nor a schema-inference footer job."""
    import uuid

    from pdf_parser_spark.session import (
        DRIVER_LISTING_THRESHOLD,
        LISTING_THRESHOLD_CONF,
    )

    # the fixture's 50 conversations populate only 30 of 40 buckets; four
    # renamed copies populate more than Spark's listing threshold of 32
    base = spark.read.parquet(transcripts_sf0001)
    src = base
    for i in range(1, 4):
        src = src.unionByName(base.withColumn(
            "conv_id", F.concat("conv_id", F.lit(f"-{i}"))))
    out_dir = str(tmp_path / "forty")
    run_with_manifest(spark, src, out_dir, n_buckets=40)
    assert len([d for d in os.listdir(out_dir) if d.startswith("bucket=")]) > 32

    sc = spark.sparkContext
    group = f"read-output-{uuid.uuid4().hex}"
    prev = spark.conf.get(LISTING_THRESHOLD_CONF, None)
    spark.conf.set(LISTING_THRESHOLD_CONF, DRIVER_LISTING_THRESHOLD)
    sc.setJobGroup(group, "read_output")
    try:
        out = read_output(spark, out_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        if prev is None:
            spark.conf.unset(LISTING_THRESHOLD_CONF)
        else:
            spark.conf.set(LISTING_THRESHOLD_CONF, prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert out.count() == src.count()


@pytest.mark.parametrize("drop", [(), ("ts",)], ids=["with_ts", "without_ts"])
def test_read_output_recorded_schema_equals_inference(
        spark, transcripts_sf0001, tmp_path, drop):
    """Reading with the recorded schema gives the schema and rows Spark's
    own inference gives; a dir without the sidecar still reads (legacy
    path, schema inferred)."""
    src = spark.read.parquet(transcripts_sf0001).drop(*drop)
    out_dir = str(tmp_path / "recorded")
    run_with_manifest(spark, src, out_dir, n_buckets=4)
    done = sorted(committed_buckets(os.path.join(out_dir, "_manifests")))
    inferred = (spark.read.parquet(out_dir)
                .filter(F.col("bucket").isin(done)).drop("bucket"))
    want = _by_key(inferred)

    got = read_output(spark, out_dir)
    assert got.schema == inferred.schema
    assert _by_key(got) == want
    assert got.count() == len(want) == src.count()

    os.remove(os.path.join(out_dir, "_manifests", "_schema.json"))
    legacy = read_output(spark, out_dir)
    assert legacy.schema == inferred.schema
    assert _by_key(legacy) == want


def test_span_batches_all_or_nothing(monkeypatch):
    """A failure on a later span of a turn must not leave the turn
    partially emitted (per-turn all-or-nothing degrade, D1 semantics).
    The batch core's columns hold a span that cannot be cut, so building
    the batch's rows fails and the batch degrades to the per-turn oracle
    (``strip_boilerplate``), whose second span of the bad turn is
    malformed."""
    import numpy as np

    import pdf_parser_spark.operators.spans as spans_mod
    from pdf_parser_spark.operators.html import HtmlColumns

    batch_calls = []

    def fake_batch_core(texts):
        texts = list(texts)
        batch_calls.append(texts)
        n = len(texts)
        return HtmlColumns(
            [""] * n, [""] * n, ["abcdef"] * n,
            np.array([0, 0, 1, 1]), np.array([0, 3, 0, 3]),
            np.array([3, 6, 3, "end"], dtype=object),  # the bad turn's 2nd span
            {}, np.zeros(n, bool))

    def fake_oracle(text):
        # second span of the bad turn is malformed -> unpack raises mid-turn
        spans = [(0, 3), (3,)] if text == "bad" else [(0, 3), (3, 6)]
        return {"header": "", "footer": "", "left_column": "abcdef",
                "right_column": "", "spans": spans, "metadata": {}}

    monkeypatch.setattr(spans_mod, "strip_html_batch", fake_batch_core)
    monkeypatch.setattr(spans_mod, "strip_boilerplate", fake_oracle)
    pdf = pd.DataFrame({
        "conv_id": ["c1", "c2"],
        "turn_idx": [0, 1],
        "text": ["good", "bad"],
    })
    out = pd.concat(list(spans_mod._span_batches(iter([pdf]))))
    assert batch_calls == [["good", "bad"]]  # the batch core ran first, once
    # the failing turn emits NOTHING (not just its first span); the good
    # turn emits both spans
    assert list(out["conv_id"]) == ["c1", "c1"]
    assert list(out["span_idx"]) == [0, 1]


def test_span_batches_degrade_to_per_turn_rows(monkeypatch):
    """A batch core that raises makes ``_span_batches`` emit exactly the
    per-turn rows: ``strip_boilerplate`` on each turn, which equal the batch
    path's rows and the oracle's spans."""
    import hashlib

    import pdf_parser_spark.operators.spans as spans_mod
    from pdf_parser_spark.generator import make_html_payload
    from pdf_parser_spark.oracle.boilerplate import strip_boilerplate

    texts = [make_html_payload("d", 0), "<b><i>close-through</b>" + "x" * 30, None,
             "", "<p>" + "kept content block " * 3 + "</p>", make_html_payload("d", 1)]
    pdf = pd.DataFrame({"conv_id": [f"c{i}" for i in range(len(texts))],
                        "turn_idx": list(range(len(texts))), "text": texts})
    batch = pd.concat(list(spans_mod._span_batches(iter([pdf]))))

    def broken_batch_core(texts):
        raise RuntimeError("engine html batch core bug")

    monkeypatch.setattr(spans_mod, "strip_html_batch", broken_batch_core)
    per_turn = pd.concat(list(spans_mod._span_batches(iter([pdf]))))
    want = [(f"c{i}", i, j, a, b,
             hashlib.md5(strip_boilerplate(t)["left_column"][a:b].encode()).hexdigest())
            for i, t in enumerate(texts)
            for j, (a, b) in enumerate(strip_boilerplate(t)["spans"])]
    assert list(per_turn.itertuples(index=False, name=None)) == want
    assert list(batch.itertuples(index=False, name=None)) == want


@pytest.mark.parametrize("poison,variants", [
    pytest.param("core_raises", ("a003",), id="core_raises"),
    pytest.param("non_string_payload", ("a003",), id="non_string_payload"),
    pytest.param("core_raises", ("a000", "a003"), id="core_raises-multi"),
    pytest.param("non_string_payload", ("a000", "a003"), id="non_string_payload-multi"),
])
def test_extract_batch_falls_back_to_oracle(monkeypatch, poison, variants):
    """A batch whose vectorized path raises is extracted again turn by
    turn by the oracle: every row of a mixed page/html/plain batch equals
    the per-turn oracle, and an html payload the oracle cannot parse
    becomes an error row instead of failing the batch. The multi-variant
    driver degrades the same way, running the engine core once per batch,
    not once per variant."""
    import pdf_parser_spark.operators.extract as extract_mod
    from pdf_parser_spark.generator import make_html_payload, make_page_payload
    from pdf_parser_spark.oracle.extractor import extract_turn

    texts = [make_page_payload("p", 0, "two_col_line"), make_html_payload("h", 1),
             "plain words", make_page_payload("p", 3, "malformed"),
             make_html_payload("h", 4), None]
    tools = ["page/v1", "html/v1", "plain", "page/v1", "html/v1", None]
    calls = []
    if poison == "core_raises":
        def broken_core(texts):
            calls.append(list(texts))
            raise RuntimeError("engine html core bug")

        monkeypatch.setattr(extract_mod, "strip_html_batch", broken_core)
    else:
        texts[4] = 3.5  # not a string: both the core and the oracle raise
    pdf = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(len(texts))],
        "turn_idx": list(range(len(texts))),
        "role": ["user"] * len(texts),
        "text": texts,
        "tool": tools,
    })
    if len(variants) == 1:
        got = {variants[0]: extract_mod.extract_batch(pdf.copy(), variants[0])}
    else:
        multi = extract_mod.extract_batch_multi(pdf.copy(), variants)
        assert list(multi["extractor_name"]) == [v for v in variants for _ in texts]
        got = {v: multi[multi["extractor_name"] == v].reset_index(drop=True)
               for v in variants}
    if poison == "core_raises":
        assert len(calls) == 1  # the engine path ran first, once per batch
    for v, out in got.items():
        assert list(out["turn_idx"]) == list(range(len(texts)))
        for i, (text, tool) in enumerate(zip(texts, tools)):
            g, want = out.iloc[i], extract_turn(text, tool, i, v)
            for k in ("page_number", "header", "footer", "left_column",
                      "right_column", "metadata"):
                assert g[k] == want[k], (v, i, k)
            for k in ("page_width", "page_height"):
                assert g[k] == pytest.approx(want[k]), (v, i, k)
            sep = want["column_separator_position"]
            assert (pd.isna(g["column_separator_position"]) if sep is None
                    else g["column_separator_position"] == pytest.approx(sep)), (v, i)
        if poison == "non_string_payload":
            assert "error" in out.iloc[4]["metadata"]


def test_lineage_error_rows_accounted(spark, transcripts_sf0001, tmp_path):
    out_dir = str(tmp_path / "lin_out")
    src = spark.read.parquet(transcripts_sf0001)
    run_with_manifest(spark, src, out_dir, n_buckets=4)
    metrics = lineage_metrics(spark, out_dir).toPandas()
    out = read_output(spark, out_dir)
    n_err = out.filter(F.map_contains_key("metadata", "error")).count()
    assert metrics["error_rows"].sum() == n_err
    assert n_err > 0  # the fixture includes malformed payloads


def test_reassembly_mega_conversation_two_stage(spark):
    """Skew evidence: a single conversation far larger than block_size
    reassembles correctly — stage 1 splits it into per-block partials so
    no task ever sort-merges more than block_size turns."""
    n = 5000
    rows = [("mega", i, f"turn {i}") for i in range(n)] + [
        ("tiny", 0, "a"), ("tiny", 1, "b")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, left_column string").repartition(16)
    out = {r.conv_id: r for r in
           reassemble_conversations(df, block_size=256).collect()}
    assert out["mega"].n_turns == n
    want = "\n\n".join(f"turn {i}" for i in range(n))
    assert out["mega"].doc == want  # exact turn order across 20 blocks
    assert out["tiny"].doc == "a\n\nb"


def test_json_sink_roundtrip(spark, layouts):
    import json

    from pdf_parser_spark.operators.jsonsink import conversation_json, layout_json_col

    with_json = layouts.withColumn("layout_json", layout_json_col())
    per_turn = with_json.select(
        "conv_id", "turn_idx", "page_number", "layout_json").limit(50).collect()
    for r in per_turn:
        obj = json.loads(r.layout_json)
        assert obj["page_number"] == r.page_number
        assert set(obj) == {"page_number", "header", "footer", "left_column",
                            "right_column", "page_width", "page_height",
                            "column_separator_position", "metadata"}

    # error rows serialize column_separator_position as JSON null (the
    # reference's json.dumps of None), never the string "NaN"
    err = (
        with_json
        .filter(F.map_contains_key("metadata", "error"))
        .select("layout_json").limit(10).collect())
    assert err, "fixture has no error rows"
    for r in err:
        obj = json.loads(r.layout_json)
        assert obj["column_separator_position"] is None
        assert "NaN" not in r.layout_json

    docs = conversation_json(layouts).limit(5).collect()
    for r in docs:
        obj = json.loads(r.doc_json)
        assert obj["conv_id"] == r.conv_id
        assert obj["total_pages"] == len(obj["pages"])
        nums = [p["page_number"] for p in obj["pages"]]
        assert nums == sorted(nums)  # stable turn order inside the document


def test_extract_job_cli_and_resume(spark, transcripts_sf0001, tmp_path):
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from extract_job import main as job_main

    out = str(tmp_path / "cli_out")
    rc = job_main(["--input", transcripts_sf0001, "--output", out,
                   "--n-buckets", "4", "--pages", "1-4"])
    assert rc == 0
    from pdf_parser_spark.operators.manifest import committed_buckets, read_output

    assert len(committed_buckets(os.path.join(out, "_manifests"))) == 4
    n1 = read_output(spark, out).count()
    assert n1 > 0
    rc = job_main(["--input", transcripts_sf0001, "--output", out,
                   "--n-buckets", "4", "--pages", "1-4"])  # full resume skip
    assert rc == 0
    assert read_output(spark, out).count() == n1


def test_extract_job_cli_wall_ms_counts_each_job_once(
        spark, transcripts_sf0001, tmp_path, capsys):
    """Every bucket's manifest carries its job's wall time; the printed
    total must count that job once, not once per bucket."""
    import re
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    from extract_job import main as job_main

    out = str(tmp_path / "cli_wall")
    assert job_main(["--input", transcripts_sf0001, "--output", out,
                     "--n-buckets", "4"]) == 0
    printed = re.search(r"extract-job done: .* wall_ms=(\d+)",
                        capsys.readouterr().out)
    walls = {m["wall_ms"] for m in
             committed_buckets(os.path.join(out, "_manifests")).values()}
    assert len(walls) == 1  # one job committed all four buckets
    assert int(printed.group(1)) == walls.pop()


def test_io_roundtrip(spark, tmp_path):
    from pdf_parser_spark.io import read_table, write_table

    df = spark.range(10).withColumnRenamed("id", "x")
    path = str(tmp_path / "t")
    write_table(df, path)
    assert read_table(spark, path).count() == 10


def test_mega_conversation_skew(spark):
    """A single conversation far larger than any other must extract and
    reassemble without concentrating work in one task (the skew axis of
    the north rule). 30k turns through the full pipeline."""
    from pyspark.sql import functions as F2

    from pdf_parser_spark.operators.reassemble import reassemble_conversations
    from pdf_parser_spark.session import ensure_min_partitions

    n = 30_000
    src = (
        spark.range(n)
        .select(
            F2.lit("mega-conv").alias("conv_id"),
            F2.col("id").cast("int").alias("turn_idx"),
            F2.lit("user").alias("role"),
            F2.concat(F2.lit("turn text "), F2.col("id").cast("string")).alias("text"),
            F2.lit("plain").alias("tool"),
            F2.lit(None).cast("timestamp").alias("ts"),
        )
    )
    src = ensure_min_partitions(src, 16)
    lay = extract_layouts(src)
    assert lay.count() == n
    out = reassemble_conversations(lay, text_col="right_column",
                                   block_size=1024).collect()
    assert len(out) == 1
    doc = out[0]["doc"]
    assert out[0]["n_turns"] == n
    parts = doc.split("\n\n")
    assert len(parts) == n
    assert parts[0] == "turn text 0"
    assert parts[12345] == "turn text 12345"
    assert parts[-1] == f"turn text {n - 1}"


def test_corpus_filter_job_cli(spark, tmp_path):
    """The quality-filter funnel CLI: quality gate drops the degenerate
    docs, --near-dedup then removes near-duplicates of the survivors."""
    import sys as _sys

    _sys.path.insert(0, "/root/repo/jobs")
    from corpus_filter_job import main as job_main

    from pdf_parser_spark.io import read_table, write_table

    rows = [
        (0, "the quick brown fox jumps over a lazy dog in the warm sun"),
        (1, "the quick brown fox jumps over a lazy dog in the warm fog"),
        (2, "too short"),                                    # < 10 tokens
        (3, " ".join(["the cat"] * 12)),                     # repetitive
        (4, "another keeper the wind and rain is mild today here now"),
    ]
    src = str(tmp_path / "docs_in")
    write_table(spark.createDataFrame(rows, "doc_id long, text string"), src)

    out1 = str(tmp_path / "kept_q")
    assert job_main(["--input", src, "--output", out1]) == 0
    kept_q = sorted(r.doc_id for r in read_table(spark, out1).collect())
    assert kept_q == [0, 1, 4]  # quality only: near-dups both survive

    out2 = str(tmp_path / "kept_qd")
    assert job_main(["--input", src, "--output", out2,
                     "--near-dedup", "--threshold", "0.5"]) == 0
    kept_qd = sorted(r.doc_id for r in read_table(spark, out2).collect())
    assert kept_qd == [0, 4]  # doc 1 deduped against doc 0


def test_dedup_job_cli(spark, tmp_path):
    """dedup_job CLI: minhash method keeps the min-id doc of each
    near-duplicate cluster and leaves singletons untouched."""
    import sys as _sys

    _sys.path.insert(0, "/root/repo/jobs")
    from dedup_job import main as job_main

    from pdf_parser_spark.io import read_table, write_table

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a completely different corpus document about engines"),
    ]
    src = str(tmp_path / "docs_in")
    write_table(spark.createDataFrame(rows, "doc_id long, text string"), src)
    out = str(tmp_path / "kept")
    assert job_main(["--input", src, "--output", out,
                     "--method", "minhash", "--threshold", "0.5"]) == 0
    kept = sorted(r.doc_id for r in read_table(spark, out).collect())
    assert kept == [0, 2]
    # --keeper best: the argmax-score member survives instead of min-id
    out2 = str(tmp_path / "kept_best")
    scored = str(tmp_path / "docs_scored")
    write_table(spark.createDataFrame(
        [r + (float(r[0]),) for r in rows],
        "doc_id long, text string, quality double"), scored)
    assert job_main(["--input", scored, "--output", out2,
                     "--method", "minhash", "--threshold", "0.5",
                     "--keeper", "best", "--score-col", "quality"]) == 0
    kept_best = sorted(r.doc_id for r in read_table(spark, out2).collect())
    assert kept_best == [1, 2]


def test_dedup_job_cli_semdecontam(spark, tmp_path):
    """dedup_job --method semdecontam: corpus vectors within the cosine
    threshold of any eval vector are dropped; the rest survive."""
    import math as _math
    import sys as _sys

    _sys.path.insert(0, "/root/repo/jobs")
    from dedup_job import main as job_main

    from pdf_parser_spark.io import read_table, write_table

    corpus = [
        (0, [_math.cos(0.05), _math.sin(0.05)]),   # ~0.999 cos vs eval
        (1, [0.0, 1.0]),
    ]
    src = str(tmp_path / "embs_in")
    evp = str(tmp_path / "eval_embs")
    write_table(spark.createDataFrame(
        corpus, "vec_id long, embedding array<double>"), src)
    write_table(spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id long, embedding array<double>"), evp)
    out = str(tmp_path / "kept_vecs")
    assert job_main(["--input", src, "--output", out,
                     "--method", "semdecontam", "--id-col", "vec_id",
                     "--eval-input", evp,
                     "--cosine-threshold", "0.95"]) == 0
    kept = sorted(r.vec_id for r in read_table(spark, out).collect())
    assert kept == [1]


def test_curation_job_cli(spark, tmp_path):
    """The curation CLI: PII scrubbed, contaminated docs dropped, every
    survivor gets a split label and a packing position."""
    import sys as _sys

    _sys.path.insert(0, "/root/repo/jobs")
    from curation_job import main as job_main

    from pdf_parser_spark.io import read_table, write_table

    doc_rows = [
        (0, "mail me at a@b.co " + " ".join(f"w{i}" for i in range(20))),
        (1, "clean document " + " ".join(f"x{i}" for i in range(20))),
        (2, " ".join(f"leak{i}" for i in range(13)) + " trailing words"),
    ]
    ev_rows = [(100, " ".join(f"leak{i}" for i in range(13)))]
    src = str(tmp_path / "docs_in")
    evp = str(tmp_path / "eval_in")
    write_table(spark.createDataFrame(doc_rows, "doc_id long, text string"), src)
    write_table(spark.createDataFrame(ev_rows, "doc_id long, text string"), evp)

    out = str(tmp_path / "curated")
    mask = str(tmp_path / "mask")
    assert job_main(["--input", src, "--eval", evp, "--output", out,
                     "--mask-report", mask, "--budget", "16",
                     "--buckets", "2"]) == 0
    got = {r.doc_id: r for r in read_table(spark, out).collect()}
    assert sorted(got) == [0, 1]          # doc 2 dropped (eval overlap)
    assert "<EMAIL>" in got[0].text and "a@b.co" not in got[0].text
    assert all(r.split in ("train", "val", "test") for r in got.values())
    assert all(r.n_seqs >= 1 and r.tok_start >= 0 for r in got.values())
    spans = read_table(spark, mask).collect()
    assert [s.doc_id for s in spans] == [2]
    assert spans[0].tok_start == 1 and spans[0].tok_end == 13
    # the corpus-sized kept-set scratch is cleaned up after the run
    import os as _os
    leftovers = [d for d in _os.listdir(tmp_path) if "kept_scratch" in d]
    assert leftovers == []


def test_curation_job_cli_id_col(spark, tmp_path):
    """--id-col reaches EVERY stage (decontam, split, packing) — a table
    keyed by 'id' with no doc_id column must run end to end."""
    import sys as _sys

    _sys.path.insert(0, "/root/repo/jobs")
    from curation_job import main as job_main

    from pdf_parser_spark.io import read_table, write_table

    doc_rows = [
        (10, "clean words " + " ".join(f"y{i}" for i in range(20))),
        (11, " ".join(f"leak{i}" for i in range(13)) + " tail"),
    ]
    ev_rows = [(100, " ".join(f"leak{i}" for i in range(13)))]
    src = str(tmp_path / "docs_id_in")
    evp = str(tmp_path / "eval_id_in")
    write_table(spark.createDataFrame(doc_rows, "id long, text string"), src)
    write_table(spark.createDataFrame(ev_rows, "doc_id long, text string"), evp)
    out = str(tmp_path / "curated_id")
    assert job_main(["--input", src, "--eval", evp, "--output", out,
                     "--id-col", "id", "--budget", "16",
                     "--buckets", "2"]) == 0
    got = {r.id: r for r in read_table(spark, out).collect()}
    assert sorted(got) == [10]  # 11 dropped by decontamination
    assert got[10].split in ("train", "val", "test")
    assert got[10].n_seqs >= 1


def test_dedup_job_cli_semdedup(spark, tmp_path):
    """dedup_job --method semdedup: embedding-space greedy keep drops the
    higher-id member of a near-identical pair, keeps the distinct one."""
    import math as _math
    import sys as _sys

    _sys.path.insert(0, "/root/repo/jobs")
    from dedup_job import main as job_main

    from pdf_parser_spark.io import read_table, write_table

    rows = [
        (0, [1.0, 0.0]),
        (1, [_math.cos(0.05), _math.sin(0.05)]),   # ~0.999 cosine to 0
        (2, [0.0, 1.0]),
    ]
    src = str(tmp_path / "embs_in")
    write_table(spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"), src)
    out = str(tmp_path / "kept_vecs")
    assert job_main(["--input", src, "--output", out,
                     "--method", "semdedup", "--id-col", "vec_id",
                     "--cells", "2", "--cosine-threshold", "0.95"]) == 0
    kept = sorted(r.vec_id for r in read_table(spark, out).collect())
    assert kept == [0, 2]


def test_index_job_cli(spark, tmp_path):
    """The retrieval-index CLI: chunks, embeddings, SQ8 codes, and IVF
    cell assignments all line up row-for-row, and a query through the
    stored index retrieves the shared-vocabulary chunk first."""
    import sys as _sys

    _sys.path.insert(0, "/root/repo/jobs")
    from index_job import main as job_main

    from pdf_parser_spark.corpus import similarity as S
    from pdf_parser_spark.io import read_table, write_table

    rows = [
        (0, "alpha beta gamma delta " * 12),
        (1, "alpha beta gamma delta epsilon zeta " * 10),
        (2, "uno dos tres quatro cinco " * 12),
    ]
    src = str(tmp_path / "docs_in")
    write_table(spark.createDataFrame(rows, "doc_id long, text string"), src)
    root = str(tmp_path / "index")
    assert job_main(["--input", src, "--output", root,
                     "--size", "24", "--overlap", "8",
                     "--dims", "32", "--cells", "2"]) == 0

    chunks = read_table(spark, f"{root}/chunks")
    emb = read_table(spark, f"{root}/embeddings")
    codes = read_table(spark, f"{root}/codes")
    cells = read_table(spark, f"{root}/cells")
    n = chunks.count()
    assert n == emb.count() == codes.count() == cells.count() > 3
    assert set(r.centroid_id for r in cells.collect()) <= {0, 1}
    # query the stored index: doc 0 chunk 0 must retrieve doc 0/1
    # chunks (shared vocabulary) ahead of the disjoint doc 2
    top = [r.chunk_id for r in S.sq8_topk(
        emb, query_id=0, k=2, id_col="chunk_id").collect()]
    assert top and all(c // 100000 in (0, 1) for c in top)


def test_write_bucketed_eliminates_shuffles(spark, transcripts_sf0001):
    """Bucketed-table layout: conv_id-keyed aggregation and self-join
    over the bucketed table run with ZERO shuffle exchanges — the
    shuffle is paid once at write time (the 100 TB ingest-layout
    story; Iceberg's bucket(N, key) transform on the same seam)."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.io import write_bucketed

    tr = spark.read.parquet(transcripts_sf0001)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(tr, "t_bucket_test", "conv_id",
                       n_buckets=8, sort_cols=("conv_id", "turn_idx"))
        b = spark.table("t_bucket_test")
        agg = b.groupBy("conv_id").agg(F.count("*").alias("n"))
        p1 = agg._jdf.queryExecution().executedPlan().toString()
        assert p1.count("Exchange") == 0
        assert agg.count() == tr.select("conv_id").distinct().count()
        j = b.alias("a").join(b.alias("c"), "conv_id") \
            .groupBy("conv_id").count()
        p2 = j._jdf.queryExecution().executedPlan().toString()
        assert p2.count("Exchange hashpartitioning") == 0
        assert "SortMergeJoin" in p2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_bucket_test")


def test_analytics_job_cli(spark, tmp_path):
    """The event-analytics CLI writes each selected report and rejects
    unknown names upfront."""
    import sys as _sys
    from datetime import datetime, timedelta

    import pytest as _pt

    _sys.path.insert(0, "/root/repo/jobs")
    from analytics_job import main as job_main

    from pdf_parser_spark.io import read_table, write_table

    def t(h):
        return datetime(2024, 1, 1) + timedelta(hours=h)

    rows = [(i, t(i % 40), i % 7,
             ["click", "view", "purchase"][i % 3], float(i), None)
            for i in range(300)]
    src = str(tmp_path / "events_in")
    write_table(spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"), src)
    root = str(tmp_path / "reports")
    assert job_main(["--events", src, "--output", root,
                     "--reports", "rollup,kmv,anomaly"]) == 0
    assert read_table(spark, f"{root}/kmv").count() == 3
    assert read_table(spark, f"{root}/rollup").count() > 3
    import os
    assert not os.path.exists(f"{root}/funnel")  # unselected: not built
    with _pt.raises(SystemExit):
        job_main(["--events", src, "--output", root,
                  "--reports", "nope"])


def test_ingest_dedup_job_cli_batches_and_resume(spark, tmp_path):
    """ingest_dedup_job across three batches: bootstrap keeps the
    within-batch-deduped first batch; batch 2 drops exact and near dups
    of the accumulated corpus; a completed batch is skipped on rerun
    (resume marker) and a rerun of an UNMARKED batch is idempotent."""
    import shutil
    import sys as _sys

    _sys.path.insert(0, "/root/repo/jobs")
    from ingest_dedup_job import main as job_main

    from pdf_parser_spark.io import read_table, write_table

    out = str(tmp_path / "corpus")
    store = str(tmp_path / "store")

    b1 = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # within-batch dup
        (2, "a completely different corpus document about engines"),
    ]
    src1 = str(tmp_path / "b1")
    write_table(spark.createDataFrame(b1, "doc_id long, text string"), src1)
    assert job_main(["--batch", src1, "--batch-id", "b1",
                     "--output", out, "--store", store]) == 0
    kept1 = sorted(r.doc_id for r in read_table(spark, out).collect())
    assert kept1 == [0, 2]  # bootstrap: within-batch dedup only

    b2 = [
        (10, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (11, "the quick brown fox jumps over the sleepy dog"),  # near dup of 0
        (12, "entirely novel text mentioning spark and parquet"),
    ]
    src2 = str(tmp_path / "b2")
    write_table(spark.createDataFrame(b2, "doc_id long, text string"), src2)
    assert job_main(["--batch", src2, "--batch-id", "b2",
                     "--output", out, "--store", store]) == 0
    kept2 = sorted(r.doc_id for r in read_table(spark, out).collect())
    assert 10 not in kept2 and 12 in kept2 and kept1 == [0, 2]
    # 11 dropped only if LSH banding proposed the (11, 0) pair
    from pdf_parser_spark.corpus import dedup as D
    bb = D.band_keys(spark.createDataFrame(b2[1:2], "doc_id long, text string"))
    hb = D.band_keys(spark.createDataFrame(b1[:1], "doc_id long, text string"))
    collides = bb.join(hb.withColumnRenamed("doc_id", "h"),
                       ["band", "band_key"]).count() > 0
    assert (11 not in kept2) == collides

    # completed batch skips (marker) — corpus unchanged
    assert job_main(["--batch", src2, "--batch-id", "b2",
                     "--output", out, "--store", store]) == 0
    assert sorted(r.doc_id for r in read_table(spark, out).collect()) == kept2

    # simulate a crash BEFORE the marker: delete it, rerun -> idempotent
    shutil.rmtree(str(tmp_path / "store" / "done" / "batch=b2"))
    assert job_main(["--batch", src2, "--batch-id", "b2",
                     "--output", out, "--store", store]) == 0
    assert sorted(r.doc_id for r in read_table(spark, out).collect()) == kept2
    fp = read_table(spark, store + "/fp")
    assert fp.count() == fp.select("fp").distinct().count() == len(kept2)


def test_cms_sketch_properties(spark):
    """CMS invariants: estimate >= exact for present keys, 0 for absent
    keys, weighted (key, count) input builds the identical sketch as
    the raw stream, and the sketch never exceeds depth*width rows."""
    from pdf_parser_spark.plans import sketch as SK

    raw = spark.createDataFrame(
        [(k,) for k in ["a"] * 7 + ["b"] * 3 + ["c"] * 1 + [None]],
        "k string")
    sk_raw = SK.cms_sketch(raw, "k", depth=3, width=8)
    assert sk_raw.count() <= 3 * 8
    assert sk_raw.agg(F.sum("cnt")).first()[0] == 3 * 11  # null excluded

    weighted = spark.createDataFrame(
        [("a", 7), ("b", 3), ("c", 1)], "k string, w long")
    sk_w = SK.cms_sketch(weighted, "k", weight_col="w", depth=3, width=8)
    assert sorted(map(tuple, sk_raw.collect())) \
        == sorted(map(tuple, sk_w.collect()))

    keys = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("zzz",)], "k string")
    est = {r.k: r.cms_est
           for r in SK.cms_estimate(sk_raw, keys, "k",
                                    depth=3, width=8).collect()}
    exact = {"a": 7, "b": 3, "c": 1}
    for k, e in exact.items():
        assert est[k] >= e, (k, est[k], e)
    assert est["zzz"] == 0


def test_read_jsonl_corrupt_record_lineage(spark, tmp_path):
    """JSONL ingest D1 semantics: clean lines parse, malformed JSON and
    type-mismatched lines become ok=false rows carrying the raw line,
    nothing is dropped, no task fails; a Spark-written JSON export reads
    back clean AND cross-reads byte-identically in DuckDB."""
    import duckdb

    from pdf_parser_spark.io import read_jsonl

    src = tmp_path / "in.jsonl"
    src.write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        '{"doc_id": 2, "text": "beta"\n'            # truncated JSON
        '{"doc_id": "not-an-int", "text": "gamma"}\n'  # type mismatch
        '{"doc_id": 4}\n')                          # missing field -> null
    got = read_jsonl(spark, str(src), "doc_id long, text string")
    allrows = got.collect()
    rows = {r.doc_id: r for r in allrows if r.doc_id is not None}
    assert len(allrows) == 4
    assert rows[1].ok and rows[1].text == "alpha" and rows[1].raw is None
    bad = [r for r in allrows if not r.ok]
    assert len(bad) == 2  # truncated JSON + type mismatch
    assert all(r.raw is not None for r in bad)
    assert rows[4].ok and rows[4].text is None

    out = tmp_path / "out"
    clean = got.filter("ok").select("doc_id", "text")
    clean.write.mode("overwrite").json(str(out))
    back = read_jsonl(spark, str(out), "doc_id long, text string")
    assert back.filter("NOT ok").count() == 0
    assert sorted((r.doc_id, r.text) for r in back.collect()) \
        == sorted((r.doc_id, r.text) for r in clean.collect())
    duck = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_json_auto('{out}/*.json', "
        "format='newline_delimited') ORDER BY doc_id").fetchall()
    assert duck == sorted((r.doc_id, r.text) for r in clean.collect())


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order key evidence: with parquet footer min/max stats, a
    single-column-sorted layout prunes files only on its own column
    (every file spans the FULL range of the other), while a layout
    range-partitioned and sorted on `zvalue` bounds every file's
    rectangle so predicates on EITHER column skip most files. Data
    itself is unchanged."""
    import glob

    import pyarrow.parquet as pq

    from pdf_parser_spark.plans import layout as LY

    ev = (spark.read.parquet("/root/testdata/sf0.01/events.parquet")
          .select("event_id",
                  F.col("user_id").alias("zx"),
                  F.least(F.floor(F.col("value") / 2), F.lit(255))
                  .cast("long").alias("zy")))

    by_user = str(tmp_path / "by_user")
    (ev.repartitionByRange(16, "zx").sortWithinPartitions("zx")
     .write.mode("overwrite").parquet(by_user))
    by_z = str(tmp_path / "by_z")
    (ev.select("*", LY.zvalue("zx", "zy", bits=8).alias("_z"))
     .repartitionByRange(16, "_z").sortWithinPartitions("_z").drop("_z")
     .write.mode("overwrite").parquet(by_z))

    def overlap_frac(root, col, lo, hi):
        files = sorted(glob.glob(root + "/part-*.parquet"))
        assert len(files) >= 8, files
        hit = 0
        for f in files:
            pf = pq.ParquetFile(f)
            idx = pf.schema_arrow.get_field_index(col)
            md = pf.metadata
            mn = min(md.row_group(i).column(idx).statistics.min
                     for i in range(md.num_row_groups))
            mx = max(md.row_group(i).column(idx).statistics.max
                     for i in range(md.num_row_groups))
            if mx >= lo and mn <= hi:
                hit += 1
        return hit / len(files)

    # same rows either way — layout is not data
    assert (spark.read.parquet(by_z).count()
            == spark.read.parquet(by_user).count() == ev.count())

    # user-sorted: perfect on zx, useless on zy
    assert overlap_frac(by_user, "zx", 10, 20) <= 0.25
    assert overlap_frac(by_user, "zy", 50, 60) == 1.0
    # z-order: prunes BOTH dimensions
    zx_frac = overlap_frac(by_z, "zx", 10, 20)
    zy_frac = overlap_frac(by_z, "zy", 50, 60)
    assert zx_frac <= 0.7, zx_frac
    assert zy_frac <= 0.7, zy_frac

    # engine z-value == portable SQL z-value (the twin cannot drift)
    import duckdb
    spark_z = sorted((r.event_id, r.z) for r in ev.select(
        "event_id", LY.zvalue("zx", "zy", 8).alias("z")).collect())
    duck_z = duckdb.connect().execute(
        "SELECT event_id, " + LY.zvalue_sql("zx", "zy", 8) + " AS z "
        "FROM (SELECT event_id, user_id AS zx, "
        "least(floor(value / 2), 255)::BIGINT AS zy "
        "FROM '/root/testdata/sf0.01/events.parquet') ORDER BY event_id"
    ).fetchall()
    assert spark_z == [(int(a), int(b)) for a, b in duck_z]


def test_curation_job_cli_jsonl_input(spark, tmp_path):
    """--input-jsonl-schema: JSONL in, malformed lines dropped with a
    count, curated parquet out — the full ingest->curate seam."""
    import sys as _sys

    _sys.path.insert(0, "/root/repo/jobs")
    from curation_job import main as job_main

    from pdf_parser_spark.io import read_table, write_table

    src = tmp_path / "in.jsonl"
    words = " ".join(f"w{i}" for i in range(20))
    src.write_text(
        f'{{"doc_id": 0, "text": "clean doc {words}"}}\n'
        'not json at all\n'
        f'{{"doc_id": 1, "text": "other doc {words}"}}\n')
    evp = str(tmp_path / "eval_in")
    write_table(spark.createDataFrame(
        [(100, "zz " * 13)], "doc_id long, text string"), evp)

    out = str(tmp_path / "curated")
    assert job_main(["--input", str(src),
                     "--input-jsonl-schema", "doc_id long, text string",
                     "--eval", evp, "--output", out,
                     "--budget", "16", "--buckets", "2"]) == 0
    got = sorted(r.doc_id for r in read_table(spark, out).collect())
    assert got == [0, 1]


def test_profile_job_cli(spark, tmp_path):
    """profile_job: stats + skew + quantiles relations written, summary
    fields populated."""
    import sys as _sys

    _sys.path.insert(0, "/root/repo/jobs")
    from profile_job import main as job_main

    from pdf_parser_spark.io import read_table

    out = str(tmp_path / "profile")
    assert job_main(["--input", "/root/testdata/sf0.001/documents.parquet",
                     "--output", out, "--key-col", "lang",
                     "--numeric-col", "n_chars"]) == 0
    st = {r.column: r for r in read_table(spark, out + "/table_stats").collect()}
    assert st["doc_id"].ndv == st["doc_id"].n_rows
    sk = read_table(spark, out + "/skew").collect()
    assert len(sk) <= 10 and sk[0].rank == 1
    qs = {r.p: r.est for r in read_table(spark, out + "/quantiles").collect()}
    assert set(qs) == {0.5, 0.9, 0.99} and qs[0.5] <= qs[0.9] <= qs[0.99]


def test_graph_job_cli(spark, tmp_path):
    """graph_job: edges materialized, pagerank + hits reports written,
    summary printed; rank mass conserved."""
    import sys as _sys

    _sys.path.insert(0, "/root/repo/jobs")
    from graph_job import main as job_main

    from pdf_parser_spark.io import read_table

    out = str(tmp_path / "graph")
    assert job_main(["--input",
                     "/root/repo/data/transcripts/sf0.001/transcripts_ds",
                     "--output", out]) == 0
    edges = read_table(spark, out + "/edges")
    assert edges.count() > 0
    assert set(edges.columns) == {"conv_id", "turn_idx", "link_idx",
                                  "href", "anchor"}
    pr = read_table(spark, out + "/pagerank").collect()
    assert abs(sum(r.r for r in pr) - 1.0) < 1e-5
    hh = read_table(spark, out + "/hits").collect()
    assert abs(sum(r.hub for r in hh) - 1.0) < 1e-5
    assert abs(sum(r.auth for r in hh) - 1.0) < 1e-5


def test_probe_job_cli(spark, tmp_path, capsys):
    """probe_job: weights + scores relations written, and — the round-4
    defect pin — the PUBLISHED scores' thresholded keep-set reproduces
    the PRINTED agreement exactly (same model, same feature frame)."""
    import json as _json
    import sys as _sys

    _sys.path.insert(0, "/root/repo/jobs")
    from probe_job import main as job_main

    from pdf_parser_spark.corpus.textstats import quality_filter_keep
    from pdf_parser_spark.io import read_table

    out = str(tmp_path / "probe")
    assert job_main(["--input", "/root/testdata/sf0.01/documents.parquet",
                     "--output", out]) == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["head"] == "codegen" and report["iters"] == 4
    wts = {r.dim: r.weight
           for r in read_table(spark, out + "/weights").collect()}
    assert -1 in wts and len(wts) == 71  # 64 BoW + 6 codegen + bias
    scores = read_table(spark, out + "/scores")
    assert scores.count() == 500 == report["n_docs"]
    assert set(scores.columns) == {"doc_id", "quality_score", "probe_keep"}
    # re-derive the report card from the published artifact alone
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rule = quality_filter_keep(docs).select("doc_id")
    joined = (scores.join(rule.withColumn("rk", F.lit(1)), "doc_id", "left")
              .select("probe_keep", F.coalesce("rk", F.lit(0)).alias("rk")))
    agg = joined.agg(
        F.sum("probe_keep").alias("pk"),
        F.sum("rk").alias("rk"),
        F.sum((F.col("probe_keep") == F.col("rk")).cast("int"))
        .alias("agree")).first()
    assert agg.pk == report["n_probe_keep"]
    assert agg.rk == report["n_rule_keep"]
    assert agg.agree == report["n_agree"]
    # probe_keep is consistent with the published probability: z > 0
    # iff fast-sigmoid p > 0.5 (p == 0.5 only at exactly z == 0)
    assert scores.filter(
        ((F.col("quality_score") > 0.5) & (F.col("probe_keep") == 0))
        | ((F.col("quality_score") < 0.5) & (F.col("probe_keep") == 1))
    ).count() == 0
    # and the distilled head carries real signal above the keep base rate
    assert report["agreement"] > 0.8


def test_curation_job_cli_blocklist_and_probe(spark, tmp_path):
    """The two optional curation stages end to end: --blocklist drops
    the doc linking to a blocked registrable domain before anything
    else runs, --quality-probe trains on the scrubbed corpus, publishes
    scores + agreement sidecars, and the curated output is exactly the
    probe-positive, uncontaminated remainder."""
    import sys as _sys

    _sys.path.insert(0, "/root/repo/jobs")
    from curation_job import main as job_main

    from pdf_parser_spark.io import read_table, write_table

    good = ("the quick brown fox jumps over the lazy dog and then "
            "the dog naps under the old oak tree for a while longer")
    doc_rows = [(i, f"{good} variant {i} " + " ".join(
        f"w{i}_{j}" for j in range(10))) for i in range(8)]
    doc_rows += [
        (8, f'see <a href="https://Tracker.Ads.io:80/t">buy</a> {good}'),
        (9, " ".join(f"leak{i}" for i in range(13)) + f" {good}"),
        (10, "tiny"),  # rule-dropped: < 10 tokens
    ]
    ev_rows = [(100, " ".join(f"leak{i}" for i in range(13)))]
    src = str(tmp_path / "docs_bp_in")
    evp = str(tmp_path / "eval_bp_in")
    write_table(spark.createDataFrame(doc_rows, "doc_id long, text string"),
                src)
    write_table(spark.createDataFrame(ev_rows, "doc_id long, text string"),
                evp)

    out = str(tmp_path / "curated_bp")
    assert job_main(["--input", src, "--eval", evp, "--output", out,
                     "--blocklist", "ads.io,blocked.example",
                     "--quality-probe", "codegen", "--probe-iters", "2",
                     "--budget", "16", "--buckets", "2"]) == 0

    got = sorted(r.doc_id for r in read_table(spark, out).collect())
    scores = {r.doc_id: r for r in
              read_table(spark, out + "_probe/scores").collect()}
    report = read_table(spark, out + "_probe/report").first()

    assert 8 not in got                      # blocklisted
    assert 9 not in got                      # contaminated
    assert 8 not in scores                   # blocked BEFORE the probe
    # curated = probe-positive minus contaminated; scores cover the
    # whole scrubbed corpus including probe-dropped docs
    probe_pos = {d for d, r in scores.items() if r.probe_keep == 1}
    assert set(got) == probe_pos - {9}
    assert report.head == "codegen" and report.iters == 2
    assert report.n_docs == len(scores)
    assert report.n_probe_keep == len(probe_pos)
    assert 0 <= report.n_agree <= report.n_docs
    # published scores reproduce the report's keep count exactly
    assert sum(r.probe_keep for r in scores.values()) \
        == report.n_probe_keep
