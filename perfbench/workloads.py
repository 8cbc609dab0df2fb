"""The workloads: one timed operation each, its output checks, and the
per-layer numbers a traced run reads around it.

An operation is one closed-loop request: the benchmark submits it, waits
for every forced output, and only then submits the next one.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pdf_parser_spark.io import read_table
from pdf_parser_spark.operators.compare import get_variant
from pdf_parser_spark.operators.extract import blocks_batch, extract_batch, extract_layouts
from pdf_parser_spark.operators.jsonsink import conversation_json
from pdf_parser_spark.operators.manifest import read_output, run_with_manifest
from pdf_parser_spark.operators.reassemble import reassemble_conversations
from pdf_parser_spark.operators.spans import boilerplate_spans
from pdf_parser_spark.oracle.boilerplate import strip_boilerplate
from pdf_parser_spark.oracle.extractor import extract_turn

from perfbench import inputs, tracing

MB = 2.0 ** 20
N_BUCKETS = 64
SAMPLE = 40  # turns checked against the per-turn oracle each run
ORACLE_TIMING_TURNS = 200
BATCH_ROWS = 500  # rows per in-process extraction batch
TEXT_FIELDS = ("header", "footer", "left_column", "right_column")


def force(df) -> int:
    """Run a DataFrame's own executed plan to completion and count its rows
    (every column is computed; nothing is collected), so the plan walker
    can read that same execution's metrics afterwards."""
    return df._jdf.queryExecution().toRdd().count()


class Context:
    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.seed = seed
        self.inp: dict = {}
        self.expected: dict = {}
        self.job_out = ""  # output directory of the latest extract_job operation


def _python_layers(nodes: list) -> dict:
    s = tracing.node_sum
    return {
        "extract.python_s": s(nodes, "MapInPandas", "pythonTotalTime"),
        # worker start only: Spark's "time to initialize Python workers"
        # keeps growing with a reused worker's age, so it is not used
        "extract.python_init_s": s(nodes, "MapInPandas", "pythonBootTime"),
        "extract.arrow_sent_mb": s(nodes, "MapInPandas", "pythonDataSent") / MB,
        "extract.arrow_recv_mb": s(nodes, "MapInPandas", "pythonDataReceived") / MB,
        "scan.rows": s(nodes, "Scan", "numOutputRows"),
        "scan.mb": s(nodes, "Scan", "filesSize") / MB,
    }


def _task_layers(spark, group: str) -> dict:
    t = tracing.task_stats(spark, group)
    return {"extract.tasks": t["tasks"], "extract.max_task_s": t["max_task_s"],
            "extract.median_task_s": t["median_task_s"]}


def _sample(ctx: Context, rows: list) -> list:
    return random.Random(ctx.seed).sample(rows, min(SAMPLE, len(rows)))


def _oracle_layout(text: str, tool: str, turn_idx: int) -> dict:
    if tool == "html/v1":
        return strip_boilerplate(text)
    return extract_turn(text, tool if tool == "page/v1" else "plain", turn_idx, "a003")


def _compare_sample(sample: list, layouts) -> list:
    """Per-turn text equality of engine rows against the oracle."""
    got = {(r["conv_id"], r["turn_idx"]): r for r in layouts.collect()}
    errors = []
    for conv_id, turn_idx, _role, text, tool in sample:
        row = got.get((conv_id, turn_idx))
        if row is None:
            errors.append(f"{conv_id}/{turn_idx}: missing from output")
            continue
        want = _oracle_layout(text, tool, turn_idx)
        for field in TEXT_FIELDS:
            if row[field] != want[field]:
                errors.append(f"{conv_id}/{turn_idx} ({tool}): {field} differs from oracle")
        if ("error" in (row["metadata"] or {})) != ("error" in want["metadata"]):
            errors.append(f"{conv_id}/{turn_idx} ({tool}): error flag differs from oracle")
    return errors


def _sample_filter(df, sample: list):
    return df.filter(F.col("conv_id").isin(sorted({r[0] for r in sample})))


def inprocess_layers(inp: dict) -> dict:
    """Single-core timings of the extraction core's public batch functions
    in this process (no Spark): the input cut into batches of
    ``BATCH_ROWS`` turns, each batch one call per tool."""
    pdf = pq.read_table(inp["path"]).to_pandas()
    tok = page = html = plain = 0.0
    batch_ms, errors, fallbacks = [], 0, 0
    for start in range(0, len(pdf), BATCH_ROWS):
        batch = pdf.iloc[start:start + BATCH_ROWS]
        batch_s = 0.0
        for tool, part in (("page/v1", batch[batch["tool"] == "page/v1"]),
                           ("html/v1", batch[batch["tool"] == "html/v1"]),
                           ("plain", batch[~batch["tool"].isin(["page/v1", "html/v1"])])):
            if part.empty:
                continue
            if tool == "page/v1":
                t0 = time.perf_counter()
                blocks = blocks_batch(part)
                tok += time.perf_counter() - t0
                fallbacks += int((blocks["font_name"] == "Unknown").sum())
            t0 = time.perf_counter()
            out = extract_batch(part, "a003")
            dt = time.perf_counter() - t0
            batch_s += dt
            errors += int(sum("error" in (m or {}) for m in out["metadata"]))
            if tool == "page/v1":
                page += dt
            elif tool == "html/v1":
                html += dt
            else:
                plain += dt
        batch_ms.append(batch_s * 1000.0)
    rows = inp["rows"]
    page_rows = [r for r in rows if r[4] == "page/v1"][:ORACLE_TIMING_TURNS]
    html_rows = [r for r in rows if r[4] == "html/v1"][:ORACLE_TIMING_TURNS]
    return {
        "extract.page_tokenize_s": tok,
        "extract.page_classify_s": max(page - tok, 0.0),
        "extract.html_s": html,
        "extract.plain_s": plain,
        "extract.error_rows": errors,
        "extract.fallback_rows": fallbacks,
        "extract.batch_p50_ms": statistics.median(batch_ms),
        "extract.batch_max_ms": max(batch_ms),
        "oracle.page_turn_us": _per_turn_us(page_rows, lambda r: extract_turn(r[3], "page/v1", r[1], "a003")),
        "oracle.strip_boilerplate_us": _per_turn_us(html_rows, lambda r: strip_boilerplate(r[3])),
    }


def _per_turn_us(rows: list, fn) -> float:
    if not rows:
        return 0.0
    t0 = time.perf_counter()
    for r in rows:
        fn(r)
    return (time.perf_counter() - t0) / len(rows) * 1e6


class Workload:
    """One timed operation with its checks. ``size`` is the input's turn
    count at scale 1."""

    name = ""
    size = 0

    def prepare(self, ctx: Context) -> None:
        """Compute expected outputs once, outside set-up time."""

    def final_check(self, ctx: Context) -> list:
        """Errors found once per run, after the measured window."""
        return []


class ExtractPages(Workload):
    name = "extract_pages"
    size = 8000

    def build(self, ctx: Context, n: int, out_dir: str) -> dict:
        return inputs.build_transcripts("page/v1", ctx.seed, n, out_dir)

    def op(self, ctx: Context) -> dict:
        lay = extract_layouts(ctx.spark.read.parquet(ctx.inp["path"]), variant="a003")
        with ctx.tracer.span("extract"):
            rows = force(lay)
        return {"rows": rows, "extract": lay}

    def check(self, ctx: Context, res: dict) -> list:
        n = ctx.inp["n_items"]
        return [] if res["rows"] == n else [f"{res['rows']} layout rows for {n} turns"]

    def final_check(self, ctx: Context) -> list:
        sample = _sample(ctx, ctx.inp["rows"])
        df = _sample_filter(ctx.spark.read.parquet(ctx.inp["path"]), sample)
        return _compare_sample(sample, extract_layouts(df, variant="a003"))

    def layers(self, ctx: Context, res: dict) -> dict:
        nodes = tracing.plan_metrics(ctx.spark, res["extract"])
        return (_python_layers(nodes) | _task_layers(ctx.spark, ctx.tracer.last("extract")["group"])
                | {"scan.partitions": tracing.scan_partitions(res["extract"])})


class HtmlExtract(ExtractPages):
    name = "html_extract"
    size = 12000

    def build(self, ctx: Context, n: int, out_dir: str) -> dict:
        return inputs.build_transcripts("html/v1", ctx.seed, n, out_dir)

    def prepare(self, ctx: Context) -> None:
        ctx.expected["spans"] = sum(len(strip_boilerplate(r[3])["spans"]) for r in ctx.inp["rows"])

    def op(self, ctx: Context) -> dict:
        df = ctx.spark.read.parquet(ctx.inp["path"])
        lay, spans = extract_layouts(df, variant="a003"), boilerplate_spans(df)
        with ctx.tracer.span("extract"):
            rows = force(lay)
        with ctx.tracer.span("spans"):
            n_spans = force(spans)
        return {"rows": rows, "spans": n_spans, "extract": lay}

    def check(self, ctx: Context, res: dict) -> list:
        errors = super().check(ctx, res)
        if res["spans"] != ctx.expected["spans"]:
            errors.append(f"{res['spans']} spans, oracle gives {ctx.expected['spans']}")
        return errors

    def final_check(self, ctx: Context) -> list:
        errors = super().final_check(ctx)
        sample = _sample(ctx, ctx.inp["rows"])
        got: dict = {}
        spans = boilerplate_spans(_sample_filter(ctx.spark.read.parquet(ctx.inp["path"]), sample))
        for r in spans.collect():
            got.setdefault((r["conv_id"], r["turn_idx"]), []).append(
                (r["span_idx"], r["start_offset"], r["end_offset"]))
        for conv_id, turn_idx, _role, text, _tool in sample:
            have = [(s, e) for _i, s, e in sorted(got.get((conv_id, turn_idx), []))]
            if have != [tuple(p) for p in strip_boilerplate(text)["spans"]]:
                errors.append(f"{conv_id}/{turn_idx}: spans differ from oracle")
        return errors

    def layers(self, ctx: Context, res: dict) -> dict:
        out = super().layers(ctx, res)
        out["spans.s"] = ctx.tracer.last("spans")["dur_s"]
        return out


class ExtractJob(Workload):
    """The CLI job's path (jobs/extract_job.py with its defaults): a
    manifested 64-bucket run into a fresh directory, a resubmission that
    must skip every bucket, then reassembly and the JSON sink over the
    committed output."""

    name = "extract_job"
    size = 16000

    def build(self, ctx: Context, n: int, out_dir: str) -> dict:
        return inputs.build_transcripts("mix", ctx.seed, n, out_dir)

    def op(self, ctx: Context) -> dict:
        spark, tr, path = ctx.spark, ctx.tracer, ctx.inp["path"]
        if ctx.job_out:
            shutil.rmtree(ctx.job_out, ignore_errors=True)
        out = ctx.job_out = os.path.join(ctx.work_dir, f"job-{time.monotonic_ns()}")
        kwargs = dict(n_buckets=N_BUCKETS, variant=get_variant("a003"), input_path=path)
        with tr.span("manifest.job"):
            first = run_with_manifest(spark, read_table(spark, path), out, **kwargs)
        with tr.span("manifest.resume"):
            again = run_with_manifest(spark, read_table(spark, path), out, **kwargs)
        committed = read_output(spark, out)
        docs, js = reassemble_conversations(committed), conversation_json(committed)
        with tr.span("reassemble"):
            n_docs = force(docs)
        with tr.span("jsonsink"):
            n_js = force(js)
        return {"first": first, "again": again, "n_docs": n_docs, "n_js": n_js,
                "reassemble": docs, "out": out}

    def check(self, ctx: Context, res: dict) -> list:
        errors = []
        everything = list(range(N_BUCKETS))
        if sorted(res["first"]["processed"]) != everything:
            errors.append(f"first run processed {len(res['first']['processed'])} buckets")
        if sorted(res["again"]["skipped"]) != everything or res["again"]["processed"]:
            errors.append(f"resume skipped {len(res['again']['skipped'])} of {N_BUCKETS} buckets")
        rows_out = sum(m["rows_out"] for m in res["again"]["manifests"].values())
        if rows_out != ctx.inp["n_items"]:
            errors.append(f"{rows_out} committed rows for {ctx.inp['n_items']} turns")
        for key in ("n_docs", "n_js"):
            if res[key] != ctx.inp["n_convs"]:
                errors.append(f"{key}={res[key]} for {ctx.inp['n_convs']} conversations")
        return errors

    def final_check(self, ctx: Context) -> list:
        sample = _sample(ctx, ctx.inp["rows"])
        return _compare_sample(sample, _sample_filter(read_output(ctx.spark, ctx.job_out), sample))

    def layers(self, ctx: Context, res: dict) -> dict:
        spark, tr = ctx.spark, ctx.tracer
        job = tr.last("manifest.job")
        nodes = tracing.store_plan_metrics(spark, job["group"], "MapInPandas")
        files = [os.path.join(d, f) for d, _s, fs in os.walk(res["out"])
                 for f in fs if f.endswith(".parquet")]
        shuffle = tracing.node_sum(tracing.plan_metrics(spark, res["reassemble"]),
                                   "Exchange", "shuffleBytesWritten")
        return (_python_layers(nodes) | _task_layers(spark, job["group"]) | {
            "scan.partitions": tracing.scan_partitions(spark.read.parquet(ctx.inp["path"])),
            "manifest.job_s": job["dur_s"],
            "manifest.resume_s": tr.last("manifest.resume")["dur_s"],
            "manifest.commits": len(res["first"]["processed"]),
            "io.written_mb": sum(os.path.getsize(f) for f in files) / MB,
            "io.files_written": len(files),
            "reassemble.s": tr.last("reassemble")["dur_s"],
            "reassemble.shuffle_mb": shuffle / MB,
            "reassemble.max_task_s": tracing.task_stats(spark, tr.last("reassemble")["group"])["max_task_s"],
            "jsonsink.s": tr.last("jsonsink")["dur_s"],
        })


WORKLOADS = {w.name: w for w in (ExtractPages(), HtmlExtract(), ExtractJob())}
