"""Per-partition checkpoint manifests + exact resume + lineage metrics.

North-rule requirement (BASELINE.json:north_rule): outputs written with
per-partition checkpoint manifests enabling exact resume, plus lineage and
throughput metrics per partition. The reference has no analog (it is a
single-process batch tool whose only batch metadata is the dict at
/root/reference/pdf_layout_tester.py:253-258); this is the distributed
generalization of "degrade, don't abort" (D1) to whole-job granularity.

Protocol:

* conversations are deterministically bucketed: ``bucket =
  pmod(xxhash64(conv_id), n_buckets)`` — stable across runs and engines,
  and conversation-aligned so a conversation is never split across
  manifest units (exact resume can then guarantee no duplicate / missing
  *turns*).
* **one Spark query per (re)submission**: all pending buckets are
  extracted in a single pass over the input, so input IO is independent
  of ``n_buckets`` (a 64-bucket run reads the input once, not 64 times).
  Extraction keeps the input's split parallelism; its output is then
  hash-clustered by bucket, and a ``mapInArrow`` writer above that
  shuffle writes each bucket it receives as one parquet file with
  pyarrow: a dot-prefixed temp file (Spark's file index skips it)
  renamed to ``bucket=k/part-00000.parquet``, so a retried task replaces
  the file instead of adding a second one. There is no Spark file
  commit protocol (no staging renames, no per-file ``chmod``) and no
  second scan: each writer yields ``(bucket, rows_out, error_rows)``,
  read back from the footer and the ``metadata`` column of the file it
  just closed, and the driver collects those rows.
* the written schema is **recorded**: before its write, each job stores
  its plan's schema in ``_manifests/_schema.json``. ``read_output``
  plans from the manifests and this schema instead of rediscovering
  them from the files, as Delta Lake and Iceberg readers plan from
  table metadata; only output dirs that predate the sidecar fall back
  to schema inference.
* ``rows_in`` is **observed**, not assumed: the input side of the job
  carries an ``Observation`` counting rows actually fed to extraction;
  the job fails fast if the observed total disagrees with the written
  row total (the extractor's 1:1 degrade-don't-drop invariant, D1).
* each bucket is committed by atomically renaming a manifest JSON into
  ``manifest_dir`` (write tmp + os.replace — the same commit idiom as
  Iceberg's atomic metadata swap, scoped down to a local-FS sandbox; the
  IO layer is pluggable). The manifest row carries lineage + throughput:
  ``{bucket, status, rows_in, rows_out, error_rows, wall_ms, job_buckets,
  turns_per_sec, input_path, n_buckets, variant, pages_spec}``.
  ``wall_ms`` is the wall time of the job that committed the bucket and
  ``job_buckets`` how many buckets that job carried, so per-bucket
  ``turns_per_sec = rows_out / wall`` sums to the job's true throughput.
* resume = set-difference of pending buckets against committed manifests
  (the anti-join of SURVEY.md section 4.2), then one job over only those.
  A bucket with data files but no manifest is re-run from scratch (its
  directory is removed before the job), which is what makes the resume
  *exact*. Committed manifests are validated against
  the current invocation's (n_buckets, variant, input_path, pages_spec)
  — a mismatched resume fails fast instead of silently mixing outputs.

The writers and the driver reach ``out_dir`` as a local path, so on a
cluster it must be a filesystem every executor mounts. At cluster scale
the same protocol runs with Iceberg table appends per bucket group;
buckets stay O(thousands) so the manifest table is tiny.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import ExitStack

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from pdf_parser_spark.io import get_table_io
from pdf_parser_spark.operators.extract import LAYOUT_SCHEMA_DDL, extract_layouts
from pdf_parser_spark.pyworker import python_task


def bucket_expr(n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def committed_buckets(manifest_dir: str) -> dict:
    """bucket -> manifest dict for every committed bucket (via the
    pluggable IO's manifest protocol — file JSONs for parquet, a manifest
    table under an Iceberg catalog)."""
    return get_table_io().committed_manifests(manifest_dir)


def _commit_manifest(manifest_dir: str, manifest: dict) -> None:
    get_table_io().commit_manifest(manifest_dir, manifest)


def _validate_resume(done: dict, run_config: dict) -> None:
    """Fail fast when committed manifests came from a different run shape.

    Silent resume across a changed bucket count / variant / input / page
    spec would mix incompatible outputs while claiming "exact resume"
    (the reference's analog is the strict page-spec validation at
    /root/reference/pdf_layout_tester.py:139-192).
    """
    for k in sorted(done):
        m = done[k]
        mismatches = {
            key: (m.get(key), run_config[key])
            for key in run_config
            if m.get(key) != run_config[key]
        }
        if mismatches:
            raise ValueError(
                f"resume mismatch for committed bucket {k}: "
                + ", ".join(
                    f"{key}: manifest={old!r} != run={new!r}"
                    for key, (old, new) in sorted(mismatches.items())
                )
                + " — rerun with matching parameters or pass no_resume/"
                "delete the _manifests directory to recompute"
            )


_SCHEMA_FILE = "_schema.json"


def _write_schema_sidecar(manifest_dir: str, schema: StructType) -> None:
    """Record the schema a job is about to write: its own job plan without
    the ``bucket`` column, taken before the write. It depends on the
    input's columns (e.g. ``ts`` present or not), so every committed read
    and the empty-output relation take it from here, not from the files.
    Same tmp+os.replace atomic-commit idiom as the bucket manifests."""
    os.makedirs(manifest_dir, exist_ok=True)
    path = os.path.join(manifest_dir, _SCHEMA_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(schema.json())
    os.replace(tmp, path)


def _recorded_schema(manifest_dir: str) -> StructType | None:
    """The recorded layout schema plus the ``bucket int`` partition
    column, or None for an output dir written before the sidecar existed
    (its readers infer the schema from the files).

    ``bucket`` must be part of it: a dir holding no data file has no
    partition to infer that column from, and the readers filter on it."""
    path = os.path.join(manifest_dir, _SCHEMA_FILE)
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return StructType.fromJson(json.load(f)).add("bucket", IntegerType())


def _bucket_in(buckets) -> F.Column:
    """``bucket IN (...)`` as one SQL expression: ``isin`` over a Python
    list builds every literal through its own py4j calls."""
    return F.expr(f"bucket IN ({', '.join(str(int(k)) for k in buckets)})")


def bucket_job_plan(
    src: DataFrame,
    buckets: list,
    n_buckets: int,
    variant: str = "a003",
    obs: Observation | None = None,
) -> DataFrame:
    """The single-job plan for a set of pending buckets.

    Shape (asserted by plan audit + test): exactly one input Scan and
    exactly one Exchange, ``hashpartitioning(bucket, ...)``, above the
    one extraction MapInPandas. The bucket predicate rides the scan and
    extraction runs on the input splits, so skew (the mega-conversation)
    stays on the split-parallel side; only the cheap write is regrouped.
    Every row of a bucket lands in one write task, so each bucket is
    written as one file. The partition count is explicit so AQE cannot
    coalesce the write into a single task.

    The ``rows_in`` Observation's CollectMetrics node sits in the shuffle
    stage below the Exchange. AQE's empty-relation rule does not fold the
    ``bucket_write_plan`` writer above an empty stage, so the node and its
    metric survive an input that is empty only at run time.
    """
    part = src.filter(_bucket_in(buckets)).drop("bucket")
    if obs is not None:
        part = part.observe(obs, F.count(F.lit(1)).alias("rows_in"))
    layouts = extract_layouts(part, variant=variant)
    n_parts = min(len(buckets), src.sparkSession.sparkContext.defaultParallelism)
    return layouts.withColumn("bucket", bucket_expr(n_buckets)).repartition(
        n_parts, "bucket")


_PART_FILE = "part-00000.parquet"
_ROW_GROUP_BYTES = 64 << 20
_COUNTS_DDL = "bucket int, rows_out long, error_rows long"


def _write_buckets(batches, out_dir: str):
    """Write each bucket in ``batches`` as ``bucket=k/part-00000.parquet``
    and yield its ``(bucket, rows_out, error_rows)`` row.

    One ``ParquetWriter`` per bucket stays open over the batches' schema
    without ``bucket`` (the recorded schema; ``ts`` stays tz-aware, so
    Spark reads it back as ``timestamp``). Rows are buffered per bucket
    up to ``_ROW_GROUP_BYTES`` so a row group is not one batch's slice.
    The file is written under a dot-prefixed temp name, which Spark's
    file index skips, and renamed into place once closed. The counts
    come from that closed file: ``rows_out`` from its footer,
    ``error_rows`` from its ``metadata`` column."""
    open_, pending = {}, {}

    def flush(k):
        open_[k][0].write_table(pa.Table.from_batches(pending.pop(k)))

    with ExitStack() as writers:  # a failed task closes what it opened
        for batch in batches:
            keys = batch.column("bucket")
            body = batch.drop_columns(["bucket"])
            for k in pc.unique(keys).to_pylist():
                if k not in open_:
                    bucket_dir = os.path.join(out_dir, f"bucket={k}")
                    os.makedirs(bucket_dir, exist_ok=True)
                    tmp = os.path.join(bucket_dir, f".part-{uuid.uuid4().hex}.tmp")
                    writer = writers.enter_context(pq.ParquetWriter(tmp, body.schema))
                    open_[k] = (writer, tmp)
                pending.setdefault(k, []).append(body.filter(pc.equal(keys, k)))
                if sum(b.nbytes for b in pending[k]) >= _ROW_GROUP_BYTES:
                    flush(k)
        for k, (writer, tmp) in open_.items():
            if k in pending:
                flush(k)
            writer.close()
            path = os.path.join(out_dir, f"bucket={k}", _PART_FILE)
            os.replace(tmp, path)
            with pq.ParquetFile(path) as written:
                rows_out = written.metadata.num_rows
                meta = written.read(columns=["metadata"]).column("metadata")
            errors = pc.sum(pc.is_valid(pc.map_lookup(meta, pa.scalar("error"), "all")))
            yield pa.record_batch({"bucket": pa.array([k], pa.int32()),
                                   "rows_out": [rows_out],
                                   "error_rows": [errors.as_py() or 0]})


def bucket_write_plan(plan: DataFrame, out_dir: str) -> DataFrame:
    """``plan`` (a ``bucket_job_plan``) with the bucket writer above its
    Exchange: a ``mapInArrow`` that writes every bucket its task receives
    and returns one ``bucket, rows_out, error_rows`` row per bucket."""

    @python_task
    def write(batches):
        yield from _write_buckets(batches, out_dir)

    return plan.mapInArrow(write, _COUNTS_DDL)


def _run_bucket_job(
    src: DataFrame,
    out_dir: str,
    buckets: list,
    n_buckets: int,
    variant: str,
) -> tuple:
    """One Spark query: extract + write every bucket in ``buckets``.

    Returns (per-bucket counts dict, wall_ms). Single input scan
    regardless of len(buckets); the writers touch only the
    ``bucket=k`` directories of ``buckets``, which are removed first.
    """
    t0 = time.monotonic()
    for k in buckets:  # uncommitted partial output: redo from scratch
        bucket_dir = os.path.join(out_dir, f"bucket={k}")
        if os.path.isdir(bucket_dir):
            shutil.rmtree(bucket_dir)

    obs = Observation(f"rows_in_{buckets[0]}_{buckets[-1]}")
    plan = bucket_job_plan(src, buckets, n_buckets, variant, obs=obs)
    _write_schema_sidecar(
        os.path.join(out_dir, "_manifests"), plan.drop("bucket").schema)
    rows = bucket_write_plan(plan, os.path.abspath(out_dir)).collect()
    counts = {r["bucket"]: (r["rows_out"], r["error_rows"]) for r in rows}
    rows_in_total = int(obs.get["rows_in"])
    rows_out_total = sum(c[0] for c in counts.values())
    if rows_in_total != rows_out_total:
        raise RuntimeError(
            f"extraction row invariant broken: observed rows_in="
            f"{rows_in_total} but wrote rows_out={rows_out_total} "
            f"for buckets {buckets}"
        )
    wall_ms = int((time.monotonic() - t0) * 1000)
    return counts, wall_ms


def run_with_manifest(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    variant: str = "a003",
    input_path: str = "",
    pages_spec: str | None = None,
) -> dict:
    """Extract layouts with checkpoint manifests, one query per submission.

    Returns ``{"processed": [...], "skipped": [...], "manifests": {...}}``.
    Re-invoking resumes exactly: committed buckets are skipped, and the
    uncommitted ones (written or not) are recomputed in a single pass and
    their bucket directories rewritten.
    """
    manifest_dir = os.path.join(out_dir, "_manifests")
    done = committed_buckets(manifest_dir)
    run_config = {
        "n_buckets": n_buckets,
        "variant": variant,
        "input_path": input_path,
        "pages_spec": pages_spec,
    }
    _validate_resume(done, run_config)
    pending = [k for k in range(n_buckets) if k not in done]
    skipped = sorted(done)
    src = transcripts.withColumn("bucket", bucket_expr(n_buckets))

    processed: list = []
    if pending:
        counts, wall_ms = _run_bucket_job(
            src, out_dir, pending, n_buckets, variant)
        wall_s = max(wall_ms / 1000.0, 1e-9)
        for k in pending:
            rows_out, error_rows = counts.get(k, (0, 0))
            manifest = {
                "bucket": k,
                "status": "committed",
                # rows_in == rows_out is *validated* per job against the
                # observed input count (RuntimeError above), not assumed.
                "rows_in": rows_out,
                "rows_out": rows_out,
                "error_rows": error_rows,
                "wall_ms": wall_ms,
                "job_buckets": len(pending),
                "turns_per_sec": round(rows_out / wall_s, 2),
                **run_config,
            }
            _commit_manifest(manifest_dir, manifest)
            processed.append(k)
    return {
        "processed": processed,
        "skipped": skipped,
        "manifests": committed_buckets(manifest_dir),
    }


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read every committed bucket's layouts as one DataFrame.

    Planned from the manifests and the recorded schema, so it starts no
    Spark job (no footer read to infer the schema; a ``get_spark``
    session lists the partitions on the driver). A ``bucket IN (...)``
    filter on the partition column prunes uncommitted partitions at the
    file index, then the column is dropped to keep the layout schema
    stable. Output dirs without the sidecar infer the schema.
    """
    manifest_dir = os.path.join(out_dir, "_manifests")
    done = committed_buckets(manifest_dir)
    schema = _recorded_schema(manifest_dir)
    if not done or all(m.get("rows_out", 0) == 0 for m in done.values()):
        # an all-empty run writes no data files — surface the stable empty relation, not a scan error,
        # in the run's recorded schema so empty and non-empty paths of the
        # same pipeline agree column-for-column (LAYOUT_SCHEMA_DDL is only
        # the fallback for output dirs without the sidecar).
        if schema is None:
            return spark.createDataFrame([], LAYOUT_SCHEMA_DDL)
        return spark.createDataFrame([], schema).drop("bucket")
    return (
        get_table_io().read(spark, out_dir, schema=schema)
        .filter(_bucket_in(sorted(done)))
        .drop("bucket")
    )


def lineage_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """The per-partition lineage/throughput manifest as a DataFrame."""
    rows = list(committed_buckets(os.path.join(out_dir, "_manifests")).values())
    return spark.createDataFrame(
        rows,
        schema=(
            "bucket int, status string, rows_in long, rows_out long, "
            "error_rows long, wall_ms long, job_buckets int, "
            "turns_per_sec double, n_buckets int, variant string, "
            "input_path string, pages_spec string"
        ),
    )
