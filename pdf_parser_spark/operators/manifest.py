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
* **one Spark job per (re)submission**: all pending buckets are extracted
  in a single pass over the input, so input IO is independent of
  ``n_buckets`` (a 64-bucket run reads the input once, not 64 times).
  Extraction keeps the input's split parallelism; its output is then
  hash-clustered by bucket and written with ``partitionBy("bucket")`` +
  dynamic partition overwrite, so each committed bucket is one file
  instead of one file per extraction task. Per-bucket row/error counts
  come from a post-write count-only scan that reads with the recorded
  schema (no footer inference) and is pruned to the written buckets.
* the written schema is **recorded**: before its write, each job stores
  its plan's schema in ``_manifests/_schema.json``. Committed reads
  (the count scan, ``read_output``) plan from the manifests and this
  schema instead of rediscovering them from the files, as Delta Lake
  and Iceberg readers plan from table metadata; only output dirs that
  predate the sidecar fall back to schema inference.
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
  A bucket with data files but no manifest is re-run from scratch
  (dynamic overwrite replaces exactly that partition), which is what
  makes the resume *exact*. Committed manifests are validated against
  the current invocation's (n_buckets, variant, input_path, pages_spec)
  — a mismatched resume fails fast instead of silently mixing outputs.

At cluster scale the same protocol runs with Iceberg table appends per
bucket group; buckets stay O(thousands) so the manifest table is tiny.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from pdf_parser_spark.io import get_table_io
from pdf_parser_spark.operators.extract import LAYOUT_SCHEMA_DDL, extract_layouts


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

    With an Exchange above it, the ``rows_in`` Observation's CollectMetrics
    node sits in a shuffle stage that AQE's ``AQEPropagateEmptyRelation``
    drops when the input is empty, and ``obs.get`` then fails;
    ``_run_bucket_job`` runs the write with that rule excluded.
    """
    part = src.filter(F.col("bucket").isin([int(k) for k in buckets])).drop("bucket")
    if obs is not None:
        part = part.observe(obs, F.count(F.lit(1)).alias("rows_in"))
    layouts = extract_layouts(part, variant=variant)
    n_parts = min(len(buckets), src.sparkSession.sparkContext.defaultParallelism)
    return layouts.withColumn("bucket", bucket_expr(n_buckets)).repartition(
        n_parts, "bucket")


_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
_EMPTY_RELATION_RULE = (
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")


@contextmanager
def _keep_empty_stages(spark: SparkSession):
    """Exclude AQE's empty-relation rule for the duration of one write, so
    an empty shuffle stage keeps the ``rows_in`` CollectMetrics node below
    it (a missing metric must fail the run, never read as 0)."""
    prev = spark.conf.get(_EXCLUDED_RULES, None)
    rules = f"{prev},{_EMPTY_RELATION_RULE}" if prev else _EMPTY_RELATION_RULE
    spark.conf.set(_EXCLUDED_RULES, rules)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_EXCLUDED_RULES)
        else:
            spark.conf.set(_EXCLUDED_RULES, prev)


def _run_bucket_job(
    spark: SparkSession,
    src: DataFrame,
    out_dir: str,
    buckets: list,
    n_buckets: int,
    variant: str,
) -> tuple:
    """One Spark job: extract + write every bucket in ``buckets``.

    Returns (per-bucket counts dict, wall_ms). Single input scan
    regardless of len(buckets); dynamic partition overwrite touches
    only the written ``bucket=k`` directories.
    """
    t0 = time.monotonic()
    for k in buckets:  # uncommitted partial output: redo from scratch
        bucket_dir = os.path.join(out_dir, f"bucket={k}")
        if os.path.isdir(bucket_dir):
            shutil.rmtree(bucket_dir)

    io = get_table_io()
    obs = Observation(f"rows_in_{buckets[0]}_{buckets[-1]}")
    plan = bucket_job_plan(src, buckets, n_buckets, variant, obs=obs)
    manifest_dir = os.path.join(out_dir, "_manifests")
    _write_schema_sidecar(manifest_dir, plan.drop("bucket").schema)
    with _keep_empty_stages(spark):
        io.write(
            plan,
            out_dir,
            mode="overwrite",
            partition_by=("bucket",),
            dynamic_overwrite=True,
        )
    rows_in_total = int(obs.get["rows_in"])
    if rows_in_total == 0:
        # zero input rows -> the dynamic-overwrite write emitted no data
        # files; nothing to scan for counts
        wall_ms = int((time.monotonic() - t0) * 1000)
        return {}, wall_ms

    # Post-write scan: counts only, with the recorded schema, pruned to
    # the buckets this job wrote. A dir with no data file at all (every
    # observed row dropped) reads as empty, which the invariant reports.
    counts = {
        int(r["bucket"]): (int(r["rows_out"]), int(r["error_rows"]))
        for r in (
            io.read(spark, out_dir, schema=_recorded_schema(manifest_dir))
            .filter(F.col("bucket").isin([int(k) for k in buckets]))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("rows_out"),
                F.sum(
                    F.map_contains_key(F.col("metadata"), "error").cast("long")
                ).alias("error_rows"),
            )
            .collect()
        )
    }
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
    """Extract layouts with checkpoint manifests, one job per submission.

    Returns ``{"processed": [...], "skipped": [...], "manifests": {...}}``.
    Re-invoking resumes exactly: committed buckets are skipped, and the
    uncommitted ones (written or not) are recomputed in a single pass and
    their partitions overwritten.
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
            spark, src, out_dir, pending, n_buckets, variant)
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
    session lists the partitions on the driver). An ``isin`` filter on
    the ``bucket`` partition column prunes uncommitted partitions at the
    file index, then the column is dropped to keep the layout schema
    stable. Output dirs without the sidecar infer the schema.
    """
    manifest_dir = os.path.join(out_dir, "_manifests")
    done = committed_buckets(manifest_dir)
    schema = _recorded_schema(manifest_dir)
    if not done or all(m.get("rows_out", 0) == 0 for m in done.values()):
        # an all-empty run writes no data files (dynamic overwrite emits
        # nothing) — surface the stable empty relation, not a scan error,
        # in the run's recorded schema so empty and non-empty paths of the
        # same pipeline agree column-for-column (LAYOUT_SCHEMA_DDL is only
        # the fallback for output dirs without the sidecar).
        if schema is None:
            return spark.createDataFrame([], LAYOUT_SCHEMA_DDL)
        return spark.createDataFrame([], schema).drop("bucket")
    return (
        get_table_io().read(spark, out_dir, schema=schema)
        .filter(F.col("bucket").isin([int(k) for k in sorted(done)]))
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
