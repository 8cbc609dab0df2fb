"""Streaming operators: dedup, session windows, decontamination hits,
stream-stream attribution joins and a foreachBatch MERGE INTO.

The transcript stream (``read_transcript_stream``) carries the batch
extraction input's schema. Each operator is the streaming sibling of a
batch operator, and a ``stream_*`` gate in ``__spark_entry__.queries()``
drains it under a real streaming query. The watermarked operators evict
their state; ``stream_contamination_hits`` keeps none (a stream-static
broadcast semi-join); ``stream_merge_changes`` keeps one row per key in
a versioned-pointer state directory.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


def read_transcript_stream(spark: SparkSession, src_dir: str,
                           max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def stream_dedup_turns(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: drop turns whose canonical-text fingerprint
    was already seen within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keys the state store on the md5
    fingerprint and evicts state older than the watermark — bounded state,
    the streaming counterpart of ``corpus.dedup.exact_dedup`` (at 100 TB
    ingest the dedup horizon is a deployment knob; global history lives in
    the batch pipeline). The fingerprint is the SAME canonicalization
    contract as the batch dedup (one definition, one import)."""
    from pdf_parser_spark.corpus.dedup import canonical_text

    return (
        stream.withColumn("fp", F.md5(canonical_text("text")))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .drop("fp")
    )


def session_window_counts(df: DataFrame, gap: str = "30 minutes",
                          watermark: str = "2 hours") -> DataFrame:
    """Per-conversation session windows over event time via Spark's
    native ``session_window``: a session extends while the next turn
    arrives within ``gap`` of the previous one — an idle interval
    STRICTLY LARGER than ``gap`` closes it; an exactly-equal interval
    still merges (verified empirically; window end = last event + gap).
    The same `>` boundary rule as the batch lag/running-sum sessionize,
    and the rule the oracle twin encodes. The
    streaming sibling of the batch ``operators.convstats.conv_sessionize``
    — there the boundary rule runs as a lag/running-sum window over
    turn order; here the engine's dynamic-merging session state handles
    out-of-order arrival within the watermark, with state evicted once
    the watermark passes a session's close (bounded state at any ingest
    rate — sessions are per conv_id, a uniform key).

    Works on a batch frame too (watermark is skipped): same grouping,
    same output, which is what the oracle gate cross-checks. Output:
    ``conv_id, ws_s, we_s, n_turns`` (epoch-second window bounds)."""
    from pyspark.sql.types import TimestampNTZType

    src = df.withWatermark("ts", watermark) if df.isStreaming else df
    # Session-timezone-independent epoch: an NTZ ts (batch parquet read)
    # must NOT route through an ltz cast (it would shift by the session
    # zone — the defect class tools/driver_sim.py exists to catch); an
    # LTZ ts (the declared streaming schema) is already an instant and
    # casts to epoch directly.
    if isinstance(df.schema["ts"].dataType,
                  TimestampNTZType):
        def _es(c):
            return F.expr(
                "timestampdiff(SECOND, "
                f"to_timestamp_ntz('1970-01-01 00:00:00'), {c})")
    else:
        def _es(c):
            return F.col(c).cast("long")
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            "conv_id",
            _es("w.start").alias("ws_s"),
            _es("w.end").alias("we_s"),
            "n_turns")
    )


def stream_contamination_hits(stream: DataFrame, eval_grams: DataFrame,
                              n: int = 13,
                              text_col: str = "text") -> DataFrame:
    """Streaming decontamination: emit a (conv_id, turn_idx, gh) row for
    every n-gram of an incoming turn that collides with the static
    benchmark gram set (`corpus.decontam.eval_gram_set`) — the ingest-
    time form of eval-overlap screening, so contaminated turns are
    flagged before they ever land in the training corpus.

    Completely STATELESS: per-turn gram hashing is a map, and the
    overlap test is a stream-static broadcast semi-join (the eval side
    is small by construction — see decontam.py). No state store, no
    watermark, no output-mode constraints: this runs at any ingest rate
    with zero memory growth, and the hit stream is tiny (proportional
    to contamination). Consumers aggregate hits to turn/conversation
    grain downstream (batch or windowed)."""
    from pdf_parser_spark.corpus.decontam import _gram_expr

    from pdf_parser_spark.corpus.dedup import canonical_tokens

    toks = stream.select(
        "conv_id", "turn_idx",
        canonical_tokens(text_col).alias("toks"))
    grams = toks.select(
        "conv_id", "turn_idx", F.explode(_gram_expr(n)).alias("gh"))
    return grams.join(F.broadcast(eval_grams), "gh", "left_semi")


def stream_click_attribution(purchases: DataFrame, clicks: DataFrame,
                             max_gap: str = "10 minutes",
                             watermark: str = "1 hour") -> DataFrame:
    """Stream-stream time-interval join — the attribution query ("which
    clicks preceded this purchase within N minutes") run BETWEEN two
    live streams, the capability that separates a streaming engine from
    a micro-batch wrapper: both sides buffer in the state store, and the
    join condition's time bound is what lets Spark EVICT state (a click
    older than purchase-watermark − max_gap can never match again).

    Inner join, append mode. Emits every qualifying (purchase, click)
    pair — deliberately all-pairs-within-window rather than as-of
    (argmax over a stream needs the batch `asof_join_latest` downstream
    or a stateful custom op; the pair stream is the exact input to it).

    State size is bounded by rate × (watermark + max_gap) per side —
    independent of total stream history. Both watermarks matter: the
    LEFT side's watermark drives right-state eviction and vice versa.
    The gate runs this with availableNow + an effectively-infinite
    watermark (single deterministic batch, no eviction races); the
    defaults are the production settings."""
    p = (purchases
         .withWatermark("ts", watermark)
         .select(F.col("event_id").alias("purchase_id"),
                 F.col("user_id").alias("p_user"),
                 F.col("ts").alias("p_ts")))
    c = (clicks
         .withWatermark("ts", watermark)
         .select(F.col("event_id").alias("click_id"),
                 F.col("user_id").alias("c_user"),
                 F.col("ts").alias("c_ts")))
    return (p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"interval {max_gap}")),
        "inner")
        .select("purchase_id", "click_id",
                F.col("p_user").alias("user_id"),
                F.col("p_ts").cast("timestamp_ntz").alias("p_ts"),
                F.col("c_ts").cast("timestamp_ntz").alias("c_ts")))


def stream_merge_changes(changes: DataFrame, base: DataFrame,
                         state_dir: str, checkpoint_dir: str,
                         key_col: str, ts_col: str, op_col: str = "op",
                         available_now: bool = True):
    """Streaming MERGE INTO: maintain a latest-wins snapshot of a base
    table under a live CDC changeset stream — `plans.relational.
    apply_changeset` run INCREMENTALLY via foreachBatch, the continuous
    form of the same maintenance operation.

    Correctness across micro-batches: the state keeps the winning row
    PER KEY including delete tombstones and its (`_rank_ts`, `_del`)
    rank, and each batch re-runs the one-window merge over
    state ∪ batch. Per-key winner selection is an argmax over a total
    order — associative and commutative — so the final state is
    independent of how the changeset splits into batches and of batch
    arrival order (a late out-of-order upsert cannot resurrect a
    deleted key: the tombstone outranks it). Replayed batches (failure
    recovery) re-merge the same rows into the same winners —
    idempotent, which together with the checkpoint gives exactly-once
    state.

    State storage is a versioned parquet directory with an atomically
    renamed pointer file (`_LATEST`): plain files have no transactional
    row-level update, so each batch rewrites the state — honest cost:
    O(|state|) per batch. Versions advance from the POINTER, never from
    the stream's epoch_id: epoch ids restart at 0 under a fresh
    checkpoint, so an epoch-keyed layout would overwrite the live
    directory it is reading (a crash mid-overwrite then loses the only
    copy). Pointer-derived versions always write to a fresh directory;
    the pointer swap is the commit point, and superseded versions other
    than the newly committed one and its predecessor (kept as the
    crash-recovery fallback) are pruned after the swap. At cluster
    scale this operator is exactly what Iceberg MERGE INTO / row-level
    deletes replace (`io.py`'s catalog seam); the per-key window logic
    stays identical, only the sink changes. Read the live snapshot with
    `merged_snapshot`."""
    from pyspark.sql import Window

    from pdf_parser_spark.operators.funnel import _epoch_us

    cols = [f.name for f in base.schema.fields]
    if not os.path.exists(os.path.join(state_dir, "_LATEST")):
        os.makedirs(state_dir, exist_ok=True)
        _commit_version(state_dir, 0, base.select(
            *cols, F.lit(None).cast("long").alias("_rank_ts"),
            F.lit(0).alias("_del")))
    w = (Window.partitionBy(key_col)
         .orderBy(F.col("_rank_ts").desc_nulls_last(), F.col("_del").desc()))

    def _batch(batch: DataFrame, epoch_id: int) -> None:
        # the version comes from the pointer, never from epoch_id
        n, state = _latest_state(changes.sparkSession, state_dir)
        ch = batch.select(
            *cols, _epoch_us(ts_col).alias("_rank_ts"),
            (F.col(op_col) == "d").cast("int").alias("_del"))
        merged = (state.unionByName(ch)
                  .withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn"))
        _commit_version(state_dir, n + 1, merged)

    writer = (changes.writeStream
              .foreachBatch(_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def merged_snapshot(spark: SparkSession, state_dir: str,
                    cols: list | None = None) -> DataFrame:
    """The live table `stream_merge_changes` maintains: latest state
    version minus delete tombstones and rank bookkeeping."""
    _, state = _latest_state(spark, state_dir)
    df = state.filter(F.col("_del") == 0).drop("_rank_ts", "_del")
    return df.select(*cols) if cols else df


def _latest_state(spark: SparkSession, state_dir: str):
    """The one reader of the `_LATEST` pointer: (version number, that
    committed version's DataFrame)."""
    with open(os.path.join(state_dir, "_LATEST"), encoding="utf-8") as f:
        name = f.read().strip()
    return int(name[1:]), spark.read.parquet(os.path.join(state_dir, name))


def _commit_version(state_dir: str, n: int, state: DataFrame) -> None:
    """Write state version ``v{n}`` to a fresh directory, swap the
    `_LATEST` pointer to it (tmp file + ``os.replace``: the swap is the
    commit point, and a crash mid-write leaves the old pointer intact),
    then prune every version older than its predecessor (kept for
    readers that grabbed the old pointer before the swap)."""
    state.write.mode("overwrite").parquet(os.path.join(state_dir, f"v{n}"))
    ptr = os.path.join(state_dir, "_LATEST")
    with open(ptr + ".tmp", "w", encoding="utf-8") as f:
        f.write(f"v{n}")
    os.replace(ptr + ".tmp", ptr)
    for name in os.listdir(state_dir):
        if name.startswith("v") and name[1:].isdigit() and int(name[1:]) < n - 1:
            shutil.rmtree(os.path.join(state_dir, name), ignore_errors=True)
