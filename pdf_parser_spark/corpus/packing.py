"""Sequence packing: map every document to its position in GPT-style
concat-then-chunk training sequences.

Pre-training dataloaders concatenate shuffled documents and slice the
stream into fixed ``budget``-token sequences (GPT-2/3 lineage; the
"packing" in every LLM data pipeline). This operator computes that
layout declaratively: which sequence each document starts in, at which
token offset, and how many sequences it straddles — so the expensive
global ordering/packing decision is made ONCE in Spark instead of at
training time, and any engine can re-derive the exact same layout.

Distribution model: a truly global concat order would serialize the
corpus through one partition, so the stream is sharded into
``n_buckets`` independent hash buckets (uniform md5 keys — the same
deterministic keyspace as `scrub.sample_key`, so the shuffle order is
reproducible, resumable, and engine-portable, unlike `rand()`).
Packing runs per-bucket: one Exchange on the bucket key, one window
sort within it — the honest minimum for any packing rule. Sequence ids
are bucket-local `(bucket, seq_id)` pairs; at 1000 executors each
bucket packs independently with zero cross-talk.

Token counts are the canonical whitespace tokens (normalization F2),
matching the `token_count` gate. All outputs are exact integers —
bit-identical across engines by construction. The reference has no
cross-corpus ops (SURVEY.md §2.8); north-rule addition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_parser_spark.corpus.dedup import canonical_tokens
from pdf_parser_spark.corpus.scrub import sample_key

PACK_SALT = "pack"


def pack_sequences(df: DataFrame, budget: int = 2048, n_buckets: int = 64,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per document: ``bucket``, whitespace ``n_tokens``, the token
    offset ``tok_start`` of the doc within its bucket's concatenated
    stream, the ``seq_id`` of the budget-sized chunk it starts in, and
    ``n_seqs`` it spans (a doc longer than ``budget`` straddles several
    — the chunk boundary cuts through it, exactly like the training
    dataloader it models).

    Order within a bucket is (hash key, doc_id) — a total order, so the
    running sum is deterministic; changing `PACK_SALT`-style salting
    draws an independent shuffle epoch. Note the shingles convention:
    an empty document still counts n_tokens=1 (split('') = ['']), the
    same floor every tokenizing operator in this repo uses — dataloaders
    see it as a 1-token (EOS-only) entry."""
    key = sample_key(id_col, PACK_SALT)
    ntok = F.size(canonical_tokens(text_col)).cast("long")
    base = df.select(
        id_col,
        (key % n_buckets).alias("bucket"),
        key.alias("skey"),
        ntok.alias("n_tokens"))
    win = (Window.partitionBy("bucket")
           .orderBy("skey", id_col)
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = (F.sum("n_tokens").over(win) - F.col("n_tokens")).alias("tok_start")
    out = base.select(id_col, "bucket", "n_tokens", start)
    return out.select(
        id_col, "bucket", "n_tokens", "tok_start",
        F.floor(F.col("tok_start") / budget).alias("seq_id"),
        (F.floor((F.col("tok_start") + F.col("n_tokens") - 1) / budget)
         - F.floor(F.col("tok_start") / budget) + 1).alias("n_seqs"))


def chunk_documents(df: DataFrame, size: int = 128, overlap: int = 32,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Retrieval-style overlapping chunking: split each document into
    token windows of ``size`` advancing by ``size - overlap``, emitting
    per chunk its index, token offset, token length, and the chunk
    text — the layout step in front of every embedding/RAG indexing
    pipeline (the chunk table is what feeds the ANN operators in
    `corpus.similarity`).

    Chunk rule: windows start at ``i * stride`` for ``i = 0..n_chunks-1``
    with ``n_chunks = 1 + ceil(max(0, n - size) / stride)`` — every
    token is covered, consecutive chunks share ``overlap`` tokens, the
    final chunk may be short but a tail already fully covered by the
    previous window never yields an extra chunk. Tokens are the
    canonical whitespace tokens (the `token_count` contract, empty doc
    = 1 empty token ⇒ exactly one empty chunk, the degrade-don't-drop
    floor shared with `pack_sequences`).

    Plan: ONE projection — split once into a materialized array column
    (the lambda-CSE hazard documented in `dedup.shingles`), then
    ``explode(sequence(...))`` + ``slice``/``array_join``, all
    whole-stage codegen, ZERO exchanges and zero Python. Output size is
    input tokens × (1 + overlap/stride) — the only fan-out, and it's
    the one the user asked for. At 100 TB this runs map-side against
    the scan and writes chunk files partition-local; no shuffle exists
    to skew."""
    if not 0 <= overlap < size:
        raise ValueError(f"need 0 <= overlap < size, got {overlap=} {size=}")
    stride = size - overlap
    toks = df.select(
        F.col(id_col),
        canonical_tokens(text_col).alias("toks"))
    n = F.size("toks")
    n_chunks = F.when(n <= size, F.lit(1)).otherwise(
        F.floor((n - size + stride - 1) / stride) + 1)
    return (toks
            .select(id_col, "toks",
                    F.explode(F.sequence(F.lit(0),
                                         (n_chunks - 1).cast("int")))
                    .alias("chunk_idx"))
            .select(
                id_col, "chunk_idx",
                (F.col("chunk_idx") * stride).cast("long")
                .alias("tok_start"),
                F.least(F.lit(size),
                        F.size("toks") - F.col("chunk_idx") * stride)
                .cast("long").alias("chunk_tokens"),
                F.array_join(
                    F.slice("toks", F.col("chunk_idx") * stride + 1,
                            size), " ").alias("chunk_text")))
