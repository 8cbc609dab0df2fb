"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side machinery is real — binary columns, Arrow-batched
`mapInPandas` with an explicit schema, deterministic partition-friendly
shapes; the *codec* step is stubbed because no image/audio library is
available, so `decode_meta` derives deterministic fake dimensions from
the payload bytes. Swapping the stub for Pillow/soundfile is a
one-function change with the same schema.

Layout of a multimodal record: ``(doc_id, kind, payload binary, meta map)``
— the binary analog of the transcript payload column, processed by the
same turn-local, shuffle-free map pattern as text extraction.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.pyworker import python_task

DECODE_SCHEMA = (
    "doc_id long, kind string, n_bytes long, width long, height long, "
    "channels long, ok boolean")


def attach_binary(df: DataFrame, text_col: str = "text",
                  kind: str = "image/fake") -> DataFrame:
    """Derive a deterministic binary payload column from a text column —
    the sandbox stand-in for reading real media bytes."""
    return df.select(
        "doc_id",
        F.lit(kind).alias("kind"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
    )


def _fake_dims(n: int) -> tuple:
    return (n % 640) + 16, ((n * 7) % 480) + 16, 3


def decode_meta(df: DataFrame) -> DataFrame:
    """Decode header metadata from the binary payload.

    STUB: real decoding (PIL.Image.open / soundfile / PyAV) is not
    available, so this emits deterministic fake dims derived from the
    byte length, keeping the Arrow plumbing and downstream schema real.
    """

    @python_task
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # degrade-don't-fail (D1): a NULL payload (failed fetch,
            # tombstoned blob) emits a row with null metadata and
            # ok=False — it must never kill the task (found by the
            # hostile-gate suite; real media tables carry such rows)
            n = pdf["payload"].map(
                lambda p: len(p) if p is not None else None)
            dims = [_fake_dims(int(v)) if pd.notna(v) else (None,) * 3
                    for v in n]
            w, h, c = zip(*dims) if dims else ((), (), ())
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "kind": pdf["kind"],
                "n_bytes": n,
                "width": w, "height": h, "channels": c,
                "ok": n.notna(),
            })

    return df.mapInPandas(run, schema=DECODE_SCHEMA)
