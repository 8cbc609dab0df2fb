"""Boilerplate-strip span emission: HTML turns -> per-block content spans.

The north rule requires "cleaned main-content text and span offsets per
turn" (BASELINE.json:north_star). ``extract_layouts`` emits the cleaned
text; this operator emits the span offsets of each kept content block
inside that cleaned text, as exploded rows. Text and offsets come from the
same engine core (``operators/html.strip_html``), so they cannot drift
apart; ``tests/test_fuzz.py`` checks the core, offsets and ``block_md5``
against the oracle (``oracle/boilerplate.strip_boilerplate``).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from pdf_parser_spark.operators.html import strip_html
from pdf_parser_spark.pyworker import python_task

SPANS_SCHEMA = (
    "conv_id string, turn_idx long, span_idx long, start_offset long, "
    "end_offset long, block_md5 string"
)


@python_task
def _span_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        recs = []
        for conv_id, turn_idx, text in pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False):
            try:
                _header, _footer, main, spans, _metadata = strip_html(text)
                # accumulate locally and extend() only after the whole
                # turn succeeds — a failure mid-span-list (encode error,
                # int cast) must not leave the turn partially emitted
                # (all-or-nothing per-turn degrade, D1 semantics)
                turn_recs = [
                    (conv_id, int(turn_idx), i, start, end,
                     hashlib.md5(main[start:end].encode("utf-8")).hexdigest())
                    for i, (start, end) in enumerate(spans)
                ]
                recs.extend(turn_recs)
            except Exception:  # noqa: BLE001 — degrade per turn (D1)
                continue
        yield pd.DataFrame(
            recs,
            columns=["conv_id", "turn_idx", "span_idx", "start_offset",
                     "end_offset", "block_md5"],
        )


def boilerplate_spans(transcripts: DataFrame) -> DataFrame:
    """HTML transcript turns -> content span rows."""
    return (
        transcripts.filter(transcripts["tool"] == "html/v1")
        .select("conv_id", "turn_idx", "text")
        .mapInPandas(_span_batches, schema=SPANS_SCHEMA)
    )
