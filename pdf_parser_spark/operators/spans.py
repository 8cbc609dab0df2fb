"""Boilerplate-strip span emission: HTML turns -> per-block content spans.

The north rule requires "cleaned main-content text and span offsets per
turn" (BASELINE.json:north_star). ``extract_layouts`` emits the cleaned
text; this operator emits the span offsets of each kept content block
inside that cleaned text, as exploded rows. Text and offsets come from the
same engine core (``operators/html.strip_html_batch``, one call per Arrow
batch), so they cannot drift apart; ``tests/test_fuzz.py`` checks the
core, offsets and ``block_md5`` against the oracle
(``oracle/boilerplate.strip_boilerplate``).

The rows are built column-wise from the batch core's span columns; only
the ``block_md5`` of each span is a Python call. If the batch core raises,
the batch degrades to the per-turn path: the oracle's
``strip_boilerplate`` on each turn (the same reference the batch core
falls back to per payload), a turn that fails emits no rows and the
others emit theirs (D1 semantics).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from pdf_parser_spark.operators.html import strip_html_batch
from pdf_parser_spark.oracle.boilerplate import strip_boilerplate
from pdf_parser_spark.pyworker import python_task

SPANS_SCHEMA = (
    "conv_id string, turn_idx long, span_idx long, start_offset long, "
    "end_offset long, block_md5 string"
)


SPAN_COLUMNS = ["conv_id", "turn_idx", "span_idx", "start_offset",
                "end_offset", "block_md5"]


def _md5(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def _span_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """The span rows of one batch, from ``strip_html_batch``'s columns."""
    cols = strip_html_batch(pdf["text"])
    turn = cols.span_turn
    main = cols.left_column
    md5 = [_md5(main[t][a:b]) for t, a, b in
           zip(turn.tolist(), cols.span_start.tolist(), cols.span_end.tolist())]
    return pd.DataFrame({
        "conv_id": pdf["conv_id"].to_numpy()[turn],
        "turn_idx": pdf["turn_idx"].to_numpy()[turn].astype(np.int64),
        "span_idx": np.arange(len(turn)) - np.searchsorted(turn, turn),
        "start_offset": cols.span_start,
        "end_offset": cols.span_end,
        "block_md5": md5,
    }, columns=SPAN_COLUMNS)


def _span_rows_per_turn(pdf: pd.DataFrame) -> pd.DataFrame:
    """The span rows of one batch, turn by turn through the oracle's
    ``strip_boilerplate``."""
    recs = []
    for conv_id, turn_idx, text in pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False):
        try:
            layout = strip_boilerplate(text)
            main = layout["left_column"]
            # accumulate locally and extend() only after the whole
            # turn succeeds — a failure mid-span-list (encode error,
            # int cast) must not leave the turn partially emitted
            # (all-or-nothing per-turn degrade, D1 semantics)
            turn_recs = [
                (conv_id, int(turn_idx), i, start, end, _md5(main[start:end]))
                for i, (start, end) in enumerate(layout["spans"])
            ]
            recs.extend(turn_recs)
        except Exception:  # noqa: BLE001 — degrade per turn (D1)
            continue
    return pd.DataFrame(recs, columns=SPAN_COLUMNS)


@python_task
def _span_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        try:
            rows = _span_rows(pdf)
        except Exception:  # noqa: BLE001 — degrade the batch to per-turn spans
            rows = _span_rows_per_turn(pdf)
        yield rows


def boilerplate_spans(transcripts: DataFrame) -> DataFrame:
    """HTML transcript turns -> content span rows."""
    return (
        transcripts.filter(transcripts["tool"] == "html/v1")
        .select("conv_id", "turn_idx", "text")
        .mapInPandas(_span_batches, schema=SPANS_SCHEMA)
    )
