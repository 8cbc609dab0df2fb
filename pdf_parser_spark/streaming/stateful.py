"""Custom stateful streaming operator: per-conversation progress tracking.

``applyInPandasWithState`` is the Structured Streaming extension point for
operators Spark lacks (SURVEY.md section 0 mapping; the reference has no
streaming at all — section 2.8). This one maintains, per ``conv_id``, the
running turn count, max ``turn_idx`` seen, and a contiguity watermark
(highest N such that turns 0..N-1 have all arrived — the point up to which
a conversation can be safely reassembled even with out-of-order delivery).
That is the streaming generalization of the batch stable-turn-order
invariant (O7).

State is one small tuple per conversation — bounded by conversation count,
not turn count, so mega-conversations do not grow state.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pdf_parser_spark.pyworker import python_task

OUTPUT_SCHEMA = (
    "conv_id string, turns_seen long, max_turn_idx long, contiguous_upto long"
)
STATE_SCHEMA = "turns_seen long, max_turn_idx long, seen_bitmap binary"

_BITMAP_CAP = 1 << 20  # track contiguity exactly up to 1M turns per conv


@python_task
def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    (conv_id,) = key
    if state.exists:
        turns_seen, max_turn, bitmap = state.get
        seen = bytearray(bitmap)
    else:
        turns_seen, max_turn, seen = 0, -1, bytearray()

    for pdf in pdfs:
        for t in pdf["turn_idx"]:
            t = int(t)
            turns_seen += 1
            max_turn = max(max_turn, t)
            if t < _BITMAP_CAP:
                byte, bit = t >> 3, t & 7
                if byte >= len(seen):
                    seen.extend(b"\x00" * (byte + 1 - len(seen)))
                seen[byte] |= 1 << bit

    contiguous = 0
    for byte in seen:
        if byte == 0xFF:
            contiguous += 8
            continue
        while byte & 1:
            contiguous += 1
            byte >>= 1
        break

    state.update((turns_seen, max_turn, bytes(seen)))
    yield pd.DataFrame(
        {
            "conv_id": [conv_id],
            "turns_seen": [turns_seen],
            "max_turn_idx": [max_turn],
            "contiguous_upto": [contiguous],
        }
    )


def conversation_progress(stream):
    """Streaming transcripts -> per-conversation progress rows (one per
    conversation per micro-batch that touched it)."""
    return (
        stream.select("conv_id", "turn_idx")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
