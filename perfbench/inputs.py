"""Seeded benchmark inputs, written as sharded parquet datasets.

Transcript turns come from the package's own generator
(``make_page_payload`` / ``make_html_payload`` / ``make_turn``) under a
conversation-id namespace derived from the seed, so two seeds give two
disjoint sets of payloads with the same shape.
"""

from __future__ import annotations

import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_parser_spark import generator as G

BASE_TS_US = G.BASE_TS * 1_000_000
TURNS_PER_CONV = 20
SHARDS = 8
# generator.conv_turn_counts below sf 0.1: 50,000 conversations of 8-32
# turns plus one 120,000-turn mega-conversation per unit of scale factor
MIX_TURNS_PER_SF = 1_120_000


def _write_shards(table: pa.Table, out_dir: str) -> None:
    os.makedirs(out_dir)
    chunk = -(-table.num_rows // SHARDS)
    for i in range(SHARDS):
        part = table.slice(i * chunk, chunk)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"),
                           row_group_size=4096)


def _transcript_table(rows: list) -> pa.Table:
    conv, turn, role, text, tool = (list(c) for c in zip(*rows))
    return pa.table({
        "conv_id": pa.array(conv, pa.string()),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": pa.array(role, pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array([BASE_TS_US + 37_000_000 * i for i in range(len(rows))],
                       pa.timestamp("us")),
    })


def _fixed_kind_rows(namespace: str, n: int, kind: str) -> list:
    """``n`` turns of one tool, 20 per conversation. Page archetypes cycle
    by row index, so every archetype is present and the number of
    malformed / tokenizer-failure turns does not depend on the seed."""
    rows = []
    for i in range(n):
        conv_id, turn_idx = f"{namespace}-{i // TURNS_PER_CONV:05d}", i % TURNS_PER_CONV
        if kind == "page/v1":
            arch = G.PAGE_ARCHETYPES[i % len(G.PAGE_ARCHETYPES)]
            text = G.make_page_payload(conv_id, turn_idx, arch)
        else:
            text = G.make_html_payload(conv_id, turn_idx)
        rows.append((conv_id, turn_idx, ("user", "assistant", "tool")[i % 3], text, kind))
    return rows


def _natural_mix_rows(namespace: str, n: int) -> list:
    """About ``n`` turns in the generator's natural tool mix
    (``make_turn``), in the conversation lengths ``conv_turn_counts`` gives
    at the matching scale factor, mega-conversation included (the skew axis
    of the reassembly shuffle). Conversations are renamed into the seed's
    namespace, so the payloads change with the seed and the lengths do not."""
    rows = []
    for c, (_conv, length) in enumerate(G.conv_turn_counts(n / MIX_TURNS_PER_SF)):
        conv_id = f"{namespace}-{c:05d}"
        for t in range(length):
            role, text, tool = G.make_turn(conv_id, t)
            rows.append((conv_id, t, role, text, tool))
    return rows


def build_transcripts(kind: str, seed: int, n_turns: int, out_dir: str) -> dict:
    """Write one transcript workload's input; return its description plus
    the rows themselves (for the oracle sample)."""
    namespace = f"pb{seed}-{kind.split('/')[0]}"
    if kind == "mix":
        rows = _natural_mix_rows(namespace, n_turns)
    else:
        rows = _fixed_kind_rows(namespace, n_turns, kind)
    _write_shards(_transcript_table(rows), out_dir)
    tools = Counter(r[4] for r in rows)
    return {
        "path": out_dir,
        "rows": rows,
        "n_items": len(rows),
        "n_convs": len({r[0] for r in rows}),
        "tool_mix": dict(sorted(tools.items())),
    }
