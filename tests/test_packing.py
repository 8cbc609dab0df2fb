"""Sequence-packing tests against brute-force recomputation of the
concat-then-chunk layout."""

import hashlib

from pdf_parser_spark.corpus import packing as P


def _key(v, salt="pack"):
    return int(hashlib.md5(f"{v}:{salt}".encode()).hexdigest()[:8], 16)


def _ntok(t):
    return len(" ".join(t.lower().split()).split(" "))


def _brute(rows, budget, n_buckets):
    per_bucket = {}
    for doc_id, t in rows:
        k = _key(doc_id)
        per_bucket.setdefault(k % n_buckets, []).append((k, doc_id, _ntok(t)))
    out = {}
    for b, docs in per_bucket.items():
        pos = 0
        for k, doc_id, nt in sorted(docs):
            s0, s1 = pos // budget, (pos + nt - 1) // budget
            out[doc_id] = (b, nt, pos, s0, s1 - s0 + 1)
            pos += nt
    return out


def test_pack_sequences_matches_brute_force(spark):
    rows = [(i, " ".join(f"w{j}" for j in range(3 + (i * 7) % 40)))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    budget, n_buckets = 64, 8
    got = {r.doc_id: (r.bucket, r.n_tokens, r.tok_start, r.seq_id, r.n_seqs)
           for r in P.pack_sequences(df, budget, n_buckets).collect()}
    assert got == _brute(rows, budget, n_buckets)
    # some doc must straddle a chunk boundary for the test to mean much
    assert any(v[4] > 1 for v in got.values())
    # layout is a pure function of keys: stable under repartitioning
    got2 = {r.doc_id: (r.bucket, r.n_tokens, r.tok_start, r.seq_id, r.n_seqs)
            for r in P.pack_sequences(
                df.repartition(13), budget, n_buckets).collect()}
    assert got2 == got


def test_mega_doc_spans_many_sequences(spark):
    rows = [(0, " ".join(f"w{j}" for j in range(1000))), (1, "tiny doc here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in P.pack_sequences(df, budget=100,
                                                 n_buckets=1).collect()}
    assert got[0].n_seqs >= 10
    assert got[0].n_tokens + got[1].n_tokens == 1003
    # whichever doc the hash order placed first starts at offset 0 and
    # the other starts right after it (the stream has no gaps)
    starts = sorted((r.tok_start, r.n_tokens) for r in got.values())
    assert starts[0][0] == 0
    assert starts[1][0] == starts[0][1]


def test_pack_sequences_id_col_threading(spark):
    """pack_sequences keyed by a non-default id column produces the same
    layout as renaming that column to doc_id (bucketing hashes the same
    values with the same salt)."""
    rows = [(i, "tok " * (i + 1)) for i in range(12)]
    df = spark.createDataFrame(rows, "id long, text string")
    via_idcol = {r.id: (r.bucket, r.tok_start, r.seq_id) for r in
                 P.pack_sequences(df, budget=10, n_buckets=3,
                                  id_col="id").collect()}
    renamed = df.withColumnRenamed("id", "doc_id")
    via_default = {r.doc_id: (r.bucket, r.tok_start, r.seq_id) for r in
                   P.pack_sequences(renamed, budget=10, n_buckets=3).collect()}
    assert via_idcol == via_default and len(via_idcol) == 12


def test_chunk_documents_rules(spark):
    def text(n):
        return " ".join(f"t{i}" for i in range(n))

    df = spark.createDataFrame(
        [(1, text(10)),   # short doc: one partial chunk
         (2, text(32)),   # exactly size: one full chunk
         (3, text(56)),   # tail reaches exactly stride+size: 2 chunks
         (4, text(57)),   # one token past: third chunk appears
         (5, "")],        # empty doc: one empty chunk (1-token floor)
        "doc_id long, text string")
    rows = P.chunk_documents(df, size=32, overlap=8).collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.tok_start, r.chunk_tokens))
    assert got[1] == [(0, 0, 10)]
    assert got[2] == [(0, 0, 32)]
    assert sorted(got[3]) == [(0, 0, 32), (1, 24, 32)]
    assert sorted(got[4]) == [(0, 0, 32), (1, 24, 32), (2, 48, 9)]
    assert got[5] == [(0, 0, 1)]
    by_key = {(r.doc_id, r.chunk_idx): r.chunk_text for r in rows}
    # consecutive chunks share exactly `overlap` tokens
    assert by_key[(3, 0)].split(" ")[24:] == by_key[(3, 1)].split(" ")[:8]
    assert by_key[(4, 2)] == " ".join(f"t{i}" for i in range(48, 57))
    assert by_key[(5, 0)] == ""
    # zero overlap tiles the doc exactly
    tiles = P.chunk_documents(df.filter("doc_id = 4"),
                              size=19, overlap=0).collect()
    assert sorted((r.tok_start, r.chunk_tokens) for r in tiles) == \
        [(0, 19), (19, 19), (38, 19)]
    import pytest as _pt
    with _pt.raises(ValueError):
        P.chunk_documents(df, size=8, overlap=8)
