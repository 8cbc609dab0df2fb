"""Corpus-op tests: dedup and similarity operators against tiny hand-built
frames with independently computed expected values."""

import hashlib
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from pdf_parser_spark.corpus import dedup as D
from pdf_parser_spark.corpus import similarity as S
from pdf_parser_spark.corpus import textstats as TS

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
    (2, "THE  Quick   brown fox jumps over the lazy dog"),       # canonical dup of 0
    (3, "the quick brown fox jumps over the sleepy dog"),        # near dup
    (4, "completely different text about spark dataframes here"),
    (5, "el rapido zorro marron salta sobre el perro que duerme y el gato"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _py_shingles(text, n=3):
    toks = " ".join(text.lower().split()).split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def test_exact_dedup(docs):
    out = {r.keep_id: r.dup_count for r in D.exact_dedup(docs).collect()}
    assert out[0] == 3  # docs 0,1,2 collapse
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_shingles_match_python(docs):
    got = (
        D.shingles(docs)
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        .toPandas().set_index("doc_id")["n"].to_dict()
    )
    for doc_id, text in DOCS:
        assert got[doc_id] == len(_py_shingles(text)), doc_id


def test_ngram_jaccard(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in D.ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    a, b = _py_shingles(DOCS[0][1]), _py_shingles(DOCS[3][1])
    want = round(len(a & b) / len(a | b), 4)
    assert pairs[(0, 3)] == want
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] == 1.0
    assert (0, 4) not in pairs


def test_minhash_lsh_finds_exact_dups(docs):
    pairs = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(docs).collect()}
    # identical shingle sets -> identical signatures -> must collide
    assert {(0, 1), (0, 2), (1, 2)} <= pairs
    assert (0, 4) not in pairs and (4, 5) not in pairs


def test_simhash_exact_dups_distance_zero(docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in D.simhash_pairs(docs).collect()}
    assert pairs[(0, 1)] == 0 and pairs[(0, 2)] == 0


def test_simhash_signature_matches_python(docs):
    sigs = {r.doc_id: r.simhash for r in D.simhash_signatures(docs).collect()}
    for doc_id, text in DOCS[:2]:
        toks = sorted(set(" ".join(text.lower().split()).split(" ")))
        hashes = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
        sig = 0
        for b in range(32):
            nset = sum((h >> b) & 1 for h in hashes)
            if nset * 2 > len(hashes):
                sig |= 1 << b
        assert sigs[doc_id] == sig, doc_id


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [-1.0, 0.0, 0.0, 0.0]),
    (4, [0.7, 0.7, 0.0, 0.0]),
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_brute_topk(vecs):
    got = [(r.vec_id, r.score) for r in S.brute_topk(vecs, query_id=0, k=3).collect()]
    want = sorted(
        ((vid, round(_cos(v, VECS[0][1]), 4)) for vid, v in VECS if vid != 0),
        key=lambda t: (-t[1], t[0]))[:3]
    assert got == want


def test_cosine_dup_pairs_exact(vecs):
    pairs = {(r.id_a, r.id_b): r.score
             for r in S.cosine_dup_pairs(vecs, threshold=0.9).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == round(_cos(VECS[0][1], VECS[1][1]), 4)
    assert (0, 3) not in pairs


def test_lsh_buckets_deterministic_and_partitioning(vecs):
    b1 = {r.vec_id: r.bucket for r in S.lsh_buckets(vecs).collect()}
    b2 = {r.vec_id: r.bucket for r in S.lsh_buckets(vecs).collect()}
    assert b1 == b2  # deterministic across runs
    # opposite vectors land in complementary buckets (all 8 plane bits flip)
    assert b1[0] ^ b1[3] == 255


def test_lsh_buckets_null_and_empty_excluded(spark):
    """Null AND zero-length embeddings emit no bucket row — matching the
    exploded form (nothing to unnest) and the DuckDB oracle; an empty
    vector must not mint a bucket-0 row or a NaN-score ANN candidate."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, None), (2, [])],
        "vec_id long, embedding array<float>")
    got = {r.vec_id for r in S.lsh_buckets(df).collect()}
    assert got == {0}


def test_cosine_dup_pairs_skew_guard(spark):
    """A degenerate corpus (80% near-identical embeddings -> one LSH
    bucket) must not hand one task the quadratic pair load: the blocked
    self-join splits the hot bucket across nsplit^2 join keys while
    producing the IDENTICAL pair set for any cap."""
    rows = [(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(40)]  # hot bucket
    rows += [(100 + i, [float(i % 2), 1.0, 0.5 * i, 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    unguarded = {(r.id_a, r.id_b, r.score) for r in S.cosine_dup_pairs(
        df, threshold=0.99, use_lsh=True, bucket_cap=10**9).collect()}
    guarded = {(r.id_a, r.id_b, r.score) for r in S.cosine_dup_pairs(
        df, threshold=0.99, use_lsh=True, bucket_cap=8).collect()}
    assert guarded == unguarded and len(guarded) > 100

    base = S.with_norm(df).select("vec_id", "embedding", "norm").join(
        S.lsh_buckets(df), "vec_id")
    sizes = [r.n for r in base.groupBy("bucket")
             .agg(F.count(F.lit(1)).alias("n")).collect()]
    assert sum(n > 8 for n in sizes) >= 1 and max(sizes) >= 40
    # no join key carries the whole hot bucket: per-(bucket, g, j) group
    # sizes on the replicated left side stay O(cap), not O(bucket)
    left, _right = S._blocked_self_join_sides(base, "vec_id", 8)
    per_key = (left.groupBy("bucket", "_g", "_j")
               .agg(F.count(F.lit(1)).alias("n")).collect())
    assert max(r.n for r in per_key) <= 3 * 8  # hash-imbalance slack
    # healthy buckets are not replicated at all
    hot = max(per_key, key=lambda r: r.n).bucket
    small = [r for r in per_key if r.bucket != hot]
    for r in small:
        assert r._j == 0 and r._g == 0


def test_lang_id_and_stats(spark, docs):
    langs = {r.doc_id: r.pred_lang for r in TS.lang_id(docs).collect()}
    assert langs[0] == "en" and langs[5] == "es"
    q = {r.doc_id: r for r in TS.quality_scores(docs).collect()}
    assert q[0].n_tokens == 9
    assert q[0].stopword_ratio == round(2 / 9, 4)  # 'the' twice
    t = {r.doc_id: r for r in TS.token_counts(docs).collect()}
    assert t[0].ws_tokens == 9 and t[0].bpe_tokens == 9
    fps = {r.doc_id: r.fp for r in TS.fingerprint(docs).collect()}
    assert fps[0] == fps[1] == fps[2]
    assert fps[0] == hashlib.md5(
        " ".join(DOCS[0][1].lower().split()).encode()).hexdigest()


def test_ivf_assign_and_topk(vecs):
    assign = {r.vec_id: r.centroid_id for r in S.ivf_assign(vecs, n_centroids=2).collect()}
    # the cells are the 2-centroid k-means codebook; each vector goes to
    # its nearest centroid, ties to the lower id
    cb = S.kmeans_codebook(vecs, n_centroids=2)
    assert len(cb) == 2
    for vid, v in VECS:
        c0 = _cos(v, cb[0])
        c1 = _cos(v, cb[1])
        want = 0 if round(c0, 6) >= round(c1, 6) else 1
        assert assign[vid] == want, vid
    # equal centroids tie on every vector: the lower centroid id wins
    tied = S.ivf_assign(vecs, codebook=[VECS[0][1], VECS[0][1]]).collect()
    assert {r.centroid_id for r in tied} == {0}
    top = S.ivf_topk(vecs, query_id=0, k=3, n_centroids=2).collect()
    members = [vid for vid, c in assign.items() if c == assign[0] and vid != 0]
    want_rank = sorted(((vid, round(_cos(VECS[vid][1], VECS[0][1]), 4)) for vid in members),
                       key=lambda t: (-t[1], t[0]))[:3]
    assert [(r.vec_id, r.score) for r in top] == want_rank


def test_kmeans_codebook_deterministic_and_separating(spark):
    """Driver-side spherical k-means: deterministic across calls,
    unit-norm centroids, and an obviously 2-clustered fixture separates
    with each vector assigned to its own cluster's centroid."""
    import math

    rows = ([(i, [1.0, 0.01 * i, 0.0, 0.0]) for i in range(20)]
            + [(100 + i, [0.0, 0.01 * i, 0.0, 1.0]) for i in range(20)])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb1 = S.kmeans_codebook(df, n_centroids=2, iters=10)
    cb2 = S.kmeans_codebook(df, n_centroids=2, iters=10)
    assert cb1 == cb2
    for c in cb1:
        assert abs(math.sqrt(sum(v * v for v in c)) - 1.0) < 1e-9
    assign = {r.vec_id: r.centroid_id
              for r in S.ivf_assign(df, codebook=cb1).collect()}
    groups = {}
    for vid, cid in assign.items():
        groups.setdefault(vid < 100, set()).add(cid)
    # the two geometric clusters map to two distinct centroids
    assert groups[True] != groups[False]
    assert len(groups[True]) == 1 and len(groups[False]) == 1
    # topk with the codebook returns same-cluster neighbors
    top = [r.vec_id for r in
           S.ivf_topk(df, query_id=0, k=5, codebook=cb1).collect()]
    assert all(v < 100 for v in top) and len(top) == 5
    # without a codebook, IVF runs kmeans_codebook(df, n_centroids)
    cb16 = S.kmeans_codebook(df, n_centroids=16)
    assert (sorted(S.ivf_assign(df).collect())
            == sorted(S.ivf_assign(df, codebook=cb16).collect()))
    assert (S.ivf_topk(df, query_id=0, k=5, n_centroids=2).collect()
            == S.ivf_topk(df, query_id=0, k=5, codebook=cb1).collect())
    # a corpus with no direction has no cells: empty, not a crash
    zero = df.select("vec_id", F.array_repeat(F.lit(0.0), 4)
                     .alias("embedding"))
    assert S.kmeans_codebook(zero) == [] and S.ivf_assign(zero).count() == 0


def test_multimodal_plumbing(spark, docs):
    from pdf_parser_spark.corpus import multimodal as M

    binr = M.attach_binary(docs)
    meta = {r.doc_id: r for r in M.decode_meta(binr).collect()}
    for doc_id, text in DOCS:
        m = meta[doc_id]
        assert m.n_bytes == len(text.encode())
        assert m.width == (m.n_bytes % 640) + 16 and m.ok


def test_dup_clusters_connected_components(spark):
    # two components: {1,2,3,4} via a chain, {10,11}; singleton pairs absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in D.dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dup_clusters_string_ids_and_long_chain(spark):
    # string ids: label-sum convergence would NULL out and stop after one
    # round; changed-label counting must still find the true components
    pairs = spark.createDataFrame(
        [(f"d{i:03d}", f"d{i + 1:03d}") for i in range(20)] + [("x", "y")],
        "id_a string, id_b string")
    stats = {}
    got = {r.doc_id: r.cluster_id
           for r in D.dup_clusters(pairs, stats=stats).collect()}
    assert stats["converged"]
    for i in range(21):
        assert got[f"d{i:03d}"] == "d000"
    assert got["x"] == "x" and got["y"] == "x"
    # pointer jumping: a 21-node chain must beat O(diameter) rounds
    assert stats["rounds"] <= 6


def test_jaccard_on_candidates_matches_full_join(spark, docs):
    """The LSH-gated exact Jaccard (the 100 TB path) scores candidate
    pairs identically to the all-pairs oracle form."""
    cands = D.minhash_lsh_pairs(docs)
    got = {(r.id_a, r.id_b): r.jaccard
           for r in D.jaccard_on_candidates(cands, docs, threshold=0.1).collect()}
    full = {(r.id_a, r.id_b): r.jaccard
            for r in D.ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    cand_set = {(r.id_a, r.id_b) for r in cands.collect()}
    assert got == {p: j for p, j in full.items() if p in cand_set}
    assert (0, 1) in got and got[(0, 1)] == 1.0


def test_near_dedup_keep_docs_pipeline(docs):
    """LSH -> exact Jaccard -> components -> keep-min, end to end."""
    kept = sorted(r.doc_id for r in
                  D.near_dedup_keep_docs(docs, threshold=0.5).collect())
    # 0,1,2 are canonical-exact dups: identical shingle sets -> identical
    # minhash signatures -> guaranteed LSH collision -> keep only 0.
    # 3 (jaccard ~0.56 vs 0) is removed only if LSH proposed it (banding
    # is probabilistic at this similarity); 4 and 5 always survive.
    assert 0 in kept and 4 in kept and 5 in kept
    assert 1 not in kept and 2 not in kept
    cands = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(docs).collect()}
    assert (3 in kept) == ((0, 3) not in cands)
    # a high threshold keeps the near-dup even when it is a candidate
    kept_strict = sorted(r.doc_id for r in
                         D.near_dedup_keep_docs(docs, threshold=0.99).collect())
    assert 3 in kept_strict and 0 in kept_strict
    assert 1 not in kept_strict and 2 not in kept_strict


def test_near_dedup_keep_best_docs(docs):
    """Quality-aware survivor selection: the keeper of each dup cluster
    is the argmax-score member (ties -> min id), not the min-id one."""
    # score = doc_id makes the cluster {0,1,2}'s best member 2, not 0
    scored = docs.withColumn("score", F.col("doc_id").cast("double"))
    kept = sorted(r.doc_id for r in D.near_dedup_keep_best_docs(
        scored, "score", threshold=0.5).collect())
    assert 2 in kept and 0 not in kept and 1 not in kept
    assert 4 in kept and 5 in kept  # singletons untouched
    # equal scores -> deterministic min-id tie-break == the min-id rule
    tied = docs.withColumn("score", F.lit(1.0))
    kept_tied = sorted(r.doc_id for r in D.near_dedup_keep_best_docs(
        tied, "score", threshold=0.5).collect())
    kept_min = sorted(r.doc_id for r in D.near_dedup_keep_docs(
        docs, threshold=0.5).collect())
    assert kept_tied == kept_min
    # survivor COUNT never depends on the keeper rule (one per cluster)
    assert len(kept) == len(kept_min)


def test_near_dedup_single_shingle_pass(docs, tmp_path):
    """The shared-shingle composition produces identical pairs to the
    per-stage form AND its plan contains ZERO shingle computations: both
    stages scan the materialized shingle dataset, so the tokenize +
    n-gram subtree (the heaviest stage at corpus scale) never appears."""
    want = {(r.id_a, r.id_b): r.jaccard for r in D.jaccard_on_candidates(
        D.minhash_lsh_pairs(docs), docs, threshold=0.5).collect()}

    target = str(tmp_path / "sh")
    D.shingles(docs).write.parquet(target)
    sh = docs.sparkSession.read.parquet(target)
    dp = D.near_dedup_pairs(docs, threshold=0.5, sh=sh)
    got = {(r.id_a, r.id_b): r.jaccard for r in dp.collect()}
    assert got == want
    plan = dp._sc._jvm.PythonSQLUtils.explainString(
        dp._jdf.queryExecution(), "formatted")
    # 'slice(toks' is the n-gram builder's signature expression — present
    # in the unshared plan at every shingle consumption site, absent when
    # the materialized frame is shared
    assert "slice(toks" not in plan
    assert "Scan parquet" in plan  # consumers read the scratch dataset


def test_near_dedup_keep_docs_scratch_lifecycle(docs, tmp_path):
    """near_dedup_keep_docs with an explicit scratch_dir leaves the
    caller's scratch in place; the default temp scratch is removed and the
    returned frame stays computable after the function exits (clusters
    were materialized via localCheckpoint)."""
    import os

    kept_default = sorted(
        r.doc_id for r in D.near_dedup_keep_docs(docs, threshold=0.5).collect())
    scratch = str(tmp_path / "nd_scratch")
    out = D.near_dedup_keep_docs(docs, threshold=0.5, scratch_dir=scratch)
    kept_explicit = sorted(r.doc_id for r in out.collect())
    assert kept_explicit == kept_default
    assert os.path.isdir(os.path.join(scratch, "shingles"))


def test_incremental_dedup_against_history(docs):
    """New-batch-vs-corpus probe: exact dups of history always die,
    near dups die when LSH proposes the cross pair, unique docs and
    within-batch dups survive (the within-batch pass is a separate,
    upstream near_dedup_keep_docs)."""
    batch = docs.filter(F.col("doc_id").isin(0, 3, 4))
    history = docs.filter(F.col("doc_id").isin(1, 2, 5))
    kept = sorted(r.doc_id for r in
                  D.incremental_dedup_keep(batch, history,
                                           threshold=0.5).collect())
    assert 0 not in kept  # canonical-exact dup of history doc 1
    assert 4 in kept      # unique: always kept
    # 3 near-dups history doc 1 (jaccard ~0.56) only when banding collides
    bb = D.band_keys(batch.filter(F.col("doc_id") == 3))
    hb = D.band_keys(history.filter(F.col("doc_id") == 1))
    collides = (bb.join(hb.withColumnRenamed("doc_id", "h"),
                        ["band", "band_key"]).count() > 0)
    assert (3 in kept) == (not collides)
    # strict threshold resurrects the near dup but never the exact dup
    kept_strict = sorted(r.doc_id for r in
                         D.incremental_dedup_keep(batch, history,
                                                  threshold=0.99).collect())
    assert 3 in kept_strict and 4 in kept_strict and 0 not in kept_strict


def test_incremental_dedup_precomputed_store(docs):
    """Passing the persisted fingerprint relations (the production path
    — history is never re-shingled) gives the same keep set as the
    derived path, and full batch columns come through."""
    batch = docs.filter(F.col("doc_id").isin(0, 3, 4))
    history = docs.filter(F.col("doc_id").isin(1, 2, 5))
    derived = sorted(r.doc_id for r in
                     D.incremental_dedup_keep(batch, history,
                                              threshold=0.5).collect())
    hb = D.band_keys(history)
    hf = history.select(F.md5(D.canonical_text("text")).alias("fp"))
    out = D.incremental_dedup_keep(batch, history, threshold=0.5,
                                   history_bands=hb, history_fp=hf)
    assert sorted(r.doc_id for r in out.collect()) == derived
    assert out.columns == batch.columns


def test_incremental_dedup_keeps_within_batch_dups(docs):
    """Docs 0 and 1 are exact dups of each other but of nothing in
    history — both survive, by contract (within-batch dedup is the
    separate corpus-wide pass)."""
    batch = docs.filter(F.col("doc_id").isin(0, 1))
    history = docs.filter(F.col("doc_id").isin(4, 5))
    kept = sorted(r.doc_id for r in
                  D.incremental_dedup_keep(batch, history,
                                           threshold=0.5).collect())
    assert kept == [0, 1]


def test_winnow_fingerprints_match_python(spark):
    """Winnowing sketch equals an independent (scalar, non-NumPy) Python
    implementation of the polynomial gram hash — including a non-ASCII
    text (codepoint semantics, not byte semantics)."""
    texts = [(0, "the quick brown fox"), (1, "tiny"), (2, "abcdefgh"),
             (3, "héllo wörld — déjà vu naïveté")]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in TS.winnow_fingerprints(df, k=5, w=4).collect():
        got.setdefault(r.doc_id, set()).add(r.fp)

    def py_winnow(t, k=5, w=4):
        t = " ".join(t.lower().split())

        def gram_hash(g):
            h = 0
            for ch in g:
                h = (h * TS.WINNOW_BASE + ord(ch)) % TS.WINNOW_MOD
            return f"{h:08x}"

        hs = [gram_hash(t[i:i + k]) for i in range(len(t) - k + 1)]
        return {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}

    assert got.get(0, set()) == py_winnow(texts[0][1])
    assert 1 not in got  # shorter than k -> no grams
    assert got.get(2, set()) == py_winnow("abcdefgh")  # exactly one window
    assert got.get(3, set()) == py_winnow(texts[3][1])


def test_token_df_stats(spark, docs):
    stats = {r.doc_id: r for r in TS.token_df_stats(docs).collect()}
    # 'the' appears in docs 0,1,2,3 -> df=4; doc 4 shares no tokens with 0-3
    s0 = stats[0]
    assert s0.n_distinct_tokens == 8  # 'the' deduped
    assert s0.max_df == 4  # the/quick/brown/... appear in docs 0,1,2(,3)
    assert stats[4].max_df == 1 and stats[4].min_df == 1


def test_repetition_stats(spark):
    """Gopher-style repetition features vs hand-computed values."""
    df = spark.createDataFrame(
        [(0, "a b a b a b"),       # heavy 2-/3-gram repetition
         (1, "x y z"),            # no repetition
         (2, "q")],               # single token: no grams at all
        "doc_id long, text string")
    got = {r.doc_id: r for r in TS.repetition_stats(df).collect()}
    # doc 0: 2-grams 'a b'x3, 'b a'x2; 3-grams 'a b a'x2, 'b a b'x2
    r0 = got[0]
    assert (r0.n_2grams, r0.top2_cnt, r0.top2_gram) == (5, 3, "a b")
    assert r0.top2_char_frac == round(3 * 3 / 11, 4)
    assert (r0.n_3grams, r0.dup3_occ, r0.dup3_frac) == (4, 4, 1.0)
    # doc 1: both 2-grams unique; tie broken toward the GREATER gram
    r1 = got[1]
    assert (r1.n_2grams, r1.top2_cnt, r1.top2_gram) == (2, 1, "y z")
    assert r1.top2_char_frac == round(1 * 3 / 5, 4)
    assert (r1.n_3grams, r1.dup3_occ, r1.dup3_frac) == (1, 0, 0.0)
    # doc 2: no grams -> all-zero row still emitted
    r2 = got[2]
    assert (r2.n_2grams, r2.top2_cnt, r2.top2_gram) == (0, 0, "")
    assert (r2.n_3grams, r2.dup3_occ, r2.dup3_frac) == (0, 0, 0.0)


def test_quality_filter_keep(spark):
    """Each threshold of the composed keep rule rejects its own doc."""
    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over a lazy dog in the warm sun"),
         (1, "too short to keep"),                          # < 10 tokens
         (2, "zzz qqq www rrr ttt yyy uuu iii ooo ppp aaa"),  # no stopwords
         (3, " ".join(["the cat"] * 12))],                  # repetition-heavy
        "doc_id long, text string")
    kept = sorted(r.doc_id for r in TS.quality_filter_keep(df).collect())
    assert kept == [0]
    out_cols = TS.quality_filter_keep(df).columns
    assert "text" not in out_cols  # payload column stays out of the filter


def test_winnow_containment_pairs(spark):
    """Pair counts equal an independent recomputation from the (already
    python-verified) fingerprint sets, including the max_fp_df drop."""
    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight"),
         (1, "yesterday the quick brown fox jumps over the lazy dog again"),
         (2, "an utterly unrelated sentence concerning spark executors"),
         (3, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string")
    fps = {}
    for r in TS.winnow_fingerprints(df).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    max_fp_df, min_shared = 3, 2
    from collections import Counter

    freq = Counter(fp for s in fps.values() for fp in s)
    rare = {d: {fp for fp in s if freq[fp] <= max_fp_df}
            for d, s in fps.items()}
    want = {}
    ids = sorted(rare)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            shared = len(rare[a] & rare[b])
            if shared >= min_shared:
                want[(a, b)] = (shared, round(
                    shared / min(len(rare[a]), len(rare[b])), 4))
    got = {(r.id_a, r.id_b): (r.shared_fps, r.containment)
           for r in TS.winnow_containment_pairs(
               df, min_shared=min_shared, max_fp_df=max_fp_df).collect()}
    assert got == want
    assert (0, 3) in got and got[(0, 3)][1] == 1.0  # exact dup: containment 1
    assert not any(2 in p for p in got)             # unrelated doc pairs with nobody


def test_topk_terms(spark, docs):
    """(tf DESC, df ASC, term ASC) ranking vs hand-derived expectations."""
    got = {}
    for r in TS.topk_terms(docs, k=5).collect():
        got.setdefault(r.doc_id, []).append((r.rank, r.term, r.tf, r.df))
    top0 = [t[1] for t in sorted(got[0])]
    # doc 0: 'the' tf=2 first; 'lazy' df=3 (doc 3 says 'sleepy') beats the
    # df=4 rest; then alphabetical among (brown, dog, fox, jumps, over, quick)
    assert top0 == ["the", "lazy", "brown", "dog", "fox"]
    assert sorted(got[0])[0] == (1, "the", 2, 4)
    # doc 4 shares no tokens: all tf=1 df=1, purely alphabetical
    top4 = [t[1] for t in sorted(got[4])]
    assert top4 == sorted(
        "completely different text about spark dataframes here".split())[:5]


def test_dup_passage_stats(spark):
    """Window dup counts equal a brute-force recomputation, including
    within-doc repeats and the short-doc whole-text window."""
    from collections import Counter

    rows = [
        (0, "a b c d e f"),                  # shares the 4-window "a b c d" w/ 1
        (1, "a b c d x y"),
        (2, "p q r p q r p q"),              # within-doc repeated windows
        (3, "unique words only here now"),
        (4, "tiny"),                          # < win -> whole-text window
        (5, "tiny"),                          # dup of 4 at whole-text level
    ]
    win = 4
    # brute force
    wins = {}
    for did, t in rows:
        w = t.split(" ")
        if len(w) < win:
            hs = [" ".join(w)]
        else:
            hs = [" ".join(w[i:i + win]) for i in range(len(w) - win + 1)]
        wins[did] = hs
    freq = Counter(h for hs in wins.values() for h in hs)
    exp = {did: (len(hs), sum(1 for h in hs if freq[h] >= 2))
           for did, hs in wins.items()}

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           TS.dup_passage_stats(df, win=win).collect()}
    assert set(got) == set(exp)
    for did, (nw, nd) in exp.items():
        r = got[did]
        assert (r.n_windows, r.n_dup_windows) == (nw, nd), did
        assert r.dup_frac == round(nd / nw, 4)
    # sanity on the fixture: doc 2 has an internal repeat, 4/5 dup as wholes
    assert exp[2][1] > 0 and exp[4] == (1, 1) and exp[5] == (1, 1)


def test_dup_passage_stride(spark):
    """stride subsamples window positions: n_windows = ceil(P / stride)."""
    t = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame([(0, t)], "doc_id long, text string")
    full = TS.dup_passage_stats(df, win=5).collect()[0]
    sub = TS.dup_passage_stats(df, win=5, stride=3).collect()[0]
    assert full.n_windows == 26 and sub.n_windows == 9
    assert sub.n_dup_windows == 0


def test_annoracle_xxhash64_matches_spark(spark):
    """The pure-Python xxhash64 twin must match Spark's F.xxhash64 on
    longs — it defines the oracle-side k-means sample order."""
    import sys
    sys.path.insert(0, "/root/repo/tools")
    from annoracle import xxhash64_long

    ids = [0, 1, 2, 42, 499, 123456789, -1, -987654321, 2**62]
    got = {r.v: r.h for r in spark.createDataFrame(
        [(i,) for i in ids], "v long")
        .select("v", F.xxhash64("v").alias("h")).collect()}
    for i in ids:
        assert xxhash64_long(i) == got[i], i


def test_annoracle_codebook_matches_engine(spark):
    """tools.annoracle.kmeans_centroids (pandas + python xxhash64) must
    reproduce similarity.kmeans_codebook (Spark sample) byte-for-byte."""
    import sys
    sys.path.insert(0, "/root/repo/tools")
    from annoracle import kmeans_centroids

    from pdf_parser_spark.corpus import similarity as S

    path = "/root/testdata/sf0.001/embeddings.parquet"
    a = S.kmeans_codebook(spark.read.parquet(path))
    b = kmeans_centroids(path)
    assert a == b


def test_similarity_guards_zero_and_null_vectors(spark):
    """Null / empty / all-zero embeddings must be excluded, not crash
    (ANSI divide-by-zero) or pollute IVF cells with NULL-score junk."""
    from pdf_parser_spark.corpus import similarity as S

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None), (4, []),
         (5, [0.0, 0.0]), (6, [0.5, 0.5])],
        "vec_id long, embedding array<double>")
    top = S.brute_topk(df, query_id=1, k=10).collect()
    assert sorted(r.vec_id for r in top) == [2, 6]
    assign = {r.vec_id: r.centroid_id
              for r in S.ivf_assign(df, n_centroids=2).collect()}
    assert sorted(assign) == [1, 2, 6]
    # missing / direction-free query: empty result, not a crash
    assert S.brute_topk(df, query_id=99, k=10).count() == 0
    assert S.brute_topk(df, query_id=3, k=10).count() == 0


def test_centroid_by_label(spark):
    from pdf_parser_spark.corpus import similarity as S

    df = spark.createDataFrame(
        [(1, [1.0, 3.0], 0), (2, [3.0, 5.0], 0), (3, [10.0, 0.0], 1),
         (4, None, 1), (5, [], 0), (6, [0.0, 0.0], 1)],
        "vec_id long, embedding array<double>, label int")
    got = {r.label: (r.n_vecs, r.centroid)
           for r in S.centroid_by_label(df).collect()}
    # null/empty excluded; zero vector participates in a mean
    assert got[0] == (2, [2.0, 4.0])
    assert got[1] == (2, [5.0, 0.0])


def test_semdedup_pairs_cell_restriction_and_skew_equivalence(spark):
    """Pairs come only from WITHIN a cell, and the block-split guard
    (tiny bucket_cap) yields the identical pair set as the plain join."""
    from pdf_parser_spark.corpus import similarity as S

    # two well-separated directions -> two k-means cells; near-dup pairs
    # exist inside each cell, none across
    rows = [(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(20)]
    rows += [(100 + i, [0.0, 0.001 * i, 0.0, 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 0.0, 1.0]]

    plain = {(r.id_a, r.id_b, r.score) for r in S.semdedup_pairs(
        df, threshold=0.99, codebook=cb, bucket_cap=10**9).collect()}
    split = {(r.id_a, r.id_b, r.score) for r in S.semdedup_pairs(
        df, threshold=0.99, codebook=cb, bucket_cap=4).collect()}
    assert split == plain and len(plain) > 100
    # no cross-cell pair ever emitted (cells are disjoint id ranges)
    assert all((a < 100) == (b < 100) for a, b, _ in plain)


def test_semdedup_keep_greedy_policy(spark):
    """Greedy lowest-id drop: in a chain a~b~c with a!~c BOTH b and c
    drop (each has some lower-id neighbor >= threshold) — explicitly not
    the connected-components keep rule. Null/zero vectors survive."""
    from pdf_parser_spark.corpus import similarity as S

    a = [1.0, 0.0]
    b = [math.cos(0.2), math.sin(0.2)]     # cos(a,b) ~ 0.980
    c = [math.cos(0.4), math.sin(0.4)]     # cos(b,c) ~ 0.980, cos(a,c) ~ 0.921
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, None), (5, [0.0, 0.0])],
        "vec_id long, embedding array<double>")
    kept = {r.vec_id for r in S.semdedup_keep(
        df, threshold=0.95, codebook=[[1.0, 0.0]]).collect()}
    assert kept == {1, 4, 5}


def test_semantic_decontamination(spark):
    """Embedding-space eval-overlap: max-cosine scores are exact, the
    keep rule drops only rows at/above threshold, and non-scorable
    (null/zero) corpus rows survive — no direction, no contamination."""
    from pdf_parser_spark.corpus import similarity as S

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    near = [math.cos(0.1), math.sin(0.1)]   # cos vs eval[0] ~ 0.995
    mid = [math.cos(0.6), math.sin(0.6)]    # cos vs eval[0] ~ 0.825
    corpus = spark.createDataFrame(
        [(1, near), (2, mid), (3, [-1.0, -1.0]), (4, None), (5, [0.0, 0.0])],
        "vec_id long, embedding array<double>")
    scores = {r.vec_id: r.max_eval_cos
              for r in S.semantic_contamination(corpus, ev).collect()}
    assert scores[1] == round(math.cos(0.1), 4)
    assert scores[2] == round(math.cos(0.6), 4)
    # row 3 points away from both eval vectors but max picks the less
    # negative of the two identical (-0.7071) cosines
    assert scores[3] == -0.7071
    assert set(scores) == {1, 2, 3}  # non-scorable rows get no score
    kept = {r.vec_id for r in S.semantic_decontaminated_keep(
        corpus, ev, threshold=0.95).collect()}
    assert kept == {2, 3, 4, 5}
    kept_strict = {r.vec_id for r in S.semantic_decontaminated_keep(
        corpus, ev, threshold=0.8).collect()}
    assert kept_strict == {3, 4, 5}


def test_batch_topk_matches_per_query_brute(spark, vecs):
    """batch_topk over a query set == brute_topk run per query; the
    per-partition local truncation must not lose a global winner even
    when the corpus is split so each partition holds few rows."""
    got = {}
    for r in S.batch_topk(vecs.repartition(7),
                          vecs.filter(F.col("vec_id") <= 1), k=3).collect():
        got.setdefault(r.query_id, []).append((r.vec_id, r.score))
    for qid in (0, 1):
        want = [(r.vec_id, r.score)
                for r in S.brute_topk(vecs, query_id=qid, k=3).collect()]
        assert sorted(got[qid], key=lambda t: (-t[1], t[0])) == want


def test_sq8_encode_contract(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = [(i, [float(v) for v in rng.randn(16)]) for i in range(20)]
    vecs += [(100, [0.0] * 16), (101, None), (102, [])]  # excluded
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = {r.vec_id: r.codes for r in S.sq8_encode(df).collect()}
    assert set(out) == set(range(20))
    for i, emb in vecs[:20]:
        # the column is array<float>: the engine sees float32-rounded
        # values promoted to double — recompute identically
        x = np.array(emb, dtype=np.float32).astype(np.float64)
        u = x / math.sqrt(sum(v * v for v in x))
        codes = np.array(out[i], dtype=np.float64)
        assert codes.min() >= -127 and codes.max() <= 127
        # floor(u*127+0.5) within 1 of u*127 always; dequant error bound
        assert np.abs(codes / 127.0 - u).max() <= 0.5 / 127 + 1e-9
        assert np.array_equal(codes, np.floor(u * 127.0 + 0.5))


def test_sq8_topk_tracks_exact_cosine(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.randn(8)
    rows = [(0, [float(v) for v in base])]
    # ids 1..5: increasingly rotated away from the query
    for i in range(1, 6):
        v = base + i * 0.8 * rng.randn(8)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = [r.vec_id for r in S.brute_topk(df, query_id=0, k=3).collect()]
    sq8 = [r.vec_id for r in S.sq8_topk(df, query_id=0, k=3).collect()]
    assert sq8 == exact  # 0.4% max component error keeps this ranking
    scores = {r.vec_id: r.score for r in S.sq8_topk(df, 0, k=5).collect()}
    ex_scores = {r.vec_id: r.score
                 for r in S.brute_topk(df, 0, k=5).collect()}
    for vid, s in scores.items():
        assert abs(s - ex_scores[vid]) < 0.01


def test_kmeans_refine_lloyd_semantics(spark):
    import numpy as np

    # two clean clusters around +x and +y, a third seed with no members
    rows = [(0, [1.0, 0.1]), (1, [0.9, -0.1]), (2, [1.1, 0.0]),
            (10, [0.1, 1.0]), (11, [-0.1, 0.9]), (12, [0.0, 1.1]),
            (99, [0.0, 0.0])]  # zero-norm: excluded
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seed = [[1.0, 0.0], [0.0, 1.0], [0.0, -1.0]]
    cents, counts = S.kmeans_refine(df, seed, iters=1)
    assert counts == [3, 3, 0]
    assert cents[2] == seed[2]  # empty cell keeps its centroid

    def expected(members):
        x = np.array(members, dtype=np.float32).astype(np.float64)
        u = x / np.sqrt((x * x).sum(axis=1))[:, None]
        m = np.round(u.mean(axis=0), 6)
        m = m / np.sqrt((m * m).sum())
        return [round(float(v), 6) for v in m]

    assert cents[0] == expected([r[1] for r in rows[:3]])
    assert cents[1] == expected([r[1] for r in rows[3:6]])
    # a second iteration from an already-converged state is a fixpoint
    cents2, counts2 = S.kmeans_refine(df, seed, iters=2)
    assert counts2 == counts and cents2 == cents


def test_ivf_sq8_topk_matches_sq8_on_probed_cell(spark):
    """Probe-1 IVF+SQ8 == SQ8 over exactly the query's cell members."""
    rows = VECS + [(5, [0.95, 0.05, 0.0, 0.0]),   # joins the query's cell
                   (6, [0.99, -0.02, 0.0, 0.0])]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assign = {r.vec_id: r.centroid_id
              for r in S.ivf_assign(vecs, n_centroids=2).collect()}
    cell_ids = {v for v, c in assign.items() if c == assign[0]}
    sub = vecs.filter(F.col("vec_id").isin(list(cell_ids)))
    want = [(r.vec_id, r.score)
            for r in S.sq8_topk(sub, query_id=0, k=3).collect()]
    got = [(r.vec_id, r.score)
           for r in S.ivf_sq8_topk(vecs, query_id=0, k=3,
                                   n_centroids=2, n_probe=1).collect()]
    assert got == want and len(got) >= 1


def test_weighted_sample_es_properties(spark):
    """E-S weighted sampling: weight-proportional selection (the 500x
    heavier row wins k=1 in the vast majority of independent draws),
    null/zero/negative weights excluded, plan is a TakeOrdered heap."""
    from pdf_parser_spark.corpus.scrub import weighted_sample

    rows = [(0, 500.0)] + [(i, 1.0) for i in range(1, 40)]
    rows += [(100, None), (101, 0.0), (102, -3.0)]
    df = spark.createDataFrame(rows, "doc_id long, w double")

    wins = sum(
        weighted_sample(df, "w", k=1, salt=f"s{i}").first().doc_id == 0
        for i in range(20))
    assert wins >= 14, wins  # P(win) = 500/539 per draw

    sampled = weighted_sample(df, "w", k=43, salt="all")
    ids = {r.doc_id for r in sampled.collect()}
    assert ids == set(range(40))  # the 3 invalid-weight rows never appear

    plan = sampled._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_pagerank_properties(spark):
    """PageRank invariants on a known graph: total mass conserved
    (teleport + dangling redistribution), the hub-endorsed node
    outranks peers, extraction feeds it end to end."""
    from pdf_parser_spark.corpus.links import (
        extract_links, pagerank_converged)

    # a,b,c all -> d; d dangles; e -> a
    edges = spark.createDataFrame(
        [("a", "d"), ("b", "d"), ("c", "d"), ("e", "a")],
        "src string, dst string")
    ranks, _ = pagerank_converged(edges, max_iters=3, tol=0.0)
    r = {row.node: row.r for row in ranks.collect()}
    assert abs(sum(r.values()) - 1.0) < 1e-6     # mass conserved
    assert r["d"] == max(r.values())             # 3 in-links wins
    assert r["a"] > r["b"]                       # endorsed > plain

    html = spark.createDataFrame(
        [("c1", 0, '<a href="/x">one</a> no link <a href="/y">two</a>'),
         ("c2", 0, "plain text, zero links")],
        "conv_id string, turn_idx int, text string")
    links = extract_links(html).collect()
    assert [(l.conv_id, l.link_idx, l.href, l.anchor) for l in links] \
        == [("c1", 0, "/x", "one"), ("c1", 1, "/y", "two")]


def _round9(x: float) -> float:
    """Spark's F.round(x, 9) on a double: HALF_UP on the shortest
    decimal form of x."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP))


def _power_iteration(edge_list, iters, d=0.85):
    """PageRank in plain Python, rounded to 9 dp after every step:
    r'(v) = (1-d)/N + d * (sum_{u->v} r(u)/outdeg(u) + D/N)."""
    nodes = sorted({n for e in edge_list for n in e})
    n = len(nodes)
    outdeg = {}
    for src, _ in edge_list:
        outdeg[src] = outdeg.get(src, 0) + 1
    r = {v: _round9(1.0 / n) for v in nodes}
    for _ in range(iters):
        dangling = sum(round(r[v] * 1e9) for v in nodes if v not in outdeg)
        s = {}
        for src, dst in edge_list:
            s[dst] = s.get(dst, 0.0) + r[src] / outdeg[src]
        base = (1.0 - d) / n + d * ((dangling / 1e9) / n)
        r = {v: _round9(base + d * s.get(v, 0.0)) for v in nodes}
    return r


def test_pagerank_converged(spark):
    """pagerank_converged: deltas shrink monotonically (after the first
    step), a loose tol early-stops before max_iters, the converged
    ranks equal a plain-Python power iteration run to the same depth,
    and mass stays conserved."""
    from pdf_parser_spark.corpus.links import pagerank_converged

    edge_list = [("a", "d"), ("b", "d"), ("c", "d"), ("e", "a"), ("d", "e")]
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    # deltas decay ~d=0.85 per iter from ~0.5, so tol=0.05 stops ~14
    # iterations in — well inside the 30 cap (the early-stop assert)
    ranks, deltas = pagerank_converged(edges, max_iters=30, tol=0.05)
    assert 1 <= len(deltas) < 30                 # early stop fired
    assert deltas[-1] < 0.05
    # deltas decay (allow equality: 9dp rounding can plateau)
    assert all(b <= a * 1.01 for a, b in zip(deltas[2:], deltas[3:]))
    r = {row.node: row.r for row in ranks.collect()}
    assert abs(sum(r.values()) - 1.0) < 1e-6

    # same graph, same formula and per-step 9dp rounding, no Spark
    assert _power_iteration(edge_list, len(deltas)) == r


def test_hits_properties(spark):
    """HITS invariants: the most-cited target has the top authority,
    the node citing the best targets has the top hub score, both
    scores L1-normalize to 1."""
    from pdf_parser_spark.corpus.links import hits_converged

    # h1 cites both hot targets; h2 cites one; h3 cites a cold one
    edges = spark.createDataFrame(
        [("h1", "t1"), ("h1", "t2"), ("h2", "t1"), ("h3", "t3")],
        "src string, dst string")
    scores, _ = hits_converged(edges, max_iters=2, tol=0.0)
    r = {row.node: (row.hub, row.auth) for row in scores.collect()}
    hubs = {k: v[0] for k, v in r.items()}
    auths = {k: v[1] for k, v in r.items()}
    assert abs(sum(hubs.values()) - 1.0) < 1e-6
    assert abs(sum(auths.values()) - 1.0) < 1e-6
    assert max(auths, key=auths.get) == "t1"   # cited by 2 hubs
    assert max(hubs, key=hubs.get) == "h1"     # cites t1 AND t2
    assert auths["h1"] == 0.0 and hubs["t1"] == 0.0  # bipartite here


def test_temperature_mixture_upsamples_tail(spark):
    """tau < 1 flattens the mixture: the small stratum's expected mass
    factor > 1 (upsampled WITH repetition), the dominant stratum's < 1;
    realized per-stratum token mass lands near f * mass; tau = 1 is the
    identity mixture (all factors 1)."""
    from pdf_parser_spark.corpus.scrub import temperature_mixture

    rows = [(i, "big", "tok " * 20) for i in range(90)] \
        + [(100 + i, "small", "tok " * 20) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    out = temperature_mixture(df, tau=0.5).collect()
    copies = {}
    for r in out:
        copies[r.lang] = copies.get(r.lang, 0) + 1
    # p_big=0.9, p_small=0.1, tau=0.5 -> f_small = 3/(0.9+0.3*3)... =
    # sqrt-flattening: f_small ~ 2.4, f_big ~ 0.84
    assert copies["small"] > 10 * 2 and copies["small"] < 10 * 3
    assert copies["big"] < 90 and copies["big"] > 90 * 0.7
    # total mass approximately conserved
    assert abs(len(out) - 100) <= 10

    ident = temperature_mixture(df, tau=1.0).collect()
    assert len(ident) == 100
    assert all(r.repeats == 1 and r.copy_idx == 1 for r in ident)


def test_semdedup_auto_centroids(spark):
    """auto cell count scales with the corpus (~300/cell, floor 16,
    cap 4096 — all three regimes pinned), and GENUINELY different cell
    counts are compared: the sf0.01 fixture sits at the floor for the
    default per_cell, so the finer configuration is forced with a small
    per_cell (500 vectors / 20 -> 25 cells > 16) before asserting the
    'finer cells keep more' monotonicity."""
    from pdf_parser_spark.corpus.similarity import (
        auto_centroids, semdedup_keep)

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    n = embs.count()
    k_default = auto_centroids(embs)
    assert k_default == max(16, -(-n // 300))
    k_fine = auto_centroids(embs, per_cell=20)
    assert k_fine == max(16, min(4096, -(-n // 20))) and k_fine > 16
    assert auto_centroids(embs, per_cell=1, cap=64) == 64  # cap regime

    kept_fine = semdedup_keep(embs, threshold=0.3,
                              n_centroids=k_fine).count()
    kept_16 = semdedup_keep(embs, threshold=0.3, n_centroids=16).count()
    # finer cells can only shrink each cell's dedup radius -> keep >=,
    # and on this fixture the radii genuinely differ (strict somewhere)
    assert kept_16 <= kept_fine <= n
    assert kept_fine > kept_16 or kept_16 == n


def test_hits_converged(spark):
    """hits_converged: early stop fires with a loose tol, deltas decay,
    and the score invariants (L1-normalized hubs/auths, right argmaxes)
    hold at the converged point."""
    from pdf_parser_spark.corpus.links import hits_converged

    edges = spark.createDataFrame(
        [("h1", "t1"), ("h1", "t2"), ("h2", "t1"), ("h3", "t3")],
        "src string, dst string")
    scores, deltas = hits_converged(edges, max_iters=20, tol=0.01)
    assert 1 <= len(deltas) < 20 and deltas[-1] < 0.01
    r = {row.node: (row.hub, row.auth) for row in scores.collect()}
    hubs = {k: v[0] for k, v in r.items()}
    auths = {k: v[1] for k, v in r.items()}
    assert abs(sum(hubs.values()) - 1.0) < 1e-6
    assert abs(sum(auths.values()) - 1.0) < 1e-6
    assert max(auths, key=auths.get) == "t1"
    assert max(hubs, key=hubs.get) == "h1"


def test_converged_max_iters_guard(spark):
    """pagerank_converged/hits_converged reject max_iters < 1 with a
    clear ValueError instead of an opaque downstream crash (the
    hits path would otherwise join against a = None)."""
    from pdf_parser_spark.corpus.links import (
        hits_converged, pagerank_converged)

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="max_iters"):
        pagerank_converged(edges, max_iters=0)
    with pytest.raises(ValueError, match="max_iters"):
        hits_converged(edges, max_iters=0)


def test_url_canonicalize_cases(spark):
    """Canonicalization table: fragments, utm params in every position,
    default/non-default ports, case-mixed scheme+host, trailing
    slashes — each case hand-derived."""
    from pdf_parser_spark.corpus.links import url_canonicalize

    cases = [
        ("HTTPS://Example.COM:443/p/5/?utm_source=x",
         "https://example.com/p/5"),
        ("http://news.example.com:8080/a?id=1&utm_b=2#frag",
         "http://news.example.com:8080/a?id=1"),
        ("Http://WWW.Sample.org/", "http://www.sample.org/"),
        ("https://a.b.co.uk/p?utm_a=1&x=2", "https://a.b.co.uk/p?x=2"),
        ("http://Example.COM:80/x//", "http://example.com/x"),
        ("https://docs.sample.org/p/7?id=3&utm_campaign=x#sec2",
         "https://docs.sample.org/p/7?id=3"),
        ("http://tracker.ads.io/p?utm_a=1&utm_b=2",
         "http://tracker.ads.io/p"),
        ("https://example.com", "https://example.com/"),
        # `&` and `utm_` inside the PATH are path, not query
        ("http://h/a&b", "http://h/a&b"),
        ("http://h/a&b?utm_x=1&c=2", "http://h/a&b?c=2"),
        ("http://h/a&utm_x/b", "http://h/a&utm_x/b"),
        ("http://h/p?utm_a=1&utm_b=2&c=3", "http://h/p?c=3"),
        ("http://h/p?utm_a=1", "http://h/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in
           df.select(url_canonicalize(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]


_URL_BITS = ["a", "B", "0", "&", "=", "_", ".", "-", "%2F", "utm_",
             "utm_x=1", "x=utm_y", "/", "//"]
_url_text = st.lists(st.sampled_from(_URL_BITS), max_size=8).map("".join)
_url_parts = st.tuples(
    st.sampled_from(["http", "HTTPS", "Http", "ftp"]),
    st.from_regex(r"[a-zA-Z0-9.-]{1,10}", fullmatch=True),
    st.one_of(st.just(""), _url_text.map(lambda t: "/" + t)),
    st.one_of(st.just(""),
              st.lists(st.sampled_from(_URL_BITS + ["?"]), max_size=8)
              .map(lambda b: "?" + "".join(b))),
    st.one_of(st.just(""), _url_text.map(lambda t: "#" + t + "?utm_z")))


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_url_parts, min_size=1, max_size=25))
def test_url_canonicalize_properties(spark, parts):
    """Properties from the URL grammar, not from either engine's code:
    canonicalize is idempotent; the path survives untouched apart from
    trailing slashes (`&` and `utm_` in it included); the query keeps
    every non-`utm_` param in order and loses its `?` only when empty."""
    from pdf_parser_spark.corpus.links import url_canonicalize

    urls = [f"{scheme}://{''.join(rest)}" for scheme, *rest in parts]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = url_canonicalize(F.col("url"))
    rows = df.select(once.alias("c1"),
                     url_canonicalize(once).alias("c2")).collect()
    for (scheme, host, path, query, _), r in zip(parts, rows):
        assert r.c2 == r.c1, (r.c1, r.c2)
        prefix = f"{scheme.lower()}://{host.lower()}"
        assert r.c1.startswith(prefix), r.c1
        out_path, _, out_query = r.c1[len(prefix):].partition("?")
        assert out_path == (path.rstrip("/") or "/"), (path, r.c1)
        kept = "&".join(p for p in query[1:].split("&")
                        if not p.startswith("utm_"))
        assert out_query == kept, (query, r.c1)
        assert ("?" in r.c1) == (kept != ""), (query, r.c1)


def test_registrable_domain_cases(spark):
    """eTLD+1 heuristic: plain 2-label, deep subdomains, generic-SLD
    (co.uk) 3-label rule, single-label hosts pass through."""
    from pdf_parser_spark.corpus.links import registrable_domain

    cases = [
        ("example.com", "example.com"),
        ("news.example.com", "example.com"),
        ("a.b.news.example.com", "example.com"),
        ("blog.example.co.uk", "example.co.uk"),
        ("example.co.uk", "example.co.uk"),
        ("tracker.ads.io", "ads.io"),
        ("localhost", "localhost"),
        ("www.sample.org", "sample.org"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "host string")
    got = [r.d for r in
           df.select(registrable_domain(F.col("host")).alias("d"))
           .collect()]
    assert got == [want for _, want in cases]


def _domain_fixture(spark):
    return spark.createDataFrame(
        [("c1", 0,
          '<a href="https://News.Example.com/a/">x y</a> '
          '<a href="https://news.example.com/a?utm_s=1#f">x</a> '
          '<a href="/relative">skip</a>'),
         ("c1", 1, '<a href="http://Tracker.Ads.io:80/t">buy</a>'),
         ("c2", 0, '<a href="https://news.example.com/b">one two three</a>'),
         ("c3", 0, "no links at all")],
        "conv_id string, turn_idx int, text string")


def test_domain_stats(spark):
    """domain_stats: relative links dropped, canonicalization merges
    the utm/case/trailing-slash variants of the same URL (dup rate),
    distinct-conv and anchor-token aggregates exact."""
    from pdf_parser_spark.corpus.links import domain_stats

    out = {r.domain: r
           for r in domain_stats(_domain_fixture(spark)).collect()}
    assert set(out) == {"example.com", "ads.io"}
    ex = out["example.com"]
    # 3 absolute links; the two /a variants canonicalize identically
    assert (ex.n_links, ex.n_urls, ex.n_src_convs) == (3, 2, 2)
    assert ex.dup_link_rate == pytest.approx(1 - 2 / 3, abs=1e-4)
    assert ex.avg_anchor_tokens == pytest.approx((2 + 1 + 3) / 3,
                                                 abs=1e-4)
    ads = out["ads.io"]
    assert (ads.n_links, ads.n_urls, ads.n_src_convs) == (1, 1, 1)
    assert ads.dup_link_rate == 0.0


def test_blocklist_filter_both_paths(spark):
    """blocklist_filter: the zero-shuffle literal path and the
    broadcast-join DataFrame path drop exactly the turns linking to a
    blocked registrable domain (port/case variants included) and agree
    with each other; linkless turns always pass; exactly-one-source
    arg contract enforced."""
    from pdf_parser_spark.corpus.links import blocklist_filter

    df = _domain_fixture(spark)
    kept_lit = blocklist_filter(df, blocked=["ads.io"])
    ids = sorted((r.conv_id, r.turn_idx) for r in kept_lit.collect())
    assert ids == [("c1", 0), ("c2", 0), ("c3", 0)]

    bdf = spark.createDataFrame([("ads.io",)], "domain string")
    kept_df = blocklist_filter(df, blocked_df=bdf)
    assert sorted((r.conv_id, r.turn_idx)
                  for r in kept_df.collect()) == ids

    with pytest.raises(ValueError, match="exactly one"):
        blocklist_filter(df)
    with pytest.raises(ValueError, match="exactly one"):
        blocklist_filter(df, blocked=["x.com"], blocked_df=bdf)


def test_blocklist_filter_keeps_null_text(spark):
    """A NULL-text turn has no links, so both paths keep it. The inline
    path's exists() over a NULL href array is NULL, and a bare ``~hit``
    filter dropped the row."""
    from pdf_parser_spark.corpus.links import blocklist_filter

    df = _domain_fixture(spark).union(spark.createDataFrame(
        [("c4", 0, None)], "conv_id string, turn_idx int, text string"))
    want = [("c1", 0), ("c2", 0), ("c3", 0), ("c4", 0)]
    kept_lit = blocklist_filter(df, blocked=["ads.io"])
    assert sorted((r.conv_id, r.turn_idx) for r in kept_lit.collect()) == want
    bdf = spark.createDataFrame([("ads.io",)], "domain string")
    kept_df = blocklist_filter(df, blocked_df=bdf)
    assert sorted((r.conv_id, r.turn_idx) for r in kept_df.collect()) == want
