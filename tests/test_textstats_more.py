import pytest


def test_unigram_surprisal_matches_brute_force(spark):
    import math
    from pdf_parser_spark.corpus import textstats as TS

    rows = [(0, "a a a b b c rare1"),
            (1, "a b c"),
            (2, "rare2 rare3"),
            (3, "  A   a B  ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    V = 3  # vocabulary: top-3 by count -> {a, b, c}; rare*/OOV floor to 1
    toks = [t for _, x in rows for t in " ".join(x.lower().split()).split(" ")]
    total = len(toks)
    cnt = {}
    for t in toks:
        cnt[t] = cnt.get(t, 0) + 1
    vocab = dict(sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:V])
    exp = {}
    for doc_id, x in rows:
        ts = " ".join(x.lower().split()).split(" ")
        bits = [math.log2(total) - math.log2(vocab.get(t, 1)) for t in ts]
        oov = sum(1 for t in ts if t not in vocab) / len(ts)
        exp[doc_id] = (len(ts), round(oov, 4), round(sum(bits) / len(bits), 4))
    got = {r.doc_id: (r.n_tokens, r.oov_frac, r.mean_bits)
           for r in TS.unigram_surprisal(df, vocab_size=V).collect()}
    assert got == exp
    # sanity: the all-rare doc is the most surprising
    assert got[2][2] > got[0][2] and got[2][1] == 1.0


def test_hashed_bow_matches_python(spark):
    import hashlib
    import math
    from pdf_parser_spark.corpus import textstats as TS

    rows = [(0, "apple banana apple"), (1, "Apple  CHERRY"), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.embedding
           for r in TS.hashed_bow_embeddings(df, dims=16).collect()}

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 16

    for doc_id, text in rows:
        toks = " ".join(text.lower().split()).split(" ")
        raw = [0.0] * 16
        for t in toks:
            raw[bucket(t)] += 1.0
        n = math.sqrt(sum(v * v for v in raw))
        exp = [round(v / n, 6) for v in raw]
        assert got[doc_id] == exp, doc_id
    # empty doc: the ''-token vector, unit norm, never zero
    assert abs(sum(v * v for v in got[2]) - 1.0) < 1e-9


def test_rag_composition_retrieves_shared_vocabulary(spark):
    from pyspark.sql import functions as F
    from pdf_parser_spark.corpus import similarity as S
    from pdf_parser_spark.corpus import textstats as TS
    from pdf_parser_spark.corpus.packing import chunk_documents

    common = "alpha beta gamma delta " * 16        # 64 tokens
    rows = [(0, common + "epsilon zeta " * 8),     # overlaps the query doc
            (1, common),                           # the query doc
            (2, "uno dos tres quatro " * 20)]      # disjoint vocabulary
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ch = chunk_documents(df, size=32, overlap=8).select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("cid"),
        "chunk_text")
    bow = TS.hashed_bow_embeddings(ch, dims=32, id_col="cid",
                                   text_col="chunk_text")
    top = [r.cid for r in S.brute_topk(bow, query_id=1000, k=4,
                                       id_col="cid").collect()]
    # every retrieved chunk shares the query's vocabulary: docs 0/1 only
    assert top and all(c // 1000 in (0, 1) for c in top)
    scores = {r.cid: r.score for r in S.brute_topk(
        bow, query_id=1000, k=20, id_col="cid").collect()}
    dis = [s for c, s in scores.items() if c // 1000 == 2]
    shared = [s for c, s in scores.items() if c // 1000 in (0, 1)]
    assert min(shared) > max(dis)


def test_curriculum_bins_equal_population(spark):
    from pdf_parser_spark.corpus import textstats as TS

    # 8 docs mixing one common token with i rare tokens -> 8 distinct
    # surprisal scores rising with i
    rows = [(i, "common " * (8 - i) + " ".join(f"rare{i}x{j}"
                                               for j in range(i + 1)))
            for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.mean_bits, r.bin)
           for r in TS.curriculum_bins(df, n_bins=4,
                                       vocab_size=1).collect()}
    assert len(out) == 8
    scores = sorted(out.values())
    assert len({s for s, _ in scores}) == 8  # distinct scores
    # equal population: 2 docs per bin, bins monotone in score
    assert [b for _, b in scores] == [0, 0, 1, 1, 2, 2, 3, 3]


def test_dup_passage_scrub_winner_protection_and_merge(spark):
    """The globally-first occurrence of every duplicated window is kept;
    later occurrences are removed with overlapping windows merged into
    one span; short-doc exact dups scrub to ''; null text passes
    through null."""
    from pdf_parser_spark.corpus import textstats as TS

    rows = [
        (0, "a b c d e f g h"),   # winner of the shared windows
        (1, "a b c d x y z w"),   # "a b c" + "b c d" dup doc 0 -> span 1-4
        (2, "q r s"),             # short doc, first occurrence
        (3, "q r s"),             # short exact dup -> whole text removed
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
           for r in TS.dup_passage_scrub(df, win=3, min_count=2).collect()}
    assert got[0] == ("a b c d e f g h", 8, 0)  # winner untouched
    assert got[1] == ("x y z w", 8, 4)          # merged span 1-4 removed
    assert got[2] == ("q r s", 3, 0)
    assert got[3] == ("", 3, 3)                 # whole-doc dup scrubbed
    assert got[4] == (None, None, 0)            # null passthrough
    assert got[5][2] == 0                       # empty text: nothing removed


def test_dup_passage_scrub_min_count_threshold(spark):
    """min_count=3 leaves a window that only occurs twice alone."""
    from pdf_parser_spark.corpus import textstats as TS

    rows = [(0, "a b c d"), (1, "a b c e"), (2, "a b c f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # "a b c" occurs 3x -> docs 1,2 lose it; every other window unique
    got3 = {r.doc_id: r.clean_text
            for r in TS.dup_passage_scrub(df, win=3, min_count=3).collect()}
    assert got3 == {0: "a b c d", 1: "e", 2: "f"}
    got4 = {r.doc_id: r.n_removed
            for r in TS.dup_passage_scrub(df, win=3, min_count=4).collect()}
    assert got4 == {0: 0, 1: 0, 2: 0}  # below threshold: no-op


def test_dup_passage_scrub_canonicalization(spark):
    """Case/whitespace variants hash to the same windows (the canonical
    token stream is the rewrite domain, same as the hashing)."""
    from pdf_parser_spark.corpus import textstats as TS

    rows = [(0, "Hello   World foo bar"), (1, "hello world\tfoo baz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_removed)
           for r in TS.dup_passage_scrub(df, win=3, min_count=2).collect()}
    assert got[0] == ("hello world foo bar", 0)
    assert got[1] == ("baz", 3)


def test_bm25_topk_brute_force_and_edges(spark):
    """BM25 vs a literal NumPy-free brute force: scores, ranks, doc_id
    tie-breaks; a duplicated query token counts once; an OOV-only query
    returns no rows; a null-text doc scores nothing but still counts in
    N/avgdl."""
    import math

    from pdf_parser_spark.corpus import textstats as TS

    docs = [(0, "spark spark join"), (1, "join window"),
            (2, "spark"), (3, "noise words only"), (4, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    qs = spark.createDataFrame(
        [(0, "spark join join"), (1, "zzz")],
        "query_id long, query string")
    got = {(r.query_id, r.doc_id): (r.score, r.rank)
           for r in TS.bm25_topk(df, qs, k=10).collect()}
    assert not [k for k in got if k[0] == 1]  # OOV-only query: no rows

    # brute force (query 0 terms = {spark, join}; doc 4 has dl None)
    lens = {0: 3, 1: 2, 2: 1, 3: 3}
    n_docs, avgdl = 5, sum(lens.values()) / 5
    tf = {(0, "spark"): 2, (0, "join"): 1, (1, "join"): 1,
          (1, "window"): 1, (2, "spark"): 1}
    dfreq = {"spark": 2, "join": 2}
    exp = {}
    for d in (0, 1, 2):
        sc = 0.0
        for t in ("spark", "join"):
            f = tf.get((d, t), 0)
            if not f:
                continue
            idf = round(math.log((n_docs - dfreq[t] + 0.5)
                                 / (dfreq[t] + 0.5) + 1.0), 6)
            sc += idf * (f * 2.2 / (f + 1.2 * (0.25 + 0.75
                                               * lens[d] / avgdl)))
        exp[d] = round(sc, 4)
    order = sorted(exp, key=lambda d: (-exp[d], d))
    for rank, d in enumerate(order, 1):
        assert got[(0, d)] == (exp[d], rank), (d, got[(0, d)], exp[d])


def test_pmi_cooccurrence_brute_force(spark):
    """PMI vs a literal Python brute force on a tiny corpus: forward
    window-2 pairs, counts, the exact ln formula, ranking."""
    import math
    from collections import Counter

    from pdf_parser_spark.corpus import textstats as TS

    docs = [(0, "new york new york city"), (1, "new york is a city"),
            (2, "a a a a")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.x, r.y): (r.c_xy, r.pmi, r.rank)
           for r in TS.pmi_cooccurrence(df, window=2, min_count=2,
                                        top=50).collect()}

    toks, pairs = [], Counter()
    for _, t in docs:
        w = t.split(" ")
        toks.extend(w)
        for i in range(len(w)):
            for k in (1, 2):
                if i + k < len(w):
                    pairs[(w[i], w[i + k])] += 1
    tc = Counter(toks)
    T, P = len(toks), sum(pairs.values())
    exp = {}
    for (x, y), c in pairs.items():
        if c >= 2:
            exp[(x, y)] = round(
                math.log(c * float(T) * float(T)
                         / (float(P) * tc[x] * tc[y])), 6)
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert got[k][0] == pairs[k] and abs(got[k][1] - v) < 1e-9, k
    order = sorted(exp, key=lambda k: (-exp[k], k))
    assert [got[k][2] for k in order] == list(range(1, len(order) + 1))


def test_quality_probe_distillation(spark):
    """train_quality_probe: deterministic (same corpus twice -> same
    model), the agreement gate beats the predict-all-keep baseline on
    the driver fixture, and the returned model applies through
    linear_quality_score's raw-feature contract (weights sized
    dims + 4 for the rule head)."""
    from pdf_parser_spark.corpus.textstats import (
        quality_probe_agreement, train_quality_probe)

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    w1, b1, n1 = train_quality_probe(docs, iters=2, head="rule")
    w2, b2, n2 = train_quality_probe(docs, iters=2, head="rule")
    assert (w1, b1, n1) == (w2, b2, n2)
    assert len(w1) == 68 and n1 == 500

    r = quality_probe_agreement(docs, iters=2, head="rule").first()
    assert r.n_docs == 500
    # predict-all-keep scores exactly n_rule_keep; the probe must beat it
    assert r.n_agree > r.n_rule_keep


def test_quality_rule_features_match_filter(spark):
    """quality_rule_features and quality_filter_keep read the same
    rule-feature projection; this pins them together: thresholding the
    feature frame must reproduce quality_filter_keep's keep set
    exactly."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.corpus.textstats import (
        quality_filter_keep, quality_rule_features)

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    via_feats = set(
        r.doc_id for r in quality_rule_features(docs).filter(
            (F.col("n_tokens") >= 10) & (F.col("stop_r") >= 0.0001)
            & (F.col("top2_cf") <= 0.20) & (F.col("dup3_f") <= 0.55))
        .select("doc_id").collect())
    via_filter = set(
        r.doc_id
        for r in quality_filter_keep(docs).select("doc_id").collect())
    assert via_feats == via_filter and len(via_filter) > 0


def test_bigram_surprisal_matches_python(spark):
    """bigram_surprisal vs an independent pure-Python twin on a tiny
    corpus where the bigram cap and backoff both bite: word-order
    scramble of a common sentence must score higher mean_bits than the
    sentence itself (the signal unigram surprisal cannot see)."""
    import math
    from collections import Counter

    from pdf_parser_spark.corpus.textstats import bigram_surprisal

    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(8)]
    rows.append((100, "dog the over quick lazy brown the jumps fox"))  # scramble
    rows.append((101, "zebra"))          # single token: no pairs
    rows.append((102, None))             # null text
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {r.doc_id: r for r in bigram_surprisal(
        df, vocab_size=4, bigram_size=6, alpha=0.4).collect()}
    assert set(got) == {*range(8), 100}  # no-pair and null docs absent

    # python twin
    texts = {i: " ".join(t.lower().split()) for i, t in rows if t}
    toks = [w for t in texts.values() for w in t.split(" ")]
    tf = Counter(toks)
    total = len(toks)
    vocab = dict(sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[:4])
    pairs = Counter()
    for t in texts.values():
        w = t.split(" ")
        for a, b in zip(w, w[1:]):
            pairs[(a, b)] += 1
    btop = dict(sorted(pairs.items(),
                       key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:6])
    for doc_id, t in texts.items():
        w = t.split(" ")
        if len(w) < 2:
            continue
        bits, bo = [], 0
        for a, b in zip(w, w[1:]):
            if (a, b) in btop:
                bits.append(math.log2(tf[a]) - math.log2(btop[(a, b)]))
            else:
                bo += 1
                bits.append(math.log2(total)
                            - math.log2(vocab.get(b, 1))
                            - math.log2(0.4))
        r = got[doc_id]
        assert r.n_pairs == len(bits)
        assert r.backoff_frac == round(bo / len(bits), 4)
        assert abs(r.mean_bits - sum(bits) / len(bits)) < 1e-3, doc_id
    assert got[100].mean_bits > got[0].mean_bits  # scramble scores higher


@pytest.mark.parametrize("head,width", [("bow", 16), ("rule", 20),
                                        ("codegen", 22)])
def test_probe_feature_width(spark, head, width):
    """Each probe head appends probe_extra_dims(head) features to the
    hashed BoW block, so its embedding is dims + extra wide."""
    from pdf_parser_spark.corpus.textstats import (
        _probe_feature_frame, probe_extra_dims)

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat and the dog sat too")],
        "doc_id long, text string")
    row = _probe_feature_frame(docs, 16, head, "doc_id", "text").first()
    assert len(row.embedding) == 16 + probe_extra_dims(head) == width


@pytest.mark.parametrize("op", [
    "unigram_surprisal", "bigram_surprisal", "curriculum_bins",
    "dsir_weights", "bm25_topk", "hybrid_rrf_topk", "train_quality_probe"])
def test_empty_corpus_gives_empty_result(spark, op):
    """An empty corpus (e.g. a blocklist that drops every document) is
    an empty relation with the operator's normal schema, not a driver
    crash on a NULL corpus total; the probe trainer returns a zero
    model over zero documents and its agreement report counts zeros."""
    from pdf_parser_spark.corpus import textstats as TS

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat", "en"), (2, "a dog ran", "de")],
        "doc_id long, text string, lang string")
    empty = docs.limit(0)
    if op == "train_quality_probe":
        w, b, n = TS.train_quality_probe(empty, dims=16)
        assert (w, b, n) == ([0.0] * 16, 0.0, 0)
        report = TS.quality_probe_agreement_for(empty, w, b, dims=16).first()
        assert tuple(report) == (0, 0, 0, 0)
        return
    queries = spark.createDataFrame([(0, "cat mat")],
                                    "query_id long, query string")
    args = (queries,) if op in ("bm25_topk", "hybrid_rrf_topk") else ()
    fn = getattr(TS, op)
    got = fn(empty, *args)
    assert got.collect() == []
    assert got.schema == fn(docs, *args).schema
