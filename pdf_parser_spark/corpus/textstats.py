"""Text analysis operators for a training-data pipeline: language ID,
quality scoring, token counting, document fingerprinting.

These lift the reference's per-block text predicates (keyword scan
/root/reference/A003_colored_footer.py:199-210, digit test :209, whitespace
normalization /root/reference/pdf_extractor_protocol.py:186-191) to
document granularity. Most operators are built-in `pyspark.sql.functions`
expressions (JVM-side, whole-stage-codegen friendly). Three run a
row-local Arrow pandas UDF over the canonical text: `winnow_fingerprints`
(gram hashing), `repetition_stats` and the quality rule's repetition
features (`quality_filter_keep`, `quality_rule_features`). Each operator
has an exact ANSI-SQL twin for the DuckDB oracle (see
__spark_entry__.oracle_sql).

Canonical text and tokens come from `dedup.canonical_text` and
`dedup.canonical_tokens`. The un-canonicalized single-space splits
(`quality_scores`, `lang_id`'s marker counts, `topk_terms`,
`token_df_stats`) and `token_counts`' whitespace split are separate
conventions their twins pin.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pdf_parser_spark.corpus.dedup import (
    WS, WS_CHARS, canonical_text, canonical_tokens)
from pdf_parser_spark.pyworker import python_task

# Small deterministic stopword marker lists for the n-gram/marker language
# heuristic. Ties break by the fixed language order below.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is", "in"),
    "es": ("el", "la", "de", "que", "en", "los"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "fr": ("le", "la", "et", "les", "des", "une"),
}
LANG_ORDER = ("en", "es", "de", "fr")

STOPWORDS = tuple(sorted({w for ws in LANG_MARKERS.values() for w in ws}))

# BPE-ish token classes: letter runs, digit runs, single other-glyphs.
# Whitespace appears as the explicit dedup.WS_CHARS class, never \s:
# Java's \s includes \x0B where RE2's does not (cross-engine fork).
BPE_TOKEN_RE = f"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CHARS}]"
PUNCT_RE = f"[^A-Za-z0-9{WS_CHARS}]"

# Winnowing gram-hash parameters: polynomial rolling hash over Unicode
# codepoints mod 2^32. The base is a prime; powers are precomputed mod
# 2^32 so every per-character product stays < 2^53 (exact in BIGINT and
# in float64, so NumPy, DuckDB and any ANSI engine agree bit-for-bit).
WINNOW_BASE = 1000003
WINNOW_MOD = 1 << 32


def winnow_base_powers(k: int) -> list:
    """[BASE^0 mod 2^32, ..., BASE^(k-1) mod 2^32]."""
    pows = [1]
    for _ in range(k - 1):
        pows.append((pows[-1] * WINNOW_BASE) % WINNOW_MOD)
    return pows


def _marker_count(col, words) -> F.Column:
    """Count tokens of `col` that are in `words` (split on single spaces)."""
    lst = ", ".join(f"'{w}'" for w in words)
    return F.expr(
        f"size(filter(split(lower({col}), ' '), w -> w in ({lst})))"
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: argmax of per-language marker counts with
    deterministic tie-break by LANG_ORDER; 'und' when no marker hits."""
    out = df
    for lang in LANG_ORDER:
        out = out.withColumn(
            f"score_{lang}", _marker_count(text_col, LANG_MARKERS[lang])
        )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_ORDER])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in LANG_ORDER:  # first language reaching the max wins
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return out.withColumn("pred_lang", pred)


def _raw_token_count(text_col: str) -> F.Column:
    """Token count of the raw single-space split (no canonicalization)."""
    return F.size(F.split(F.col(text_col), " "))


def _stop_ratio(text_col: str) -> F.Column:
    """Stopword hits over raw tokens, 4dp: the quality rule's stopword
    signal, shared by `quality_scores`, the rule features and the
    codegen features."""
    return F.round(_marker_count(text_col, STOPWORDS)
                   / F.greatest(_raw_token_count(text_col), F.lit(1)), 4)


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / digit / stopword-ratio quality features.

    All ratios are exact integer divisions in double, rounded to 4dp so the
    DuckDB twin hashes identically."""
    n_chars = F.length(F.col(text_col))
    n_tokens = _raw_token_count(text_col)
    n_punct = F.regexp_count(F.col(text_col), F.lit(PUNCT_RE))
    n_digit = F.regexp_count(F.col(text_col), F.lit(r"[0-9]"))
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 4).alias("mean_token_len"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4).alias("punct_ratio"),
        F.round(n_digit / F.greatest(n_chars, F.lit(1)), 4).alias("digit_ratio"),
        _stop_ratio(text_col).alias("stopword_ratio"),
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count per document."""
    return df.select(
        "doc_id",
        F.size(F.split(F.trim(F.col(text_col)), WS + "+")).alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_RE)).alias("bpe_tokens"),
    )


def token_df_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Two-pass corpus statistics: per-document aggregates of token
    document frequency (the backbone of rarity/quality scoring and TF-IDF
    at corpus scale).

    Pass 1 computes each distinct token's document frequency (one shuffle
    on the token); pass 2 joins it back to the exploded tokens and
    aggregates per doc. All outputs are integers so the result is
    bit-stable across engines (no float log/agg-order hazards)."""
    toks = df.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower(F.col(text_col)), " "))).alias("tok"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        toks.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.min("df").alias("min_df"),
            F.max("df").alias("max_df"),
            F.sum("df").alias("sum_df"),
        )
    )


def winnow_fingerprints(df: DataFrame, k: int = 5, w: int = 4,
                        text_col: str = "text") -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer,
    Wilkerson & Aiken, SIGMOD'03 — the MOSS algorithm): hash every
    character k-gram of the canonical text, then keep the minimum hash of
    each window of ``w`` consecutive k-grams. Output: distinct
    (doc_id, fp) rows — the sketch used for local-similarity /
    containment detection, complementary to MinHash (which sketches
    global set similarity).

    Gram hashes are a degree-(k-1) polynomial over Unicode codepoints mod
    2^32 (base WINNOW_BASE = 1000003) — chosen over per-gram md5 because every
    gram of a document hashes in ONE NumPy pass over its codepoint array
    (k shifted multiply-adds), where md5 cost one interpreter-loop digest
    per gram (O(chars) Python calls per doc: the repo's heaviest per-char
    Python, ~10x slower at sf0.1). The same polynomial is exactly
    expressible in ANSI SQL (ord + integer arithmetic), so the DuckDB
    oracle twin stays bit-identical. Fingerprints are formatted %08x.

    Canonicalization stays JVM-side (so lower/whitespace semantics match
    every other operator exactly); the per-document gram-hash + rolling
    min runs row-local in an Arrow pandas UDF with a NumPy
    shifted-minimum (w-1 vector mins) — no gram explode, no per-gram
    shuffle (the explode + window-function form pushed ~50 grams per char
    through an exchange and was ~10× slower). Only the per-doc distinct
    fingerprints are emitted; the final distinct is the one shuffle."""
    bpows = winnow_base_powers(k)

    @pandas_udf("array<string>")
    @python_task
    def winnow_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            n = len(t) - k + 1
            if n < w:
                out.append([])
                continue
            # one vectorized polynomial-hash pass over the codepoints:
            # utf-32-le bytes ARE the codepoint array
            codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32
                                  ).astype(np.uint64)
            hs = np.zeros(n, dtype=np.uint64)
            for j in range(k):
                hs += codes[j:j + n] * bpows[k - 1 - j]
            hs &= 0xFFFFFFFF
            m = hs[: n - w + 1].copy()
            for s in range(1, w):
                np.minimum(m, hs[s: s + n - w + 1], out=m)
            out.append([f"{v:08x}" for v in set(m.tolist())])
        return pd.Series(out)

    return (
        df.select("doc_id", canonical_text(text_col).alias("t"))
        .filter(F.length("t") >= k)
        .select("doc_id", F.explode(winnow_udf(F.col("t"))).alias("fp"))
        .distinct()
    )


def repetition_counts(t: str) -> tuple:
    """Per-document repetition counters over an already-canonical text:
    (n_2grams, top2_cnt, top2_gram, n_3grams, dup3_occ). The row-local
    core of ``repetition_stats`` — module-level so the fuzz tests can
    exercise it directly against a brute-force reference."""
    from collections import Counter

    w = t.split(" ") if t else []
    g2 = Counter(" ".join(w[i:i + 2]) for i in range(len(w) - 1))
    g3 = Counter(" ".join(w[i:i + 3]) for i in range(len(w) - 2))
    if g2:
        top_cnt, top_gram = max((c, g) for g, c in g2.items())
    else:
        top_cnt, top_gram = 0, ""
    return (sum(g2.values()), top_cnt, top_gram,
            sum(g3.values()), sum(c for c in g3.values() if c >= 2))


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition features (Rae et al. 2021
    §A1.1 — the "repetitive text" quality signals used to filter web
    corpora before LM training):

    - ``top2_char_frac``: fraction of canonical characters covered by the
      most frequent word 2-gram (count × gram length / n_chars).
    - ``dup3_frac``: fraction of word-3-gram occurrences whose gram
      occurs more than once in the document.

    Repetition is a PER-DOCUMENT property, so it is computed row-local in
    one Arrow pandas UDF pass (a ``collections.Counter`` over the token
    array) — ZERO shuffle, where the explode + groupBy(doc, gram) form
    would push every gram occurrence of the corpus through an exchange
    just to aggregate it straight back per document. The UDF emits only
    exact integers (counts, lengths); ratios + rounding stay JVM-side so
    the DuckDB twin (which unnests, being per-doc-small there) hashes
    identically. Tie-break for the top 2-gram: highest count, then
    lexicographically greatest gram (UTF-8 byte order == codepoint
    order, so Python/Spark/DuckDB agree)."""
    @pandas_udf("struct<n_2grams:long, top2_cnt:long, top2_gram:string,"
                " n_3grams:long, dup3_occ:long>")
    @python_task
    def rep_udf(texts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [repetition_counts(t) for t in texts],
            columns=["n_2grams", "top2_cnt", "top2_gram",
                     "n_3grams", "dup3_occ"])

    return (
        df.select("doc_id", canonical_text(text_col).alias("t"))
        .select("doc_id", F.length("t").alias("nc"),
                rep_udf(F.col("t")).alias("r"))
        .select(
            "doc_id",
            F.col("r.n_2grams").alias("n_2grams"),
            F.col("r.top2_cnt").alias("top2_cnt"),
            F.col("r.top2_gram").alias("top2_gram"),
            F.round(F.col("r.top2_cnt") * F.length("r.top2_gram")
                    / F.greatest("nc", F.lit(1)), 4).alias("top2_char_frac"),
            F.col("r.n_3grams").alias("n_3grams"),
            F.col("r.dup3_occ").alias("dup3_occ"),
            F.round(F.col("r.dup3_occ")
                    / F.greatest("r.n_3grams", F.lit(1)), 4).alias("dup3_frac"),
        )
    )


def _with_rule_features(df: DataFrame, text_col: str) -> DataFrame:
    """``df`` plus one struct column ``_rule`` holding the quality rule's
    features: ``n_tokens`` (raw split), ``stop_r``, ``top2_cf`` and
    ``dup3_f`` (the `repetition_stats` fractions over the canonical
    text), each rounded 4dp like the standalone operators. One
    projection over one repetition UDF; nothing leaves the row's
    partition."""
    canon = canonical_text(text_col)

    # the UDF emits only exact integers; divisions + 4dp rounding stay
    # JVM-side (F.round, HALF_UP) so boundary comparisons are identical
    # to repetition_stats and to the DuckDB oracle (python round() is
    # half-to-even and could flip a doc sitting exactly on a threshold)
    @pandas_udf("struct<top2_chars:long, n3:long, dup3:long>")
    @python_task
    def rep_ints_udf(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            _n2, top_cnt, top_gram, n3, dup3 = repetition_counts(t)
            rows.append((top_cnt * len(top_gram), n3, dup3))
        return pd.DataFrame(rows, columns=["top2_chars", "n3", "dup3"])

    return (
        df.withColumn("_nc", F.length(canon))
        .withColumn("_r", rep_ints_udf(canon))
        .withColumn("_rule", F.struct(
            _raw_token_count(text_col).cast("long").alias("n_tokens"),
            _stop_ratio(text_col).alias("stop_r"),
            F.round(F.col("_r.top2_chars") / F.greatest("_nc", F.lit(1)), 4)
            .alias("top2_cf"),
            F.round(F.col("_r.dup3") / F.greatest("_r.n3", F.lit(1)), 4)
            .alias("dup3_f")))
        .drop("_nc", "_r")
    )


def quality_filter_keep(df: DataFrame, text_col: str = "text",
                        min_tokens: int = 10,
                        min_stopword_ratio: float = 0.0001,
                        max_top2_char_frac: float = 0.20,
                        max_dup3_frac: float = 0.55) -> DataFrame:
    """The composed corpus quality filter — the C4/Gopher-style keep rule
    a training-data pipeline runs before tokenization: a document
    survives iff it has enough tokens, shows any stopword signal, and is
    not dominated by repeated 2-/3-grams.

    Every feature in the rule is a PER-ROW property, so the whole filter
    is one projection (built-in token/stopword expressions + the
    repetition struct UDF over the canonical text) followed by one
    filter: scan → map → filter, ZERO Exchange (plan-asserted in
    PLANS.md) — the obvious quality_scores ⋈ repetition_stats
    composition would shuffle two feature frames just to reunite rows
    that never left their partition. Thresholds compare the same
    4dp-rounded features the standalone operators emit, so the kept set
    is identical to the join form. Stateless map ⇒ also directly usable
    under Structured Streaming. Returns the surviving document rows with
    the payload column dropped (at 100 TB you don't want the text column
    flowing through downstream filter plumbing)."""
    return (
        _with_rule_features(df, text_col)
        .filter((F.col("_rule.n_tokens") >= min_tokens)
                & (F.col("_rule.stop_r") >= min_stopword_ratio)
                & (F.col("_rule.top2_cf") <= max_top2_char_frac)
                & (F.col("_rule.dup3_f") <= max_dup3_frac))
        .drop("_rule", text_col)
    )


def winnow_containment_pairs(df: DataFrame, k: int = 5, w: int = 4,
                             min_shared: int = 8,
                             max_fp_df: int | None = None,
                             max_fp_frac: float = 0.01,
                             text_col: str = "text") -> DataFrame:
    """Document containment candidates from shared winnowing fingerprints
    (the MOSS match step, SIGMOD'03 §5): documents sharing >= min_shared
    selected k-gram hashes overlap locally even when globally dissimilar
    — the signal MinHash misses.

    Fingerprints occurring in more than ``max_fp_df`` documents are
    dropped BEFORE pairing (MOSS's "too common to be interesting" rule —
    boilerplate hits). The threshold defaults to SCALE-RELATIVE
    ``max(50, ceil(max_fp_frac * n_docs))`` — MOSS's own convention —
    because any absolute cutoff degenerates as the corpus grows: a fp
    common to 1% of a 50k-doc corpus is boilerplate, but a fixed cutoff
    of 50 would also drop every REAL containment group once near-dup
    families exceed it (measured: an absolute 50 yields zero pairs at
    sf1 where the fraction rule recovers the 10-replica groups; the
    floor of 50 protects tiny corpora where 1% rounds to nothing). The
    one ``df.count()`` action is metadata-cheap on columnar sources. That filter is also
    the skew guard: it bounds every fingerprint's bucket at max_fp_df
    docs, so the fp self-join fans out at most max_fp_df² pairs per
    bucket and no degenerate fingerprint can hand one task quadratic
    work. ``n_fps`` sizes (and the containment score
    shared/min(n_a, n_b), 4dp) are computed over the same rare-fp set so
    the score is self-consistent with the pairing. Shape: sketch →
    bounded bucket join → pair count — all shuffles keyed on fp or
    (id_a, id_b), no all-pairs anywhere."""
    import math

    if max_fp_df is None:
        max_fp_df = max(50, math.ceil(max_fp_frac * df.count()))
    fps = winnow_fingerprints(df, k=k, w=w, text_col=text_col)
    rare = (
        fps.join(
            fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_fp_df).select("fp"),
            "fp")
    )
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fps"))
    a = rare.select(F.col("doc_id").alias("id_a"), "fp")
    b = rare.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
        .join(sizes.select(F.col("doc_id").alias("id_a"),
                           F.col("n_fps").alias("n_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"),
                           F.col("n_fps").alias("n_b")), "id_b")
        .select(
            "id_a", "id_b", "shared_fps",
            F.round(F.col("shared_fps")
                    / F.least("n_a", "n_b"), 4).alias("containment"))
    )


def _window_hashes(win: int, stride: int) -> F.Column:
    """md5 of each ``win``-token window of the ``toks`` array at
    positions 1, 1+stride, ...; an array shorter than ``win`` is one
    whole-text window (the shingles convention)."""
    return F.expr(
        f"""
        case when size(toks) < {win} then array(md5(array_join(toks, ' ')))
             else transform(sequence(1, size(toks) - {win - 1}, {stride}),
                            i -> md5(concat_ws(' ', slice(toks, i, {win}))))
        end
        """
    )


def dup_passage_stats(df: DataFrame, win: int = 20, stride: int = 1,
                      min_count: int = 2,
                      text_col: str = "text") -> DataFrame:
    """Exact duplicated-passage statistics (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" — the
    exact-substring dedup signal, expressed at token-window granularity):
    hash every window of ``win`` consecutive tokens (positions 1,
    1+stride, ...); a window is DUPLICATED when its hash occurs at least
    ``min_count`` times corpus-wide — within- OR cross-document, exactly
    the repeated-span definition of the paper. Documents shorter than
    ``win`` tokens contribute their whole text as one window (the
    shingles convention), so every document gets a row. Output per
    document: ``n_windows``, ``n_dup_windows``, ``dup_frac`` (4dp) — the
    per-doc score a pipeline thresholds to drop memorization-heavy
    documents, complementary to the document-level near-dup family
    (MinHash/SimHash see global similarity; winnowing samples local
    overlap; this counts EVERY exact repeated span).

    Plan shape: tokenize + window-hash are per-row built-ins (one
    transform over the token array — the paper's suffix array is the
    single-machine form; window hashing is its scalable map-side
    equivalent), then two uniform-key shuffles with map-side partial
    aggregation: occurrence counts on the md5 window hash (no skew — the
    keys are hashes), and the per-doc rollup after the frequency join.
    One explode row per window position — at 100 TB set ``stride > 1``
    (windows still overlap content when stride < win) to subsample
    positions and cut the exchange volume by that factor; md5 keys keep
    the DuckDB oracle bit-identical."""
    toks = df.select("doc_id", canonical_tokens(text_col).alias("toks"))
    wins = toks.select("doc_id", F.explode(_window_hashes(win, stride))
                       .alias("wh"))
    freq = wins.groupBy("wh").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        wins.join(freq, "wh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("cnt") >= min_count, 1).otherwise(0))
            .alias("n_dup_windows"),
        )
        .select(
            "doc_id", "n_windows", "n_dup_windows",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 4)
            .alias("dup_frac"),
        )
    )


def dup_passage_scrub(df: DataFrame, win: int = 20, stride: int = 1,
                      min_count: int = 2, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """The REMOVAL form of exact-substring dedup (Lee et al. 2021 §4.1:
    keep ONE copy of every duplicated span, delete the rest) —
    `dup_passage_stats` is the measurement, this is the rewrite. A
    token window (``win`` consecutive canonical tokens at positions 1,
    1+stride, ...) is duplicated when its md5 occurs ≥ ``min_count``
    times corpus-wide; the single occurrence with the globally smallest
    ``(doc_id, w_start)`` is the protected canonical copy, every other
    occurrence is maskable. Maskable windows merge per document with
    the gaps-and-islands pattern (`decontam.contamination_spans`) and
    the merged token ranges are deleted from the text. Output per
    input row: ``clean_text`` (remaining canonical tokens joined by
    single spaces — rewriting is defined on the canonical token
    stream, same contract as the hashing), ``n_tokens`` (original),
    ``n_removed``. Null-text rows pass through with null
    ``clean_text``/``n_tokens``; docs shorter than ``win`` tokens are
    one whole-text window (the `dup_passage_stats` convention), so a
    short doc that exactly duplicates an earlier one scrubs to "".
    Protection is per whole window: a protected occurrence overlapping
    a maskable neighbor can still lose the overlapping tokens.

    Plan shape: tokenize + window-hash are per-row built-ins; the
    frequency/winner pass is ONE partial-agg shuffle on the md5 window
    hash carrying (count, min-struct) — skew-safe even for a
    corpus-dominating span because min/count combine map-side (the
    row_number-over-hash alternative would sort the hot hash's
    occurrences in one task). Hit rows re-join the (hash)-keyed
    summary, islands + rollup run per doc_id over MASKABLE windows
    only (cost ∝ duplication, not corpus size), and the rewrite is a
    left join of spans back to the token arrays plus a higher-order
    filter — no Python anywhere. At 100 TB raise ``stride`` to
    subsample window positions (detection coarsens; removal stays
    span-exact) exactly as in `dup_passage_stats`."""
    from pyspark.sql.window import Window

    toks = df.select(
        id_col, F.col(text_col), canonical_tokens(text_col).alias("toks"))
    wins = (
        toks.select(
            id_col, F.size("toks").alias("nt"),
            F.posexplode(_window_hashes(win, stride)).alias("j", "wh"))
        .where(F.col("wh").isNotNull())
        .select(
            id_col, "wh",
            F.when(F.col("nt") < win, F.lit(1))
            .otherwise(F.col("j") * stride + 1).alias("w_start"),
            F.when(F.col("nt") < win, F.col("nt"))
            .otherwise(F.col("j") * stride + win).alias("w_end"))
    )
    freq = wins.groupBy("wh").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct(F.col(id_col).alias("d"),
                       F.col("w_start").alias("s"))).alias("win0"))
    mask = (
        wins.join(freq, "wh")
        .where((F.col("cnt") >= min_count)
               & ~((F.col(id_col) == F.col("win0.d"))
                   & (F.col("w_start") == F.col("win0.s"))))
        .select(id_col, "w_start", "w_end")
    )
    w = Window.partitionBy(id_col).orderBy("w_start", "w_end")
    prev_max = F.max("w_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    islands = mask.select(
        id_col, "w_start", "w_end",
        F.when(F.col("w_start") > F.coalesce(prev_max, F.lit(0)) + 1, 1)
        .otherwise(0).alias("boundary"))
    cum = (Window.partitionBy(id_col).orderBy("w_start", "w_end")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    spans = (
        islands
        .select(id_col, "w_start", "w_end",
                F.sum("boundary").over(cum).alias("island"))
        .groupBy(id_col, "island")
        .agg(F.min("w_start").alias("s"), F.max("w_end").alias("e"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("spans"))
    )
    kept = F.expr(
        "array_join(transform(filter("
        "  transform(toks, (t, i) -> struct(t as t, i + 1 as p)),"
        "  x -> spans is null or"
        "       not exists(spans, sp -> x.p >= sp.s and x.p <= sp.e)),"
        "  x -> x.t), ' ')")
    n_removed = F.expr(
        "coalesce(aggregate(spans, 0L, (acc, sp) -> acc + sp.e - sp.s + 1), 0L)")
    return (
        toks.join(spans, id_col, "left")
        .select(
            id_col,
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            .otherwise(kept).alias("clean_text"),
            F.when(F.col(text_col).isNull(), F.lit(None).cast("long"))
            .otherwise(F.size("toks").cast("long")).alias("n_tokens"),
            F.when(F.col(text_col).isNull(), F.lit(0).cast("long"))
            .otherwise(n_removed).alias("n_removed"))
    )


def topk_terms(df: DataFrame, k: int = 5, text_col: str = "text") -> DataFrame:
    """Top-k characteristic terms per document, TF-IDF-style but
    integer-stable: rank by (term frequency DESC, document frequency ASC,
    term ASC) — frequent-here, rare-elsewhere. The lexicographic integer
    ranking replaces the float tf·ln(N/df) product deliberately: every
    key is an exact integer, so the ranking (and the oracle hash) is
    bit-identical across engines, where cross-engine ``ln`` parity is
    not guaranteed at the ulp.

    Two shuffles, both with map-side partial aggregation: (doc, term) tf
    counts, then term document frequencies (distinct-doc counts fall out
    of the tf frame for free — one row per (doc, term) already); the
    top-k window repartitions by doc_id only. The corpus text column
    never moves — only (doc_id, term, counts) rows."""
    from pyspark.sql.window import Window

    toks = df.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    win = (Window.partitionBy("doc_id")
           .orderBy(F.col("tf").desc(), F.col("df").asc(),
                    F.col("term").asc()))
    return (
        tf.join(dfreq, "term")
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "rank")
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical document fingerprint: md5 of the lowercased,
    whitespace-collapsed text (the document-granularity analog of the
    snapshot normalization F2)."""
    return df.select("doc_id", F.md5(canonical_text(text_col)).alias("fp"))


def _unigram_model(df: DataFrame, vocab_size: int, text_col: str) -> tuple:
    """The corpus unigram model both surprisal orders score against:
    ``(toks, tf, total, vocab)`` — the (doc_id, tok) canonical token
    stream, per-token counts ``cnt``, the total token count (0 on an
    empty corpus) and the top-``vocab_size`` tokens by count (ties by
    token text, so the vocabulary is deterministic)."""
    toks = df.select(
        "doc_id", F.explode(canonical_tokens(text_col)).alias("tok"))
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = tf.agg(F.sum("cnt")).first()[0] or 0
    vocab = (tf.orderBy(F.col("cnt").desc(), F.col("tok").asc())
             .limit(vocab_size))
    return toks, tf, total, vocab


def unigram_surprisal(df: DataFrame, vocab_size: int = 65536,
                      text_col: str = "text") -> DataFrame:
    """Language-model quality proxy at unigram order (the CCNet/KenLM
    perplexity-filter idea — Wenzek et al. 2020 score documents with a
    fixed LM and drop the high-perplexity tail; a unigram model is the
    largest LM expressible as pure relational algebra): per document,
    the mean surprisal in bits under the corpus's own capped-vocabulary
    unigram distribution, plus the out-of-vocabulary token fraction.
    Gibberish and boilerplate-free noise score high; repetitive
    boilerplate scores low — threshold either tail.

    Model: the top-``vocab_size`` tokens by corpus frequency (ties break
    by token text, so the vocabulary is deterministic); an in-vocabulary
    token costs ``log2(total) - log2(cnt)`` bits, an OOV token costs
    ``log2(total)`` (count floored to 1). Output per doc: ``n_tokens``,
    ``oov_frac`` (4dp), ``mean_bits`` (4dp).

    Scale shape: pass 1 is a uniform-key token-frequency aggregation
    with map-side combine; the vocabulary cap bounds the model at
    ``vocab_size`` rows REGARDLESS of corpus size (the reason real
    pipelines cap vocabularies), so pass 2 is a broadcast join of
    exploded tokens against the model plus one per-doc rollup — the
    corpus text itself crosses no exchange wider than (doc_id, token).
    The top-V selection is a TakeOrderedAndProject (per-partition heap,
    driver merge of V-row partials), not a global sort."""
    toks, _tf, total, vocab = _unigram_model(df, vocab_size, text_col)
    bits = (F.log2(F.lit(float(total)))
            - F.log2(F.coalesce(F.col("cnt"), F.lit(1)).cast("double")))
    return (toks.join(F.broadcast(vocab), "tok", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.avg(F.when(F.col("cnt").isNull(), 1.0)
                               .otherwise(0.0)), 4).alias("oov_frac"),
                 F.round(F.avg(bits), 4).alias("mean_bits")))


def bigram_surprisal(df: DataFrame, vocab_size: int = 65536,
                     bigram_size: int = 262144, alpha: float = 0.4,
                     text_col: str = "text") -> DataFrame:
    """Language-model quality proxy one order up from
    `unigram_surprisal`: per document, the mean conditional surprisal
    in bits of each token GIVEN ITS PREDECESSOR under the corpus's own
    capped bigram model with stupid backoff (Brants et al. 2007 —
    the web-scale LM recipe: no discounting, just
    S(w2|w1) = c12/c1 if the bigram is in the model else
    α·p_uni(w2)). Word-order scrambles that unigram statistics cannot
    see (high bigram surprisal, normal unigram surprisal) are exactly
    what this catches; ``backoff_frac`` doubles as an
    out-of-distribution signal.

    Model: the top-``bigram_size`` bigrams by count (ties by gram text,
    deterministic) carrying c12 and the FULL unigram count c1 of their
    left token; backoff uses the top-``vocab_size`` unigram vocabulary
    (OOV count floored to 1), identical to `unigram_surprisal`'s. An
    in-model pair costs log2(c1) − log2(c12) bits; a backoff pair costs
    log2(T) − log2(cnt₂) − log2(α). Output per doc (≥2 tokens):
    ``n_pairs``, ``backoff_frac`` (4dp), ``mean_bits`` (4dp).

    Scale shape: both model passes are map-side-combined frequency
    aggregations with TakeOrdered caps, so the model is bounded at
    vocab_size + bigram_size rows regardless of corpus size; scoring is
    two broadcast joins (bigram model, vocabulary) over the exploded
    pair stream plus one per-doc rollup — the same
    corpus-never-shuffles-wider-than-its-tokens discipline as the
    unigram form."""
    base = (df.select("doc_id", canonical_tokens(text_col).alias("w"))
            .filter(F.size("w") >= 2))
    pairs = base.select(
        "doc_id",
        F.explode(F.expr(
            "zip_with(slice(w, 1, size(w) - 1), "
            "slice(w, 2, size(w) - 1), "
            "(a, b) -> struct(a AS w1, b AS w2))")).alias("p")) \
        .select("doc_id", "p.w1", "p.w2")

    _toks, tf, total, vocab = _unigram_model(df, vocab_size, text_col)
    btop = (pairs.groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c12"))
            .orderBy(F.col("c12").desc(), F.col("w1").asc(),
                     F.col("w2").asc())
            .limit(bigram_size))
    bmodel = btop.join(tf.select(F.col("tok").alias("w1"),
                                 F.col("cnt").alias("c1")), "w1")

    bits = F.when(
        F.col("c12").isNotNull(),
        F.log2(F.col("c1").cast("double"))
        - F.log2(F.col("c12").cast("double"))).otherwise(
        F.log2(F.lit(float(total)))
        - F.log2(F.coalesce(F.col("cnt"), F.lit(1)).cast("double"))
        - F.log2(F.lit(float(alpha))))
    return (pairs
            .join(F.broadcast(bmodel), ["w1", "w2"], "left")
            .join(F.broadcast(vocab.select(F.col("tok").alias("w2"),
                                           "cnt")), "w2", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.round(F.avg(F.when(F.col("c12").isNull(), 1.0)
                               .otherwise(0.0)), 4).alias("backoff_frac"),
                 F.round(F.avg(bits), 4).alias("mean_bits")))


def curriculum_bins(df: DataFrame, n_bins: int = 4,
                    vocab_size: int = 65536,
                    text_col: str = "text") -> DataFrame:
    """Quality-curriculum binning: documents ranked into ``n_bins``
    equal-population difficulty tiers by their `unigram_surprisal`
    score — curriculum schedules (easy→hard, or filter-the-tails) are
    standard practice in LLM data pipelines, and the bin column is the
    knob they key on.

    Rule: thresholds are the exact ``i/n_bins`` percentiles (linear
    interpolation — ANSI percentile_cont ≡ DuckDB quantile_cont) of the
    4dp-rounded scores, themselves rounded to 4dp; a document's bin is
    the number of thresholds STRICTLY below its score, so boundary
    scores fall in the lower bin deterministically in any engine.

    Scale shape: scoring is `unigram_surprisal`'s broadcast-model pass;
    the threshold aggregate reduces to ONE row of n_bins-1 doubles that
    re-enters as a broadcast — the same two-pass derive-then-broadcast
    pattern as `scrub.mixture_sample`, and like there the corpus never
    shuffles for it. Exact percentile buffers per-group values at the
    final reducer — one group, corpus-count doubles; at true 100 TB
    swap `approx_percentile`'s mergeable t-digest (the
    `value_percentiles` tradeoff, documented there)."""
    if n_bins < 2:
        # n_bins=1 would make percentile(array()) a NULL q and every
        # bin silently NULL; a one-bin curriculum is also meaningless
        raise ValueError(f"need n_bins >= 2, got {n_bins}")
    ps = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    s = unigram_surprisal(df, vocab_size, text_col).select(
        "doc_id", "n_tokens", "mean_bits")
    thr = (s.agg(F.expr(f"percentile(mean_bits, array({ps}))").alias("q"))
           .select(F.expr("transform(q, t -> round(t, 4))").alias("q")))
    return (s.crossJoin(F.broadcast(thr))
            .select("doc_id", "n_tokens", "mean_bits",
                    F.expr("size(filter(q, t -> t < mean_bits))")
                    .cast("long").alias("bin")))


def _feat_bucket(tok_col: str = "tok", n_buckets: int = 1024) -> F.Column:
    """Hashed-feature bucket of a token: first 8 md5 hex digits mod B —
    the engine-portable hashing-trick (both operands non-negative, so
    pmod/% agree across engines)."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col(tok_col)), 1, 8), 16, 10)
        .cast("long"), F.lit(n_buckets))


def hashed_bow_embeddings(df: DataFrame, dims: int = 64,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Feature-hashed bag-of-words embeddings: tokens hash into
    ``dims`` buckets (`_feat_bucket`, the DSIR hashing trick), counts
    assemble into a dense vector, L2-normalized and rounded to 6dp —
    a deterministic, engine-portable featurizer that turns ANY text
    relation into an `embedding array<double>` the whole
    `corpus.similarity` stack (brute/LSH/IVF/SQ8, SemDeDup,
    centroids) consumes directly. Real pipelines swap in a neural
    encoder behind the same (id, embedding) contract; this one exists
    so retrieval compositions are testable END TO END in-engine with
    full value-hash oracles (see the `rag_chunk_topk` gate: chunk →
    embed → top-k with no Python anywhere).

    Shape: explode → (id, bucket) partial-agg → per-id map assembly
    (collect_list of at most ``dims`` entries) — two bounded shuffles,
    no vocabulary state (the hashing trick's memory story), output
    dims doubles per document. Empty documents yield the ''-token
    vector (one bucket set), never a zero vector, so downstream
    cosine ops keep them."""
    counts = (df.select(
        F.col(id_col),
        F.explode(canonical_tokens(text_col)).alias("tok"))
        .groupBy(id_col, _feat_bucket("tok", dims).alias("b"))
        .agg(F.count(F.lit(1)).alias("c")))
    m = F.map_from_entries(
        F.sort_array(F.collect_list(F.struct("b", "c"))))
    # The norm is an exact INT64 aggregate (sum of squared counts —
    # order-independent, bit-equal to the oracle's fold over the dense
    # array since zeros contribute nothing), computed IN the same
    # HashAggregate, and the embedding is ONE transform with O(1) work
    # per element. The first draft folded the norm inside the transform
    # lambda — the `dedup.shingles` lambda-CSE hazard: no common-
    # subexpression elimination inside lambda bodies, so the O(dims)
    # fold re-ran per element, and every downstream re-reference
    # (with_norm's filter, the cosine dot) multiplied the O(dims^2)
    # again — measured 30 s vs 1 s on the sf0.1 rag_chunk_topk
    # composition.
    return (counts.groupBy(id_col)
            .agg(m.alias("_m"),
                 F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double"))
                 .alias("_n"))
            .select(
                F.col(id_col),
                F.expr(
                    f"transform(sequence(0, {dims - 1}), "
                    "d -> round(cast(coalesce(element_at(_m, d), 0) "
                    "as double) / _n, 6))")
                .alias("embedding")))


def dsir_weights(df: DataFrame, target_col: str = "lang",
                 target_val: str = "en", n_buckets: int = 1024,
                 text_col: str = "text") -> DataFrame:
    """DSIR data-selection weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by how much more likely its tokens are under the TARGET
    distribution than under the RAW corpus distribution, using
    hashed-unigram bag models — the importance weight that decides
    whether a crawl document "looks like" the high-quality target set.
    Here target = documents with ``target_col == target_val``, raw =
    the whole corpus; real pipelines plug in a curated target corpus.

    Features are tokens hashed into ``n_buckets`` buckets (the hashing
    trick bounds BOTH models at B rows regardless of vocabulary size —
    the reason DSIR scales where exact n-gram LMs don't). Bucket
    probabilities are Laplace-smoothed (c+1)/(C+B); the per-document
    score is the MEAN log2 probability ratio over its tokens (mean, not
    sum, so the score is length-independent), rounded to 4dp under the
    same log2-portability contract as `unigram_surprisal`.

    Scale shape: pass 1 aggregates token counts per bucket — uniform
    keys, map-side combine, output bounded at B rows — for raw and
    target in ONE pass (conditional sum, no second scan). The two
    model totals are B-row reductions. Pass 2 re-explodes tokens and
    BROADCASTS the B-row log-ratio table onto them; the corpus crosses
    only the final per-doc rollup exchange. No model state ever
    exceeds B rows — this is exactly the DSIR paper's memory story,
    relationally."""
    toks = df.select(
        "doc_id",
        (F.col(target_col) == target_val).cast("long").alias("is_t"),
        F.explode(canonical_tokens(text_col)).alias("tok"))
    feats = toks.select("doc_id", "is_t",
                        _feat_bucket("tok", n_buckets).alias("b"))
    model = feats.groupBy("b").agg(
        F.count(F.lit(1)).alias("rc"),
        F.sum("is_t").alias("tc"))
    totals = model.agg(F.sum("rc").alias("R"),
                       F.sum("tc").alias("T")).first()
    r_tot, t_tot = float(totals["R"] or 0), float(totals["T"] or 0)
    llr = (F.log2((F.col("tc") + 1) / F.lit(t_tot + n_buckets))
           - F.log2((F.col("rc") + 1) / F.lit(r_tot + n_buckets)))
    ratio = model.select("b", llr.alias("llr"))
    return (feats
            .join(F.broadcast(ratio), "b")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.avg("llr"), 4).alias("dsir_logratio")))


def bm25_topk(df: DataFrame, queries: DataFrame, k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """BM25 lexical retrieval: top-k documents per query under the
    Lucene/Okapi BM25 scoring function — the embedding-free half of a
    retrieval stack (the `hashed_bow_embeddings`/cosine path is the
    other), and the standard tool for targeted data selection (pull the
    corpus slice most relevant to a benchmark/task description before
    training).

        idf(t)   = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)      [>= 0]
        score(q,d) = sum_t idf(t) * tf * (k1+1)
                              / (tf + k1 * (1 - b + b * dl/avgdl))

    Engine-parity protocol (the kmeans_refine standard — round at every
    float stage boundary): idf is rounded 6dp straight out of ``ln``
    (the one libm call; Java vs C log are not ulp-identical), the final
    per-(query, doc) sum is rounded 4dp BEFORE ranking, and ties break
    on doc id, so the top-k cut is deterministic cross-engine.

    Scale shape: the query-term set broadcasts, so the corpus is ONE
    scan — tokens explode, hit a broadcast semi-join on the ~|Q| query
    terms, and only matching (doc, term) rows reach the single tf
    partial-agg Exchange; document length rides along as max(dl) (it is
    constant per doc) instead of re-joining the corpus. Document
    frequency is a count() window over the tf rows partitioned by term
    (bounded by |query terms| keys — no second corpus pass, no rejoin
    recompute of the tf subtree), and the final (query, doc) rollup +
    per-query rank window shuffle only scored candidates. Corpus
    scalars N/sum(dl) are two longs collected once; avgdl is the same
    IEEE division on both engines. Text never crosses an Exchange."""
    from pyspark.sql.window import Window

    # tokenize ONCE: explode lives in a Generate node, so inlining the
    # split under both size() and explode() evaluates the regexp+split
    # twice per row — materializing the array in a child projection
    # cut the sf1 wall 2.7x (12.2 -> 4.5 s)
    toks = (df.select(F.col(id_col), canonical_tokens(text_col).alias("_arr"))
            .select(F.col(id_col), F.size("_arr").alias("dl"),
                    F.explode("_arr").alias("term")))

    qt = queries.select(
        "query_id",
        F.explode(canonical_tokens("query")).alias("term")
    ).distinct()
    terms = qt.select("term").distinct()

    stats = df.select(F.size(canonical_tokens(text_col)).alias("dl")) \
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")).first()
    n_docs = int(stats["n"])
    avgdl = float(stats["s"] or 0) / max(n_docs, 1)

    tf = (toks.join(F.broadcast(terms), "term")
          .groupBy(id_col, "term")
          .agg(F.count(F.lit(1)).cast("double").alias("tf"),
               F.max("dl").cast("double").alias("dl")))
    dfr = F.count(F.lit(1)).over(Window.partitionBy("term")).cast("double")
    idf = F.round(F.log(
        (F.lit(float(n_docs)) - dfr + 0.5) / (dfr + 0.5) + 1.0), 6)
    contrib = idf * (F.col("tf") * (k1 + 1.0)
                     / (F.col("tf")
                        + k1 * (1.0 - b + b * F.col("dl") / avgdl)))
    rank_w = (Window.partitionBy("query_id")
              .orderBy(F.col("score").desc(), F.col(id_col).asc()))
    return (tf.withColumn("contrib", contrib)
            .join(F.broadcast(qt), "term")
            .groupBy("query_id", id_col)
            .agg(F.round(F.sum("contrib"), 4).alias("score"))
            .withColumn("rank", F.row_number().over(rank_w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


def hybrid_rrf_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
                    k_arm: int = 20, dims: int = 64, c: int = 60,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    2009): fuse the BM25 lexical arm with the embedding cosine arm by
    summing ``1/(c + rank)`` over the arms where a document appears —
    the standard zero-tuning way to combine rankers whose raw scores
    live on incomparable scales, and the production default for
    RAG-style retrieval (lexical catches exact terms, the vector arm
    catches paraphrase). Four engine operators composed end to end:
    `bm25_topk` + `hashed_bow_embeddings` (both sides) +
    `similarity.batch_topk` + the fusion — all in-engine,
    deterministic, one oracle.

    Engine-parity: the RRF score is a sum of at most two exact IEEE
    divisions of small integers (no libm), so fusion itself is
    bit-exact; each arm's rank is already engine-deterministic by its
    own contract (scores rounded BEFORE ranking, id tiebreaks). Query
    ids are offset by 2^40 inside the vector arm so a query's
    embedding can never collide with (and self-exclude) a real
    document id.

    Scale shape: both arms broadcast the tiny query side and keep the
    corpus to one scan each; the fusion joins two Q×k_arm relations —
    scalars, AQE-broadcast regardless of corpus size."""
    from pyspark.sql.window import Window

    from pdf_parser_spark.corpus import similarity as S

    lex = (bm25_topk(docs, queries, k=k_arm,
                     id_col=id_col, text_col=text_col)
           .select("query_id", id_col, F.col("rank").alias("rank_lex")))

    qoff = 1 << 40
    dvec = hashed_bow_embeddings(docs, dims=dims,
                                 id_col=id_col, text_col=text_col)
    qvec = hashed_bow_embeddings(
        queries.select((F.col("query_id") + qoff).alias(id_col),
                       F.col("query").alias(text_col)),
        dims=dims, id_col=id_col, text_col=text_col)
    sem_w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc())
    sem = (S.batch_topk(dvec, qvec, k=k_arm, id_col=id_col)
           .withColumn("rank_sem", F.row_number().over(sem_w))
           .select((F.col("query_id") - qoff).alias("query_id"),
                   F.col(id_col), "rank_sem"))

    rrf = F.round(
        F.coalesce(1.0 / (F.col("rank_lex") + F.lit(float(c))), F.lit(0.0))
        + F.coalesce(1.0 / (F.col("rank_sem") + F.lit(float(c))),
                     F.lit(0.0)), 9)
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col(id_col).asc())
    return (lex.join(sem, ["query_id", id_col], "full_outer")
            .withColumn("rrf", rrf)
            .withColumn("rank", F.row_number().over(rank_w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "rrf", "rank"))


def linear_quality_score(df: DataFrame, weights: list, bias: float = 0.0,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Apply a trained linear quality classifier (the
    fasttext/logistic-regression scoring pass real pipelines run over
    every document — LLaMA/CCNet-style "looks like a reference page"
    priors): hashed-BoW featurize, dot with the broadcast weight
    vector, sigmoid. The model is a plan LITERAL (the `kmeans_refine`
    literal-codebook pattern) — dims doubles compiled into the
    expression, so scoring is a pure whole-stage-codegen projection
    over the feature rollup: no join, no Python, no shuffle beyond
    the two bounded hashed-BoW aggregations.

    Driver-side fitting over a labeled SAMPLE is out of scope by design
    (thousands of rows is not a distributed problem); full-corpus
    WEAK-LABEL distillation is — see `train_quality_probe`, whose
    (weights, bias) feed straight into this operator. Engine
    parity: the dot is the in-order fold DuckDB's list_inner_product
    replays, the sigmoid's exp is the one libm call, rounded 6dp.
    Output: (id, quality_score)."""
    dims = len(weights)
    feats = hashed_bow_embeddings(df, dims=dims, id_col=id_col,
                                  text_col=text_col)
    w_lit = ", ".join(f"{float(w)!r}D" for w in weights)
    z = F.expr(
        f"aggregate(zip_with(embedding, array({w_lit}), "
        f"(x, w) -> x * w), 0D, (a, x) -> a + x) + {float(bias)!r}D")
    return feats.select(
        F.col(id_col),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
        .alias("quality_score"))


def quality_rule_features(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """The quality RULE's own feature vector as a relation —
    (id, n_tokens, stop_r, top2_cf, dup3_f), the exact columns
    `quality_filter_keep` thresholds (both read `_with_rule_features`).
    This is the feature block the ``"rule"`` probe head appends: BoW
    token-identity features alone cannot see document LENGTH or
    REPETITION (L2 normalization erases both), which is exactly the
    signal the C4/Gopher rule thresholds."""
    return _with_rule_features(df, text_col).select(F.col(id_col), "_rule.*")


QUALITY_CODEGEN_COLS = ("len_sq", "stop_r", "mwl_sq",
                        "uniq1_r", "uniq2_r", "uniq3_r")


def quality_codegen_features(df: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """The probe's DEPLOYABLE feature block: six per-document quality
    signals with NO Python anywhere — every expression is a built-in
    JVM projection, so a 100 TB scoring pass is scan → map, no pandas
    UDF (the rule features' `top2_cf`/`dup3_f` pay one; these are the
    codegen stand-ins for the same signals):

      len_sq   n/(n+100) saturating length (the rule head's token
               count transform — pure arithmetic, no libm)
      stop_r   stopword ratio, identical to the teacher rule's
      mwl_sq   mean word length through m/(m+10) — separates prose
               from code/URL soup where token counts alone cannot
      uniq1_r  distinct-token fraction
      uniq2_r  distinct word-2-gram fraction — the codegen proxy for
               the rule's top-2-gram char fraction (a dominating
               2-gram collapses distinctness)
      uniq3_r  distinct word-3-gram fraction — the proxy for dup3_f
               (dup3_f ≈ 1 − uniq3_r exactly when every duplicate
               gram repeats once)

    Gram features read the canonical text (the `repetition_counts`
    convention); token count and stop ratio read the raw split (the
    `quality_filter_keep` convention) so the teacher and the proxy
    see the same inputs. All fractions round 4dp, squashes 6dp via
    floor(x*k + 0.5) — the engine-exact contract. Output:
    (id, len_sq, stop_r, mwl_sq, uniq1_r, uniq2_r, uniq3_r)."""
    base = df.select(
        F.col(id_col), _raw_token_count(text_col).alias("_nt"),
        _stop_ratio(text_col).alias("stop_r"),
        F.length(canonical_text(text_col)).alias("_nc"),
        canonical_tokens(text_col).alias("_w"))
    staged = base.select(
        id_col, "_nt", "stop_r", "_w",
        ((F.col("_nc") - (F.size("_w") - F.lit(1))) / F.size("_w"))
        .alias("_mwl"))
    uniq2 = (
        "CASE WHEN size(_w) >= 2 THEN round(size(array_distinct("
        "transform(sequence(1, size(_w) - 1), "
        "i -> concat(element_at(_w, i), ' ', element_at(_w, i + 1)))))"
        " / cast(size(_w) - 1 AS double), 4) ELSE 1.0D END")
    uniq3 = (
        "CASE WHEN size(_w) >= 3 THEN round(size(array_distinct("
        "transform(sequence(1, size(_w) - 2), "
        "i -> concat(element_at(_w, i), ' ', element_at(_w, i + 1), "
        "' ', element_at(_w, i + 2)))))"
        " / cast(size(_w) - 2 AS double), 4) ELSE 1.0D END")
    return staged.select(
        F.col(id_col),
        F.expr("floor(_nt / (_nt + 100.0) * 1e6 + 0.5) / 1e6")
        .alias("len_sq"),
        F.col("stop_r"),
        F.expr("floor(_mwl / (_mwl + 10.0) * 1e6 + 0.5) / 1e6")
        .alias("mwl_sq"),
        F.round(F.expr("size(array_distinct(_w))")
                / F.expr("cast(size(_w) AS double)"), 4).alias("uniq1_r"),
        F.expr(uniq2).alias("uniq2_r"),
        F.expr(uniq3).alias("uniq3_r"))


def _r6(x: float) -> float:
    """Round-half-up to 6dp via pure arithmetic (floor(x*1e6 + 0.5)) —
    the trainer's cross-engine rounding primitive: identical in Python,
    Spark SQL, and any ANSI engine, with none of the half-even /
    half-away forks of the builtin round()s."""
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


def _probe_z_units(w: list, bias: float, vec_col: str = "embedding") -> str:
    """SQL expression for the probe margin in exact 1e-9 integer units:
    each term x_j*w_j quantizes to floor(.*1e9 + 0.5) BEFORE summation,
    so the fold is an order-independent bigint sum an independent
    engine replays exactly (the pagerank/kmeans integer-unit
    discipline applied to a dot product)."""
    wlits = ", ".join(f"{float(v)!r}D" for v in w)
    seed = f"cast(floor({float(bias)!r}D * 1e9 + 0.5) as bigint)"
    return (f"aggregate(zip_with({vec_col}, array({wlits}), "
            "(x, w) -> cast(floor(x * w * 1e9 + 0.5) as bigint)), "
            f"{seed}, (a, u) -> a + u)")


# head -> (extra dims, feature relation, embedding expression): the
# block each probe head appends to the hashed BoW. "rule" appends the 4
# teacher-rule features, the token count through the pure-arithmetic
# saturating transform n/(n+100) (NOT a log: libm would enter the
# cross-engine contract) and three 4dp fractions in [0, 1]; "codegen"
# appends the 6 UDF-free `quality_codegen_features`, the block the
# deployable head trains and scores on; "bow" appends nothing.
_PROBE_HEADS = {
    "bow": (0, None, None),
    "rule": (4, quality_rule_features,
             "concat(embedding, array("
             "floor(n_tokens / (n_tokens + 100.0) * 1e6 + 0.5) / 1e6, "
             "stop_r, top2_cf, dup3_f))"),
    "codegen": (6, quality_codegen_features,
                "concat(embedding, array(len_sq, stop_r, mwl_sq, "
                "uniq1_r, uniq2_r, uniq3_r))"),
}

# each head's measured-best GD iteration count (BASELINE.md ladders)
PROBE_DEFAULT_ITERS = {"codegen": 4, "rule": 2, "bow": 2}


def probe_extra_dims(head: str) -> int:
    """Feature dims a probe head appends to the BoW block."""
    return _PROBE_HEADS[head][0]


def _probe_feature_frame(df: DataFrame, dims: int, head: str,
                         id_col: str, text_col: str) -> DataFrame:
    """(id, embedding) feature relation for the probe: the hashed BoW
    with the ``head``'s feature block (`_PROBE_HEADS`) appended."""
    _extra, head_feats, embedding = _PROBE_HEADS[head]
    feats = hashed_bow_embeddings(df, dims=dims, id_col=id_col,
                                  text_col=text_col)
    if head_feats is None:
        return feats
    return (feats.join(head_feats(df, id_col=id_col, text_col=text_col),
                       id_col)
            .select(id_col, F.expr(embedding).alias("embedding")))


def train_quality_probe(df: DataFrame, keep_df: DataFrame | None = None,
                        iters: int = 2, lr: float = 0.5, dims: int = 64,
                        head: str = "bow", init_scale: float = 16.0,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> tuple:
    """Distill a filter RULE into a trainable linear probe, entirely
    in-engine: logistic-style gradient descent over hashed-BoW features
    with weak labels from `quality_filter_keep` (or any caller-supplied
    keep set) — the full-corpus counterpart to `linear_quality_score`,
    whose docstring scopes driver-side fitting out precisely because a
    labeled SAMPLE is not a distributed problem. Weak-label distillation
    is: the label source is itself an in-engine rule, so the training
    set is the whole corpus and each iteration is one partial-agg pass
    (the fastText/CCNet "train a cheap classifier on rule labels, then
    score everything" recipe, with the scoring half already in
    `linear_quality_score`).

    Distributed shape (the `kmeans_refine` protocol): model state lives
    on the driver (dims+1 doubles), each iteration broadcasts it as
    plan literals and aggregates dims+1 gradient sums — the exchange
    carries GROUP SUMMARIES, never rows, so cost per iteration is one
    corpus scan regardless of model quality. Features+labels
    materialize once (localCheckpoint; swap for scratch storage at
    cluster scale, the `near_dedup` rule).

    Every arithmetic step is engine-exact so an unrolled relational SQL
    twin value-hashes the weights with NO literals smuggled in:
    gradients and margins quantize per-term to 1e-9 integer units
    (floor(x*1e9+0.5), round-half-up — no round() forks) and sum as
    integers (decimal(38,0) on the Spark side for 100 TB headroom; the
    int→double conversions stay exact below 2^53 units ≈ 9e6 doc-units,
    documented); the squash is the FAST sigmoid p = 0.5*(1 + z/(1+|z|))
    — monotone, bounded, and pure arithmetic, so no libm exp() is on
    the cross-engine contract. Weights round to 6dp per update.

    ``head`` picks the feature block beside the BoW (`_PROBE_HEADS`).
    ``"bow"`` alone measured exactly the keep base rate on the sf0.01
    fixture (76% — L2-normalized token identities carry no
    length/repetition signal; recorded as the negative result that
    motivated the other heads). ``"rule"`` joins the 4 teacher-rule
    features (0.858 agreement at iters=2). ``"codegen"`` joins the 6
    UDF-free `quality_codegen_features` — the DEPLOYABLE head: scoring
    pays no pandas UDF anywhere (0.842 at iters=4). BASELINE.md records
    the ladder; each head's measured-best iteration count is
    `PROBE_DEFAULT_ITERS`.

    Returns ``(weights, bias, n_docs)``; an empty corpus returns zero
    weights, zero bias and ``n_docs = 0``."""
    feats = _probe_feature_frame(df, dims, head, id_col, text_col)
    if keep_df is None:
        keep_df = quality_filter_keep(df, text_col=text_col).select(id_col)
    data = (feats.join(keep_df.select(id_col).withColumn("y", F.lit(1.0)),
                       id_col, "left")
            .select("embedding", F.coalesce("y", F.lit(0.0)).alias("y"))
            .localCheckpoint())
    n = data.count()
    d_total = dims + probe_extra_dims(head)
    if n == 0:
        data.unpersist()
        return [0.0] * d_total, 0.0, 0

    # Class-centroid initialization (Rocchio/nearest-centroid): w0 =
    # scale·(mean(x|keep) − mean(x|drop)), b0 = −w0·midpoint — ONE
    # extra pass of exact integer-unit sums grouped by label. Plain GD
    # from zeros spends its first dozens of iterations chasing the
    # base rate (measured: agreement stuck at 76% = keep rate through
    # 8 iterations); the centroid discriminant alone already reads 84%
    # on the sf0.01 fixture and GD then refines the margin. The
    # measured linear ceiling on these features is ~95% (3000 offline
    # logistic iterations) — BASELINE.md records the operating points.
    import math

    crow = data.groupBy("y").agg(
        F.count(F.lit(1)).alias("cn"),
        *[F.sum(F.expr(
            f"cast(floor(element_at(embedding, {j + 1}) * 1e9 "
            "+ 0.5) as bigint)").cast("decimal(38,0)")).alias(f"s{j}")
          for j in range(d_total)]).collect()
    stats = {int(r.y): r for r in crow}
    w = [0.0] * d_total
    b = 0.0
    if init_scale > 0 and 0 in stats and 1 in stats:
        n1, n0 = int(stats[1].cn), int(stats[0].cn)
        m1 = [_r6((int(stats[1][f"s{j}"]) / 1e9) / n1)
              for j in range(d_total)]
        m0 = [_r6((int(stats[0][f"s{j}"]) / 1e9) / n0)
              for j in range(d_total)]
        w = [_r6((m1[j] - m0[j]) * init_scale) for j in range(d_total)]
        mid = [_r6((m1[j] + m0[j]) / 2.0) for j in range(d_total)]
        b = _r6(-sum(math.floor(w[j] * mid[j] * 1e9 + 0.5)
                     for j in range(d_total)) / 1e9)
    for _ in range(iters):
        zed = data.select(
            F.expr(_probe_z_units(w, b)).alias("zu"), "y", "embedding")
        probs = zed.select(
            F.expr("floor(zu / 1e9 * 1e6 + 0.5) / 1e6").alias("z"),
            "y", "embedding").select(
            F.expr("floor(0.5 * (1.0D + z / (1.0D + abs(z))) * 1e6 + 0.5)"
                   " / 1e6").alias("p"),
            "y", "embedding")
        aggs = [
            F.sum(F.expr(
                f"cast(floor((p - y) * element_at(embedding, {j + 1}) "
                "* 1e9 + 0.5) as bigint)").cast("decimal(38,0)"))
            .alias(f"g{j}")
            for j in range(d_total)
        ]
        aggs.append(
            F.sum(F.expr("cast(floor((p - y) * 1e9 + 0.5) as bigint)")
                  .cast("decimal(38,0)")).alias("gb"))
        row = probs.agg(*aggs).first()
        w = [_r6(w[j] - lr * (int(row[f"g{j}"]) / 1e9) / n)
             for j in range(d_total)]
        b = _r6(b - lr * (int(row["gb"]) / 1e9) / n)
    data.unpersist()
    return w, b, n


def quality_probe_weights_df(df: DataFrame, iters: int = 2, lr: float = 0.5,
                             dims: int = 64, head: str = "bow",
                             init_scale: float = 16.0,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Gate surface for `train_quality_probe`: the trained model as a
    (dim, weight) relation, bias at dim = -1 — a bounded driver-scalar
    row count by construction."""
    w, b, _ = train_quality_probe(df, iters=iters, lr=lr, dims=dims,
                                  head=head, init_scale=init_scale,
                                  id_col=id_col, text_col=text_col)
    rows = [(-1, b)] + [(j, w[j]) for j in range(len(w))]
    return df.sparkSession.createDataFrame(rows, "dim long, weight double")


def quality_probe_scores(df: DataFrame, weights: list, bias: float,
                         dims: int = 64, head: str = "bow",
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Score a corpus with an ALREADY-TRAINED probe over the SAME
    feature frame it was trained on — the publish step `jobs/probe_job`
    runs, split out so the scores a CLI writes are provably the model
    whose agreement it reports (the round-4 defect: the job scored with
    a truncated weight block while printing the full model's number).

    The margin is the exact 1e-9 integer-unit dot (`_probe_z_units`),
    the probability is the trainer's fast sigmoid at 6dp, and
    ``probe_keep`` decides on the raw integer margin (z > 0) — the
    identical arithmetic `quality_probe_agreement_for` counts, so a
    reader thresholding the published scores reproduces the printed
    agreement bit-for-bit. Output: (id, quality_score, probe_keep)."""
    feats = _probe_feature_frame(df, dims, head, id_col, text_col)
    return (feats
            .select(F.col(id_col),
                    F.expr(_probe_z_units(weights, bias)).alias("_zu"))
            .select(F.col(id_col),
                    F.expr("floor(_zu / 1e9 * 1e6 + 0.5) / 1e6")
                    .alias("_z"), "_zu")
            .select(
                F.col(id_col),
                F.expr("floor(0.5 * (1.0D + _z / (1.0D + abs(_z))) "
                       "* 1e6 + 0.5) / 1e6").alias("quality_score"),
                (F.col("_zu") > 0).cast("int").alias("probe_keep")))


def quality_probe_agreement_for(df: DataFrame, weights: list, bias: float,
                                dims: int = 64, head: str = "bow",
                                id_col: str = "doc_id",
                                text_col: str = "text") -> DataFrame:
    """Agreement report for an ALREADY-TRAINED probe (w, b) against the
    teacher rule on ``df`` — the scoring half of
    `quality_probe_agreement`, reusable so a CLI that just trained
    never pays the training passes twice to grade itself. One row:
    (n_docs, n_rule_keep, n_probe_keep, n_agree), all 0 on an empty
    corpus; probe-keep is the exact integer-unit margin z > 0."""
    feats = _probe_feature_frame(df, dims, head, id_col, text_col)
    keep_df = quality_filter_keep(df, text_col=text_col).select(id_col)
    scored = (feats.join(keep_df.withColumn("y", F.lit(1)), id_col, "left")
              .select(F.coalesce("y", F.lit(0)).alias("y"),
                      (F.expr(_probe_z_units(weights, bias)) > 0)
                      .cast("int").alias("pk")))

    def total(c):
        return F.coalesce(F.sum(c), F.lit(0)).cast("long")

    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        total("y").alias("n_rule_keep"),
        total("pk").alias("n_probe_keep"),
        total((F.col("y") == F.col("pk")).cast("int")).alias("n_agree"))


def quality_probe_agreement(df: DataFrame, iters: int = 2, lr: float = 0.5,
                            dims: int = 64, head: str = "bow",
                            init_scale: float = 16.0,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Train the probe, then score the SAME corpus and report how well
    the distilled model reproduces its teacher rule: one row
    (n_docs, n_rule_keep, n_probe_keep, n_agree). Probe-keep is margin
    z > 0 (⟺ fast-sigmoid p > 0.5 — decided on the exact integer-unit
    margin, so no rounded-probability boundary ambiguity). The
    agreement rate is the number a pipeline owner reads before trusting
    the probe as the cheap 100 TB pre-filter."""
    keep_df = quality_filter_keep(df, text_col=text_col).select(id_col)
    w, b, _ = train_quality_probe(df, keep_df=keep_df, iters=iters,
                                  lr=lr, dims=dims, head=head,
                                  init_scale=init_scale,
                                  id_col=id_col, text_col=text_col)
    return quality_probe_agreement_for(
        df, w, b, dims=dims, head=head, id_col=id_col, text_col=text_col)


def pmi_cooccurrence(df: DataFrame, window: int = 2, min_count: int = 5,
                     top: int = 100, text_col: str = "text") -> DataFrame:
    """Pointwise mutual information over forward co-occurrence pairs —
    the word-association statistic under PPMI-SVD embeddings
    (Levy & Goldberg 2014) and phrase mining ("new york" scores high
    because p(x,y) >> p(x)p(y)):

        pmi(x, y) = ln( (c_xy * T * T) / (P * c_x * c_y) )

    with c_xy the count of y within ``window`` tokens AFTER x, T total
    tokens, P total pairs.

    Scale shape: pair generation is a zero-join HOF — each token array
    emits its own forward pairs via transform+slice+flatten in one
    codegen projection (the classic formulation self-joins the
    position-exploded tokens; this never builds that join), so the
    pair partial-agg is the only wide stage over corpus data; the
    unigram aggregate is the second. T and P are two collected longs.
    Ranking: pmi rounded 6dp BEFORE the (pmi desc, x, y) top-``top``
    cut, all counts exact integers — engine-deterministic."""
    from pyspark.sql.window import Window

    arr = df.select(canonical_tokens(text_col).alias("w"))
    pair_expr = F.expr(
        f"flatten(transform(w, (x, i) -> "
        f"transform(slice(w, i + 2, {window}), "
        "y -> struct(x AS x, y AS y))))")
    pairs = arr.select(F.explode(pair_expr).alias("p")) \
        .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    toks = arr.select(F.explode("w").alias("tok"))

    c_xy = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    c_t = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = toks.agg(F.count(F.lit(1)).alias("t")).first()
    t_total = int(totals["t"])
    p_total = int(pairs.count())

    pmi = F.round(F.log(
        (F.col("c_xy").cast("double") * float(t_total) * float(t_total))
        / (float(p_total) * F.col("cx").cast("double")
           * F.col("cy").cast("double"))), 6)
    rank_w = Window.orderBy(F.col("pmi").desc(), F.col("x").asc(),
                            F.col("y").asc())
    # no broadcast hint: AQE broadcasts the unigram relation when the
    # vocabulary is small and falls back to a hash join when it is not
    return (c_xy.filter(F.col("c_xy") >= min_count)
            .join(c_t.withColumnRenamed("tok", "x")
                  .withColumnRenamed("c", "cx"), "x")
            .join(c_t.withColumnRenamed("tok", "y")
                  .withColumnRenamed("c", "cy"), "y")
            .withColumn("pmi", pmi)
            .withColumn("rank", F.row_number().over(rank_w))
            .filter(F.col("rank") <= top)
            .select("x", "y", "c_xy", "pmi", "rank"))
