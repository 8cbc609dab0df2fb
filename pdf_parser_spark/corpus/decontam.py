"""Benchmark decontamination: flag corpus documents that share an exact
n-token-gram with a held-out evaluation set.

The standard pre-training hygiene step (GPT-3, Brown et al. 2020,
appendix C: 13-gram overlap; likewise Llama / PaLM eval decontamination):
any training document containing an exact n-gram from a benchmark is
flagged (to be dropped or masked) so downstream eval numbers are not
inflated by memorization. Document-granularity sibling of the
reference's per-block keyword predicates
(/root/reference/A003_colored_footer.py:199-210); the reference has no
cross-corpus ops (SURVEY.md §2.8), so this is a north-rule addition.

Scale shape (the whole point at 100 TB): the eval side is SMALL — a few
thousand benchmark documents — so its distinct gram-hash set broadcasts.
The corpus side never shuffles its text: gram hashing is a per-row
projection, the overlap test is a broadcast hash join of exploded
position grams against the eval set, and only the HIT rows (volume
proportional to contamination, not corpus size) enter an aggregation
exchange. Per-doc totals come from `size()` on the gram array — no
corpus-wide explode+groupBy round trip for the denominator.

Tokens are the canonical whitespace tokens (lowercased,
whitespace-collapsed — normalization F2), and windows follow the
`dup_passage_stats` convention: positions 1..len-n+1; documents shorter
than n tokens contribute their whole text as one gram, so every document
is testable. md5 gram keys keep the DuckDB oracle bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.corpus.dedup import canonical_text, canonical_tokens


def _canon_toks(df: DataFrame, text_col: str,
                with_id: bool = True, id_col: str = "doc_id") -> DataFrame:
    cols = ([id_col] if with_id else [])
    return df.select(
        *cols, canonical_tokens(text_col).alias("toks"))


def _gram_expr(n: int):
    """Array of md5 hashes for every n-token window (whole text when
    shorter than n) — one per position.

    CONTRACT NOTE: the window convention (positions 1..len-n+1, whole
    text as one window when shorter) is shared with `dedup.shingles`
    (string shingles, distinct per doc) and
    `textstats.dup_passage_stats` (hashed windows, stride support).
    The three operators need different output shapes (hashed array here,
    exploded distinct strings there, strided positions there), so the
    expression lives in three specialized forms; any change to the
    convention must land in all three — each is pinned by its own
    oracle gate, so a drift fails CORRECTNESS, not silently."""
    return F.expr(
        f"""
        case when size(toks) < {n} then array(md5(array_join(toks, ' ')))
             else transform(sequence(1, size(toks) - {n - 1}),
                            i -> md5(concat_ws(' ', slice(toks, i, {n}))))
        end
        """
    )


def eval_gram_set(eval_df: DataFrame, n: int = 13,
                  text_col: str = "text") -> DataFrame:
    """Distinct gram-hash relation of the evaluation set — one `gh`
    column; only a text column is required of ``eval_df``. Small by
    construction (benchmarks are thousands of docs, not billions); the
    caller-facing joins broadcast it. Empty / whitespace-only eval
    documents are dropped: their whole-text gram is md5(''), which
    would otherwise flag EVERY empty corpus document as benchmark
    overlap."""
    return (eval_df
            .filter(canonical_text(text_col) != "")
            .transform(lambda d: _canon_toks(d, text_col, with_id=False))
            .select(F.explode(_gram_expr(n)).alias("gh"))
            .distinct())


def decontaminate(corpus: DataFrame, eval_df: DataFrame, n: int = 13,
                  text_col: str = "text",
                  eval_text_col: str | None = None,
                  id_col: str = "doc_id") -> DataFrame:
    """Per corpus document: total gram positions (``n_grams``), positions
    whose gram occurs anywhere in the eval set (``n_hits``), and the
    ``contaminated`` flag. A pipeline drops (or masks) flagged docs
    before tokenization.

    Three map-side stages, one tiny exchange: (1) gram totals are a
    pure projection (`size` of the gram array); (2) exploded position
    grams broadcast-inner-join the eval gram set — non-hits die in the
    join, so (3) the per-doc hit count aggregates hit rows only. The
    hit-count frame joins back on doc_id; AQE broadcasts it when
    contamination is sparse (the normal case) and falls back to a keyed
    join when a pathological corpus is mostly contaminated."""
    toks = _canon_toks(corpus, text_col, id_col=id_col)
    grams = eval_gram_set(eval_df, n, eval_text_col or text_col)
    totals = toks.select(
        id_col,
        F.when(F.size("toks") < n, F.lit(1))
        .otherwise(F.size("toks") - (n - 1)).cast("long").alias("n_grams"))
    hits = (toks.select(id_col, F.explode(_gram_expr(n)).alias("gh"))
            .join(F.broadcast(grams), "gh")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits")))
    return (totals.join(hits, id_col, "left")
            .select(id_col, "n_grams",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"),
                    (F.coalesce("n_hits", F.lit(0)) > 0)
                    .alias("contaminated")))


def decontaminated_keep(corpus: DataFrame, eval_df: DataFrame, n: int = 13,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """The kept corpus: input rows minus contaminated ones (left-anti
    join on the flagged id set — the flagged side is small, so AQE
    broadcasts it)."""
    flagged = (decontaminate(corpus, eval_df, n, text_col, id_col=id_col)
               .filter("contaminated").select(id_col))
    return corpus.join(flagged, id_col, "left_anti")


def contamination_spans(corpus: DataFrame, eval_df: DataFrame, n: int = 13,
                        text_col: str = "text",
                        eval_text_col: str | None = None,
                        id_col: str = "doc_id") -> DataFrame:
    """Merged token-position spans of eval overlap — the masking form of
    decontamination (pipelines that cannot afford to drop whole
    documents mask the overlapping range and keep the rest; the
    flag-and-drop form is `decontaminate`). Per span: ``tok_start`` /
    ``tok_end`` (1-based, inclusive, canonical whitespace tokens) and
    ``n_windows`` (hit gram positions merged into it).

    Overlapping/adjacent hit windows (stride-1 grams overlap by
    construction) are unioned per document with the gaps-and-islands
    pattern: a running max of span ends along sorted starts opens a new
    island only when a window starts past it.

    Scale shape: identical to `decontaminate` up to the broadcast inner
    join — corpus text never shuffles, and everything after the join
    (the island window + rollup, partitioned by doc_id) touches HIT
    windows only, so the merge cost is proportional to contamination,
    not corpus size."""
    from pyspark.sql.window import Window

    toks = _canon_toks(corpus, text_col, id_col=id_col)
    grams = eval_gram_set(eval_df, n, eval_text_col or text_col)
    pos = toks.select(
        id_col, F.size("toks").alias("nt"),
        F.posexplode(_gram_expr(n)).alias("pos", "gh"))
    hits = (pos.join(F.broadcast(grams), "gh")
            .select(id_col,
                    (F.col("pos") + 1).alias("w_start"),
                    F.least(F.col("pos") + n, F.col("nt")).alias("w_end")))
    w = Window.partitionBy(id_col).orderBy("w_start", "w_end")
    prev_max = F.max("w_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    islands = hits.select(
        id_col, "w_start", "w_end",
        F.when(F.col("w_start") > F.coalesce(prev_max, F.lit(0)) + 1, 1)
        .otherwise(0).alias("boundary"))
    cum = (Window.partitionBy(id_col).orderBy("w_start", "w_end")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (islands
            .select(id_col, "w_start", "w_end",
                    F.sum("boundary").over(cum).alias("island"))
            .groupBy(id_col, "island")
            .agg(F.min("w_start").alias("tok_start"),
                 F.max("w_end").alias("tok_end"),
                 F.count(F.lit(1)).alias("n_windows"))
            .drop("island"))
