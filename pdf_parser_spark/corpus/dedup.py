"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Corpus-scale generalizations of the reference's text pipeline (the
reference itself has no cross-document ops — SURVEY.md section 2.8 — so
these are the north-rule training-data additions). All operators are pure
DataFrame plans over built-in expressions; determinism comes from md5
(identical in Spark and DuckDB, which powers the oracle parity checks).

Scale notes (100 TB design):

* exact dedup: one hash-groupBy shuffle on a 32-char key — AQE sizes it.
* n-gram Jaccard: the shingle self-join is the quadratic-blowup path; at
  scale it is gated behind MinHash-LSH candidate generation (below) so the
  pairwise Jaccard only runs on candidate pairs, not the full corpus.
* MinHash-LSH: shuffle keys are (band_id, band_hash) — uniformly
  distributed by construction, so no skew; the band join is the standard
  shingle->minhash->band->bucket-join pipeline.
* SimHash: pairs are generated by a 4-band pigeonhole join (any two
  16-bit signatures within Hamming distance 3 share at least one exact
  4-bit band), never by a full cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------- exact --


# The tokenize/dedup whitespace CONTRACT, pinned to an explicit ASCII
# class: Java's \s includes \x0B (vertical tab) while DuckDB/RE2's \s
# does not, so a bare \s silently forks the two engines on any document
# containing a VT — found by tests/test_cross_engine_fuzz.py, invisible
# to the fixture-distribution gates. Both regex dialects interpret this
# class identically (backslash escapes resolve inside each engine).
WS_CHARS = " \\t\\n\\x0B\\f\\r"
WS = f"[{WS_CHARS}]"


def canonical_text(text_col: str = "text") -> F.Column:
    """Lowercase + collapse whitespace (the explicit ``WS`` class): the
    dedup normalization contract."""
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), WS + "+", " "))


def canonical_tokens(text_col: str = "text") -> F.Column:
    """The canonical token stream: `canonical_text` split on single
    spaces. An empty or whitespace-only text is the one token ''."""
    return F.split(canonical_text(text_col), " ")


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct canonical text,
    keeping the minimum id; `dup_count` = group size."""
    return (
        df.select(F.col(id_col), F.md5(canonical_text(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# ------------------------------------------------------------- shingles --


def shingles(df: DataFrame, n: int = 3, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per document, hashed to md5 so the
    join key is fixed-width. Documents shorter than n tokens produce the
    whole text as their single shingle.

    The token array is materialized in its own projection first — inlining
    the split into the transform lambda would re-evaluate the regex split
    once per sequence element (no common-subexpression elimination inside
    lambda bodies), turning tokenization O(tokens^2) per row."""
    toks = df.select(
        F.col(id_col), canonical_tokens(text_col).alias("toks"))
    grams = F.expr(
        f"""
        case when size(toks) < {n} then array(array_join(toks, ' '))
             else transform(sequence(1, size(toks) - {n - 1}),
                            i -> concat_ws(' ', slice(toks, i, {n})))
        end
        """
    )
    return (
        toks.select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle"))
        .select(id_col, F.md5("shingle").alias("sh"))
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, n: int = 3, threshold: float = 0.5,
                        id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """All document pairs (a < b) with n-gram Jaccard >= threshold.

    Intersection counts come from a shingle equi-join (shuffle on the md5
    shingle key); union = |A| + |B| - |A∩B|. At 100 TB use
    ``jaccard_on_candidates(minhash_lsh_pairs(df), df)`` instead — exact
    scoring restricted to LSH candidates; this full self-join form is the
    small-scale oracle path.
    """
    sh = shingles(df, n=n, id_col=id_col, text_col=text_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def jaccard_on_candidates(pairs: DataFrame, df: DataFrame, n: int = 3,
                          threshold: float = 0.5, id_col: str = "doc_id",
                          text_col: str = "text",
                          sh: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard scored ONLY on candidate pairs — the 100 TB
    composition: ``jaccard_on_candidates(minhash_lsh_pairs(df), df)``.

    ``pairs`` is any (id_a, id_b) candidate list (MinHash-LSH, SimHash,
    ...). The shingle stream is first pruned to candidate documents with a
    left-semi join (at corpus scale candidates are a vanishing fraction),
    then intersections come from two equi-joins keyed on (id, shingle) —
    never the all-pairs shingle self-join that ``ngram_jaccard_pairs``
    uses as the small-scale oracle path. Candidate pairs with no common
    shingle score 0.0 and are dropped by any threshold > 0.

    ``sh``, if given, is a precomputed ``shingles(df, n=n)`` frame —
    pipelines that already shingled the corpus for candidate generation
    (``near_dedup_keep_docs``) pass it (persisted) so tokenize + shingle +
    distinct run ONCE over the corpus, not once per stage."""
    # contract: ANY candidate list — dedupe defensively so repeated pairs
    # (e.g. a unioned simhash+minhash candidate set) are scored once
    cand = pairs.select("id_a", "id_b").distinct()
    ids = (cand.select(F.col("id_a").alias(id_col))
           .union(cand.select(F.col("id_b").alias(id_col))).distinct())
    if sh is None:
        sh = shingles(df, n=n, id_col=id_col, text_col=text_col)
    sh = sh.join(ids, id_col, "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cand.join(sh.select(F.col(id_col).alias("id_a"), "sh"), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), "sh"), ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn("inter", F.coalesce("inter", F.lit(0)))
        .withColumn("jaccard", F.round(
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -------------------------------------------------------------- minhash --


def minhash_signatures(df: DataFrame, num_hashes: int = 8, n: int = 3,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """MinHash signature rows (id, seed, minhash) where minhash is the
    lexicographic min of md5(shingle || '#' || seed) — a deterministic hash
    family identical in Spark and DuckDB.

    One shuffle: a single ``groupBy(doc)`` whose aggregation list is
    ``num_hashes`` min() columns (codegen, map-side combine shrinks the
    shuffle to num_hashes strings per doc) — not a seed-explode (that
    multiplied the shingle stream num_hashes× through the exchange). The
    wide signature is unpivoted to the (id, seed, minhash) long form for
    API compatibility."""
    wide = _minhash_wide(df, num_hashes=num_hashes, n=n,
                         id_col=id_col, text_col=text_col)
    pairs = F.array(*[
        F.struct(F.lit(s).alias("seed"), F.col(f"_m{s}").alias("minhash"))
        for s in range(num_hashes)
    ])
    return (
        wide.select(F.col(id_col), F.explode(pairs).alias("sm"))
        .select(id_col, "sm.seed", "sm.minhash")
    )


def _minhash_wide(df: DataFrame, num_hashes: int = 8, n: int = 3,
                  id_col: str = "doc_id", text_col: str = "text",
                  sh: DataFrame | None = None) -> DataFrame:
    if sh is None:
        sh = shingles(df, n=n, id_col=id_col, text_col=text_col)
    aggs = [
        F.min(F.md5(F.concat_ws("#", "sh", F.lit(str(s))))).alias(f"_m{s}")
        for s in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def band_keys(df: DataFrame, num_hashes: int = 8, bands: int = 4,
              n: int = 3, id_col: str = "doc_id", text_col: str = "text",
              sh: DataFrame | None = None) -> DataFrame:
    """(id, band, band_key) LSH band rows from the wide MinHash signature.

    Band keys are computed row-wise from the wide signature (no per-band
    aggregation); the only explode is bands× tiny (band, 32-char key)
    rows. This is the persistable "fingerprint store" relation of the
    incremental pipeline: production runs write it per ingest batch and
    probe new batches against the accumulated store
    (``incremental_dedup_keep``)."""
    rows = num_hashes // bands
    wide = _minhash_wide(df, num_hashes=num_hashes, n=n,
                         id_col=id_col, text_col=text_col, sh=sh)
    band_structs = []
    for b in range(bands):
        elems = [
            F.concat_ws(":", F.lit(str(s)), F.col(f"_m{s}"))
            for s in range(b * rows, (b + 1) * rows)
        ]
        key = F.md5(F.concat_ws("|", F.array_sort(F.array(*elems))))
        band_structs.append(
            F.struct(F.lit(b).alias("band"), key.alias("band_key")))
    return (
        wide.select(F.col(id_col), F.explode(F.array(*band_structs)).alias("bb"))
        .select(id_col, "bb.band", "bb.band_key")
    )


def minhash_lsh_pairs(df: DataFrame, num_hashes: int = 8, bands: int = 4,
                      n: int = 3, id_col: str = "doc_id",
                      text_col: str = "text",
                      sh: DataFrame | None = None) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH: documents
    sharing any band's concatenated minhashes collide. rows_per_band =
    num_hashes / bands. Band keys are computed row-wise from the wide
    signature (no per-band aggregation); the only explode is bands× tiny
    (band, 32-char key) rows feeding the bucket equi-join. ``sh`` is an
    optional precomputed shingle frame (see ``jaccard_on_candidates``)."""
    banded = band_keys(df, num_hashes=num_hashes, bands=bands, n=n,
                       id_col=id_col, text_col=text_col, sh=sh)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def dup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                 max_iter: int = 25, stats: dict | None = None) -> DataFrame:
    """Near-duplicate clusters: connected components over a pair list via
    min-label propagation with pointer jumping (keep one doc per component).

    Each round every node takes the min label among itself and its
    neighbors (the small-star move), then labels chase their own label's
    label (pointer jumping — the star-contraction move of the
    large-star/small-star CC algorithm), so a chain of length L converges
    in O(log L) rounds rather than O(L). Convergence is detected by
    counting changed labels (works for string and numeric ids alike — a
    label *sum* is NULL for string ids and O(diameter) without jumping).
    Lineage is truncated per round with localCheckpoint, otherwise the
    plan doubles every iteration and the job dies at scale. Returns
    (doc_id, cluster_id = min doc_id of the component) for every node that
    appears in a pair. ``stats``, if given, receives
    ``{"rounds": n, "converged": bool}``.
    """
    import warnings

    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=False)
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neigh = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src").agg(F.min("label").alias("nlabel"))
        )
        stepped = (
            labels.join(neigh, labels["node"] == neigh["src"], "left")
            .select(
                F.col("node"), F.col("label").alias("prev"),
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"))
        )
        # pointer jump: label <- label(label). Every label is itself a
        # node (labels start as node ids and only ever copy node ids), so
        # the inner join always hits.
        mapping = stepped.select(F.col("node").alias("mnode"),
                                 F.col("label").alias("mlabel"))
        labels = (
            stepped.join(mapping, stepped["label"] == mapping["mnode"])
            .select(
                F.col("node"), F.col("prev"),
                F.least(F.col("label"), F.col("mlabel")).alias("label"))
            .localCheckpoint(eager=False)
        )
        changed = labels.filter(F.col("label") != F.col("prev")).count()
        labels = labels.select("node", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"dup_clusters: not converged after {max_iter} rounds; "
            "cluster ids may be non-minimal", stacklevel=2)
    if stats is not None:
        stats.update({"rounds": rounds, "converged": converged})
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def keep_from_pairs(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                    stats: dict | None = None,
                    clusters: DataFrame | None = None) -> DataFrame:
    """Keep the min-id document of every duplicate component: connected
    components over ``pairs`` (or a precomputed ``clusters`` frame), then
    a left-anti join of ``df`` against the losers. No broadcast hint —
    the loser set is O(duplicate docs), unbounded at corpus scale, so
    AQE picks broadcast vs shuffle from its measured size."""
    if clusters is None:
        clusters = dup_clusters(pairs, stats=stats)
    losers = (clusters.filter(F.col("doc_id") != F.col("cluster_id"))
              .select(F.col("doc_id").alias(id_col)))
    return df.join(losers, id_col, "left_anti")


def keep_best_from_pairs(df: DataFrame, pairs: DataFrame, score_col: str,
                         id_col: str = "doc_id",
                         stats: dict | None = None,
                         clusters: DataFrame | None = None) -> DataFrame:
    """Quality-aware survivor selection (the RefinedWeb/FineWeb keeper
    rule): connected components over ``pairs``, then keep the HIGHEST
    ``score_col`` member of every duplicate cluster instead of the
    min-id one — ties broken by min id so the result is deterministic.

    ``score_col`` is any scalar column already on ``df`` (a quality
    score from ``textstats.quality_scores``, a probe score from
    ``quality_probe_scores``, a length proxy, ...). Scale shape: the
    ranking window partitions by ``cluster_id``, whose groups are dup
    clusters — bounded by the same LSH candidate generation that built
    ``pairs``, so the window never sees corpus-sized partitions; the
    corpus itself only pays the final AQE-sized left-anti join, exactly
    like ``keep_from_pairs``."""
    from pyspark.sql.window import Window

    if clusters is None:
        clusters = dup_clusters(pairs, stats=stats)
    members = clusters.join(
        df.select(F.col(id_col).alias("doc_id"),
                  F.col(score_col).alias("_score")), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_score").desc(), F.col("doc_id").asc())
    losers = (members.withColumn("_rk", F.row_number().over(w))
              .filter(F.col("_rk") > 1)
              .select(F.col("doc_id").alias(id_col)))
    return df.join(losers, id_col, "left_anti")


def near_dedup_pairs(df: DataFrame, n: int = 3, threshold: float = 0.5,
                     num_hashes: int = 8, bands: int = 4,
                     id_col: str = "doc_id", text_col: str = "text",
                     sh: DataFrame | None = None) -> DataFrame:
    """MinHash-LSH candidates -> exact Jaccard >= threshold, sharing ONE
    shingle frame between the two stages (pass a pre-materialized ``sh``
    to guarantee the tokenize + n-gram + distinct stream — the dominant
    cost at corpus scale — is computed exactly once; see
    ``near_dedup_keep_docs`` for the materialization policy)."""
    if sh is None:
        sh = shingles(df, n=n, id_col=id_col, text_col=text_col)
    cands = minhash_lsh_pairs(df, num_hashes=num_hashes, bands=bands, n=n,
                              id_col=id_col, text_col=text_col, sh=sh)
    return jaccard_on_candidates(cands, df, n=n, threshold=threshold,
                                 id_col=id_col, text_col=text_col, sh=sh)


def near_dedup_keep_docs(df: DataFrame, n: int = 3, threshold: float = 0.5,
                         num_hashes: int = 8, bands: int = 4,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         scratch_dir: str | None = None,
                         score_col: str | None = None) -> DataFrame:
    """The full corpus near-dedup pipeline, end to end: MinHash-LSH
    candidates -> exact Jaccard >= threshold -> connected components ->
    keep the min-id document per cluster (or, with ``score_col``, the
    highest-scoring member — see ``near_dedup_keep_best_docs``). Returns
    the surviving rows of ``df`` (all columns).

    This is the deployment composition for the 100 TB path: every stage
    is bucketed/candidate-restricted (no all-pairs work anywhere); the
    final keep goes through ``keep_from_pairs`` (anti-join, AQE-sized).

    The shingle stream is MATERIALIZED ONCE — written to ``scratch_dir``
    (a temp dataset by default; an intermediate table at cluster scale)
    and read back to feed both MinHash candidate generation and the exact
    Jaccard scorer. Storage materialization rather than ``.persist()`` is
    deliberate: an InMemoryRelation's exact-size statistics flipped every
    downstream small-side join from broadcast to sort-merge (measured 8×
    slower at sf0.1), while a parquet intermediate keeps real size stats
    that AQE plans against, and is also the only shape that survives a
    corpus bigger than cluster memory. The scratch files are deleted
    before returning — the connected-components loop materializes (and
    localCheckpoint-truncates) everything derived from them."""
    import shutil
    import tempfile

    from pdf_parser_spark.io import get_table_io

    owns_scratch = scratch_dir is None
    if owns_scratch:
        scratch_dir = tempfile.mkdtemp(prefix="near_dedup_shingles_")
    target = scratch_dir.rstrip("/") + "/shingles"
    io = get_table_io()
    try:
        io.write(shingles(df, n=n, id_col=id_col, text_col=text_col), target)
        sh = io.read(df.sparkSession, target)
        dup_pairs = near_dedup_pairs(
            df, n=n, threshold=threshold, num_hashes=num_hashes, bands=bands,
            id_col=id_col, text_col=text_col, sh=sh)
        # eager: the CC loop's per-round counts materialize dup_pairs into
        # localCheckpointed label frames (lineage cut from the scratch)
        clusters = dup_clusters(dup_pairs)
        if score_col is not None:
            return keep_best_from_pairs(df, dup_pairs, score_col,
                                        id_col=id_col, clusters=clusters)
        return keep_from_pairs(df, dup_pairs, id_col=id_col,
                               clusters=clusters)
    finally:
        if owns_scratch:
            shutil.rmtree(scratch_dir, ignore_errors=True)


def near_dedup_keep_best_docs(df: DataFrame, score_col: str, n: int = 3,
                              threshold: float = 0.5, num_hashes: int = 8,
                              bands: int = 4, id_col: str = "doc_id",
                              text_col: str = "text",
                              scratch_dir: str | None = None) -> DataFrame:
    """``near_dedup_keep_docs`` with the quality-aware keeper rule: the
    surviving member of each near-dup cluster is the one with the
    highest ``score_col`` (ties -> min id), not the min-id one. Same
    pipeline, same scratch-materialized single shingle pass — only the
    final survivor selection differs (``keep_best_from_pairs``)."""
    return near_dedup_keep_docs(
        df, n=n, threshold=threshold, num_hashes=num_hashes, bands=bands,
        id_col=id_col, text_col=text_col, scratch_dir=scratch_dir,
        score_col=score_col)


# -------------------------------------------------------------- simhash --


def incremental_dedup_keep(batch: DataFrame, history: DataFrame,
                           n: int = 3, threshold: float = 0.5,
                           num_hashes: int = 8, bands: int = 4,
                           id_col: str = "doc_id", text_col: str = "text",
                           history_bands: DataFrame | None = None,
                           history_fp: DataFrame | None = None) -> DataFrame:
    """Dedup a NEW ingest batch against an EXISTING corpus — the daily
    production shape: the historical corpus is never re-deduped, only
    probed. Returns the rows of ``batch`` (all columns) that are neither
    exact nor near duplicates of any ``history`` document.

    Two probe stages, both batch-sized (the history side contributes
    only its persisted fingerprint relations):

    1. **exact**: md5(canonical) anti-join against the history
       fingerprint set — one hash shuffle over the (small) batch plus a
       semi-join against the store.
    2. **near**: the batch's LSH band keys equi-join the history band
       store (``band_keys`` — in production written once per ingest and
       accumulated); collisions become (batch, history) candidate pairs
       verified by exact n-gram Jaccard (``jaccard_on_candidates``, so
       the shingle stream is pruned to candidate docs only — at steady
       state a vanishing fraction of either side).

    ``history_bands`` / ``history_fp`` accept the PRECOMPUTED store
    relations; when omitted they are derived from ``history`` (the
    small-scale / oracle path). At 100 TB the derived path would
    re-shingle the whole corpus per batch — callers must pass the
    persisted store, which is why both parameters exist.

    Within-batch duplicates are intentionally NOT removed here — that is
    ``near_dedup_keep_docs`` composed upstream; keeping the two steps
    separate means the expensive corpus-wide pass never reruns."""
    fp_expr = F.md5(canonical_text(text_col)).alias("fp")
    if history_fp is None:
        history_fp = history.select(fp_expr)
    exact_drop = (
        batch.select(F.col(id_col), fp_expr)
        .join(history_fp.select("fp"), "fp", "left_semi")
        .select(id_col)
    )
    if history_bands is None:
        history_bands = band_keys(history, num_hashes=num_hashes, bands=bands,
                                  n=n, id_col=id_col, text_col=text_col)
    batch_bands = band_keys(batch, num_hashes=num_hashes, bands=bands,
                            n=n, id_col=id_col, text_col=text_col)
    a, b = batch_bands.alias("a"), history_bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    corpus = (batch.select(id_col, text_col)
              .unionByName(history.select(id_col, text_col)))
    near_drop = (
        jaccard_on_candidates(cand, corpus, n=n, threshold=threshold,
                              id_col=id_col, text_col=text_col)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return batch.join(exact_drop.union(near_drop).distinct(),
                      id_col, "left_anti")


def simhash_signatures(df: DataFrame, bits: int = 32, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """SimHash over distinct tokens: token hash = first bits/4 hex chars
    of md5; signature bit b is set iff a strict majority of tokens have
    bit b set.

    Shape: one token explode (1× the token stream — NOT the tokens × bits
    explode of the naive form), md5 JVM-side, then a single
    ``groupBy(doc)`` whose aggregation list is ``bits`` conditional sums —
    all inside whole-stage codegen with map-side partial aggregation, so
    the shuffle carries bits+1 longs per document. (A fully row-local
    higher-order-function fold was tried and is ~17× slower: HOF lambdas
    are interpreted per element, outside codegen.)"""
    toks = (
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(canonical_tokens(text_col))
            ).alias("tok"))
        .withColumn(
            "h",
            F.conv(F.substring(F.md5("tok"), 1, bits // 4), 16, 10).cast("long"))
    )
    aggs = [
        F.sum(F.expr(f"shiftright(h, {b}) & 1")).alias(f"_b{b}")
        for b in range(bits)
    ] + [F.count(F.lit(1)).alias("_ntok")]
    per_doc = toks.groupBy(id_col).agg(*aggs)
    sig = None
    for b in range(bits):
        term = F.when(
            F.col(f"_b{b}") * 2 > F.col("_ntok"), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return per_doc.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(df: DataFrame, bits: int = 32, max_hamming: int = 1,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Pairs within Hamming distance `max_hamming` of their SimHash.

    Candidate generation uses a (max_hamming+1)-band pigeonhole join (two
    signatures differing in <= h bits must agree exactly on at least one
    of h+1 disjoint bands), so no cross join — the scale path. Exact
    Hamming distance then filters candidates."""
    n_bands = max_hamming + 1
    width = bits // n_bands
    mask = (1 << width) - 1
    sig = simhash_signatures(df, bits=bits, id_col=id_col, text_col=text_col)
    band = F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band")
    banded = sig.select(id_col, "simhash", band).withColumn(
        "bkey", F.expr(f"shiftright(simhash, cast(band * {width} as int)) & {mask}"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.simhash").alias("sig_a"),
                F.col("b.simhash").alias("sig_b"))
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("sig_a ^ sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
