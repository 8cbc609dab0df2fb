"""Corpus scrubbing + deterministic sampling operators.

Training-data pipelines run these between quality filtering and
tokenization: PII redaction (emails / IPv4s / phone-shaped numbers →
typed placeholder tokens) and reproducible hash-based sampling (exact
re-runnable subsets — `rand()`-based sampling cannot be resumed or
audited, a hash rule can). Document-granularity siblings of the
reference's per-block text predicates (keyword scan
/root/reference/A003_colored_footer.py:199-210); the reference has no
cross-corpus ops (SURVEY.md §2.8), so these are north-rule additions.

Everything is built-in `pyspark.sql.functions` expressions — JVM-side,
whole-stage-codegen, zero Python, zero shuffle (both operators are pure
per-row maps/filters; plan-asserted in PLANS.md). Patterns deliberately
use only constructs where Java regex (Spark) and RE2 (DuckDB oracle)
agree: character classes, bounded/greedy quantifiers, `\b` — no
alternation or nested optionals whose leftmost-first vs leftmost-longest
semantics could diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.corpus.dedup import canonical_tokens

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
# \b sits AFTER the optional plus (a "+" preceded by a space has no word
# boundary before it) and bounds both digit ends, so phone-shaped
# substrings inside longer digit runs (card numbers: 4111-111-1111) are
# rejected instead of partially redacted.
PHONE_RE = r"\+?\b\d{2,3}[- ]\d{3}[- ]\d{4}\b"

EMAIL_TOKEN = "<EMAIL>"
IPV4_TOKEN = "<IP>"
PHONE_TOKEN = "<PHONE>"

# Hash-sampling keyspace: first 8 md5 hex digits as a uint32.
_KEYSPACE = 1 << 32


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact PII-shaped spans to typed placeholder tokens and count them.

    Order matters and is part of the contract: emails first (their
    domains contain dot-separated runs an IP pattern could nibble), then
    IPv4s, then phone-shaped numbers — each count is taken on the text
    as it stands at that stage, so the three counts partition the
    redacted spans (no span is counted twice). Output: the input row
    with ``text`` replaced by the scrubbed text plus
    ``n_emails / n_ips / n_phones``.

    Pure per-row regexp built-ins — zero Python, zero shuffle; at 100 TB
    this fuses into whatever scan→filter stage precedes tokenization."""
    t0 = F.col(text_col)
    n_emails = F.regexp_count(t0, F.lit(EMAIL_RE))
    t1 = F.regexp_replace(t0, EMAIL_RE, EMAIL_TOKEN)
    n_ips = F.regexp_count(t1, F.lit(IPV4_RE))
    t2 = F.regexp_replace(t1, IPV4_RE, IPV4_TOKEN)
    n_phones = F.regexp_count(t2, F.lit(PHONE_RE))
    t3 = F.regexp_replace(t2, PHONE_RE, PHONE_TOKEN)
    return df.withColumns({
        text_col: t3,
        "n_emails": n_emails,
        "n_ips": n_ips,
        "n_phones": n_phones,
    })


def sample_key(key_col: str = "doc_id", salt: str = "") -> F.Column:
    """Deterministic uniform key in [0, 2^32): first 8 md5 hex digits of
    ``key:salt``. The same expression exists verbatim in ANSI SQL, so
    sampling decisions are auditable and reproducible across engines."""
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def stratified_sample(df: DataFrame, fractions: dict,
                      strata_col: str = "lang",
                      key_col: str = "doc_id",
                      default_fraction: float = 0.0,
                      salt: str = "") -> DataFrame:
    """Per-stratum deterministic sampling — the data-mixture primitive:
    ``fractions`` maps stratum value → keep fraction (strata absent from
    the map get ``default_fraction``, so ``fractions={}`` is a uniform
    sample). A row is kept when its ``sample_key`` falls below its
    stratum's fraction of the keyspace. Unlike ``df.sample()`` (seeded
    per-partition RNG — resplitting the input changes the sample), the
    kept set is a pure function of the row key: stable under
    repartitioning, resumable, and exactly reproducible by any engine;
    change ``salt`` to draw an independent sample. The per-stratum
    threshold compiles to one CASE expression: zero shuffle, fused into
    the scan (no per-stratum passes)."""
    thr = F.lit(int(default_fraction * _KEYSPACE))
    for value, frac in sorted(fractions.items()):
        thr = F.when(F.col(strata_col) == value,
                     F.lit(int(frac * _KEYSPACE))).otherwise(thr)
    return df.filter(sample_key(key_col, salt) < thr)


def leakage_safe_split(df: DataFrame, val_frac: float = 0.1,
                       test_frac: float = 0.1,
                       pairs: DataFrame | None = None,
                       threshold: float = 0.5,
                       key_col: str = "doc_id", text_col: str = "text",
                       salt: str = "split") -> DataFrame:
    """Train/val/test assignment by duplicate FAMILY, not by document —
    the leakage-safe split every pretraining eval depends on: under
    `split_assign`'s per-document hash, a near-duplicate of a test
    document lands in train with probability ~(1 - test_frac) and the
    eval silently measures memorization (Lee et al. 2021 measured
    exactly this). Here connected near-dup components (`dup_clusters`
    over `near_dedup_pairs`, or caller-supplied ``pairs``) are banded
    as a UNIT: the split key is the family id (component min-id;
    singletons are their own family), so every member of a family gets
    the same label by construction.

    Scale shape: the pair/cluster stages are the bucketed near-dedup
    pipeline (no all-pairs anywhere); the family attach is one left
    join against the O(duplicate docs) cluster frame (AQE-sized, same
    class as `keep_from_pairs`' anti-join); the banding itself is the
    zero-shuffle md5 rule of `split_assign`, applied to the family
    column. Emits (key, family, split)."""
    from pdf_parser_spark.corpus.dedup import dup_clusters, near_dedup_pairs

    if pairs is None:
        pairs = near_dedup_pairs(df, threshold=threshold,
                                 id_col=key_col, text_col=text_col)
    clusters = dup_clusters(pairs).select(
        F.col("doc_id").alias(key_col), F.col("cluster_id"))
    fam = (df.select(key_col)
           .join(clusters, key_col, "left")
           .select(F.col(key_col),
                   F.coalesce("cluster_id", key_col).alias("family")))
    return split_assign(fam, val_frac, test_frac, key_col="family",
                        salt=salt)


def mixture_sample(df: DataFrame, shares: dict, budget_frac: float,
                   strata_col: str = "lang", key_col: str = "doc_id",
                   text_col: str = "text",
                   salt: str = "mix") -> DataFrame:
    """Budget-driven mixture resampling: keep a deterministic subset
    whose per-stratum TOKEN mass approximates a target mixture — the
    rebalancing step (DoReMi / data-mixture tuning lineage) that
    `stratified_sample` can't express, because there the caller fixes
    keep-FRACTIONS a priori while here the keep fractions are DERIVED
    from the measured corpus: with total token mass ``T``, budget
    ``B = floor(budget_frac * T)`` and per-stratum mass ``tok_s``, each
    stratum keeps ``p_s = min(1, floor(share_s * B) / tok_s)`` of its
    documents by the md5-keyspace rule (strata absent from ``shares``
    keep nothing). Tokens are the canonical whitespace tokens with the
    1-token empty-doc floor (the `pack_sequences` contract).

    Two passes by necessity (thresholds are a function of global
    masses): pass 1 is a partial-agg rollup to ONE long per stratum;
    pass 2 re-scans with the thresholds joined back via a broadcast of
    the n_strata-row frame — corpus rows never shuffle in either pass,
    so at 100 TB this costs two scans and moves kilobytes. The
    threshold arithmetic (exact int64 masses; double ops in a pinned
    order: ``floor(least(1, floor(share*B)/tok_s) * 2^32)``) is
    IEEE-correctly-rounded identically in any engine; pass
    binary-fraction shares (0.5, 0.25, ...) so ``share*B`` is exact.

    Emits the kept rows of ``df`` plus ``n_tokens`` — downstream
    packing/tokenization consumes the mixture directly."""
    ntok = F.size(canonical_tokens(text_col)).cast("long")
    base = df.withColumn("n_tokens", ntok)
    masses = (base.groupBy(F.col(strata_col).alias("_s"))
              .agg(F.sum("n_tokens").alias("_tok_s")))
    total = masses.agg(F.sum("_tok_s").alias("_T"))
    # default share is an explicit 0.0, NOT null: least()/greatest()
    # IGNORE nulls in both Spark and DuckDB, so a null share would
    # silently become p=1 inside least(1.0, null/tok) and absent
    # strata would be fully kept instead of dropped.
    share = F.lit(0.0)
    for value, sh in sorted(shares.items()):
        share = F.when(F.col("_s") == value, F.lit(float(sh))) \
            .otherwise(share)
    budget = F.floor(F.lit(float(budget_frac)) * F.col("_T"))
    target = F.floor(share * budget)
    thr = (masses.crossJoin(F.broadcast(total))
           .select("_s",
                   F.floor(F.least(F.lit(1.0),
                                   target / F.col("_tok_s"))
                           * F.lit(float(_KEYSPACE)))
                   .alias("_thr")))
    return (base.join(F.broadcast(thr),
                      base[strata_col] == thr["_s"], "inner")
            .filter(sample_key(key_col, salt) < F.col("_thr"))
            .drop("_s", "_thr"))


def split_assign(df: DataFrame, val_frac: float = 0.01,
                 test_frac: float = 0.01, key_col: str = "doc_id",
                 salt: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment — the other sampling
    primitive every training pipeline needs: the held-out sets must stay
    IDENTICAL across reruns, repartitions, and engines or eval numbers
    silently drift. Same md5-keyspace rule as `stratified_sample`:
    the lowest ``val_frac`` of the keyspace is `val`, the next
    ``test_frac`` is `test`, the rest `train`. Pure codegen projection,
    zero shuffle; change ``salt`` to redraw the split."""
    key = sample_key(key_col, salt)
    v = int(val_frac * _KEYSPACE)
    # Band edge computed as int((val+test)*K), NOT int(val*K)+int(test*K):
    # the two differ by one keyspace value for most fraction pairs (each
    # int() truncates separately), and the DuckDB twin + tests pin the
    # summed form — a key landing exactly on the seam would otherwise be
    # 'train' here and 'test' there.
    t = int((val_frac + test_frac) * _KEYSPACE)
    return df.withColumn(
        "split",
        F.when(key < v, "val").when(key < t, "test").otherwise("train"))


def weighted_sample(df: DataFrame, weight_col: str, k: int,
                    key_col: str = "doc_id",
                    salt: str = "ws") -> DataFrame:
    """Distributed weighted sampling WITHOUT replacement
    (Efraimidis & Spirakis 2006): each row draws a deterministic
    uniform u from the md5 keyspace and the sample is the k smallest
    exponential keys ``-ln(u) / w`` — exactly equivalent to drawing k
    rows one at a time with probability proportional to ``w``, but
    embarrassingly parallel: no sequential pass, no global state, just
    one TakeOrderedAndProject (per-partition heap of k, driver merge
    of k-row partials — the `unigram_surprisal` top-V shape). The
    data-mixture primitive `mixture_sample` rate-scales strata with;
    this one hits an exact COUNT with per-row weights (e.g. sample
    100k documents proportional to quality score or token count).

    Determinism contract: u = (first 13 md5 hex digits + 1) / 2^52 —
    never zero, EXACT in a double (52 bits fit the mantissa, so the
    int->double conversion cannot round differently anywhere),
    reproducible under any repartitioning, and the same expression
    exists verbatim in SQL. The es key is rounded 9dp
    before ranking (ln is the one libm call; engines differ at the
    ulp) with the id as tiebreak. Rows with NULL or non-positive
    weight are excluded (zero weight = never sampled, the E-S
    convention). Output: the sampled rows + their ``es_key``."""
    h = F.md5(F.concat(F.col(key_col).cast("string"),
                       F.lit(":" + salt)))
    u = ((F.conv(F.substring(h, 1, 13), 16, 10).cast("double") + 1.0)
         / float(1 << 52))
    es = F.round(-F.log(u) / F.col(weight_col).cast("double"), 9)
    return (df.filter(F.col(weight_col).isNotNull()
                      & (F.col(weight_col) > 0))
            .withColumn("es_key", es)
            .orderBy(F.col("es_key").asc(), F.col(key_col).asc())
            .limit(k))


def temperature_mixture(df: DataFrame, tau: float = 0.7,
                        strata_col: str = "lang",
                        key_col: str = "doc_id",
                        text_col: str = "text",
                        salt: str = "temp") -> DataFrame:
    """Temperature-based mixture UPSAMPLING (the multilingual/LLaMA
    data-mixing move): reweight strata to ``p_s^tau`` (renormalized) at
    constant total token mass, so tau<1 upsamples small strata WITH
    REPETITION and downsamples the head — the half `mixture_sample`
    cannot express (it only keeps subsets; epoch-level repetition needs
    document COPIES). Each document emits

        repeats = floor(f_s) + [u < frac(f_s)]

    copies, where ``f_s = (w_s / W) / p_s`` is the stratum's mass
    expansion factor and u is the md5-keyspace uniform, so expected
    per-stratum mass is exactly ``f_s * mass_s`` and the realization is
    deterministic under any repartitioning.

    Engine parity: f_s passes through one exp(tau * ln p) libm call,
    rounded 9dp (weights) and 6dp (factors) at the stage boundaries;
    the normalizer W sums 9dp weights as exact integer units; the
    fractional coin compares the integer u against floor(frac * 2^32).
    Scale shape: stratum stats are one tiny partial-agg, factors join
    back broadcast, and the expansion is explode(sequence(1, repeats))
    — corpus rows never shuffle. Output: one row per (document, copy),
    copy_idx starting at 1; repeats=0 documents drop."""
    from pyspark.sql.window import Window

    ntok = F.size(canonical_tokens(text_col)).cast("long")
    g = (df.select(F.col(strata_col).alias("s"), ntok.alias("nt"))
         .groupBy("s").agg(F.sum("nt").alias("m")))
    wall = Window.partitionBy()
    p = F.col("m").cast("double") / F.sum("m").over(wall).cast("double")
    w = F.round(F.exp(F.lit(float(tau)) * F.log(p)), 9)
    # "wsum", not "W": Spark column names are case-insensitive by
    # default, so a "W" column silently REPLACES "w"
    factors = (g.withColumn("w", w)
               .withColumn("wsum", F.sum(F.round(F.col("w") * 1e9)
                                         .cast("long")).over(wall)
                           .cast("double") / 1e9)
               .withColumn("f", F.round(
                   (F.col("w") / F.col("wsum"))
                   / (F.col("m").cast("double")
                      / F.sum("m").over(wall).cast("double")), 6))
               .select("s", "f"))
    u = sample_key(key_col, salt)
    frac = F.col("f") - F.floor(F.col("f"))
    repeats = (F.floor(F.col("f")).cast("long")
               + (u < F.floor(frac * F.lit(float(1 << 32)))
                  .cast("long")).cast("long"))
    return (df.join(F.broadcast(factors),
                    df[strata_col] == F.col("s"))
            .withColumn("repeats", repeats)
            .filter(F.col("repeats") >= 1)
            .select(key_col, strata_col, "repeats",
                    F.explode(F.expr("sequence(1, repeats)"))
                    .alias("copy_idx"))
            .withColumn("copy_idx", F.col("copy_idx").cast("long")))
