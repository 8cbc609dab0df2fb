"""Link-graph operators: hyperlink extraction and PageRank.

The web-scale corpus primitives the HTML side of the north rule implies:
`extract_links` turns the raw HTML turns into an edge relation (the
link graph every crawl pipeline materializes), and `pagerank_converged`
runs the canonical iterative graph centrality over it — the classic
quality prior for crawl corpora (and the original reason MapReduce-style
engines exist). Extraction is one codegen regexp pass (the reference's
DOM tokenizer handles layout; links only need the anchor-tag grammar,
ref /root/reference/pdf_extractor_protocol.py HTML handling); PageRank
is the `dedup.connected_components` pattern — per-iteration bounded
driver traffic, rounded state at every boundary so an unrolled SQL
twin replays it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# anchor-tag grammar: double-quoted href, text up to the closing tag.
# No \s classes anywhere (the Java-vs-RE2 \x0B fork, dedup.WS_CHARS).
LINK_RE = '<a href="([^"]*)">([^<]*)</a>'


def extract_links(df: DataFrame, id_cols: tuple = ("conv_id", "turn_idx"),
                  text_col: str = "text") -> DataFrame:
    """Hyperlink edge extraction: one whole-stage-codegen projection —
    two `regexp_extract_all` group captures zipped and position-exploded
    into (id..., link_idx, href, anchor) rows. No DOM parse, no Python:
    the anchor-tag regex is the whole grammar, so a 100 TB crawl pays
    exactly one scan. Turns without links emit nothing."""
    hrefs = F.expr(f"regexp_extract_all({text_col}, '{LINK_RE}', 1)")
    anchors = F.expr(f"regexp_extract_all({text_col}, '{LINK_RE}', 2)")
    return (df.select(*id_cols,
                      F.posexplode(F.arrays_zip(hrefs.alias("h"),
                                                anchors.alias("a"))))
            .select(*id_cols,
                    F.col("pos").cast("long").alias("link_idx"),
                    F.col("col.h").alias("href"),
                    F.col("col.a").alias("anchor")))


# Case-insensitive absolute-http(s) test — (?i) is the one inline flag
# Java regex and RE2/DuckDB agree on, so the twin can reuse the pattern.
ABS_HTTP_RE = "(?i)^https?://"

# The generic second-level labels under which the registrable domain is
# one label deeper (news.example.CO.UK -> example.co.uk). A deliberately
# small embedded subset of the Mozilla Public Suffix List — the real
# list is data, not code, and plugs in as a longer tuple at call time.
GENERIC_SLD = ("co", "com", "net", "org", "gov", "ac", "edu")


def url_canonicalize(url) -> "F.Column":
    """Canonical URL form as ONE whole-stage-codegen expression chain —
    the C4/RefinedWeb-style normalization every crawl dedup/frontier
    keys on, with each step a cross-engine-safe regexp (no lookbehind,
    no lazy quantifiers — RE2-compatible so the DuckDB twin replays it):

      1. strip the fragment (`#...`)
      2. drop `utm_*` tracking params from the query (the part after
         the first `?`); the path is never touched, and a query left
         empty loses its `?`
      3. lowercase scheme://host[:port] (authority only — paths stay
         case-sensitive)
      4. strip the scheme's default port (:80 http, :443 https)
      5. collapse trailing slashes on a non-root path; empty path -> /

    Accepts a column or column name; returns the canonical-url column.
    """
    u = F.regexp_replace(url, "#.*$", "")
    base = F.regexp_extract(u, "^([^?]*)", 1)
    # "&" + query makes every param, the first included, "&name=..."
    query = F.regexp_replace(F.regexp_replace(
        F.concat(F.lit("&"), F.regexp_extract(u, "^[^?]*[?](.*)$", 1)),
        "&utm_[^&]*", ""), "^&", "")
    head = F.regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    path = base.substr(F.length(head) + F.lit(1), F.length(base))
    head = F.lower(head)
    head = F.regexp_replace(head, "^(http://[^:/]+):80$", "$1")
    head = F.regexp_replace(head, "^(https://[^:/]+):443$", "$1")
    path = F.when(path == "", F.lit("/")) \
        .otherwise(F.regexp_replace(path, "(.)/+$", "$1"))
    query = F.when(query == "", F.lit("")) \
        .otherwise(F.concat(F.lit("?"), query))
    return F.concat(head, path, query)


def url_host(url) -> "F.Column":
    """Hostname of an (already canonicalized, lowercase-scheme) URL —
    one regexp_extract, port and userinfo-free authority assumed."""
    return F.regexp_extract(url, "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)


def registrable_domain(host) -> "F.Column":
    """eTLD+1 grouping key: the last two host labels, or three when the
    second-to-last is a generic SLD from `GENERIC_SLD` (so
    blog.example.co.uk -> example.co.uk but news.example.com ->
    example.com). Pure array codegen — split + element_at + CASE."""
    labels = F.split(host, "[.]")
    n = F.size(labels)
    three = F.concat_ws(".", F.element_at(labels, -3),
                        F.element_at(labels, -2), F.element_at(labels, -1))
    two = F.concat_ws(".", F.element_at(labels, -2),
                      F.element_at(labels, -1))
    return (F.when((n >= 3) & F.element_at(labels, -2).isin(*GENERIC_SLD),
                   three)
            .when(n >= 2, two)
            .otherwise(host))


def domain_stats(df: DataFrame, id_cols: tuple = ("conv_id", "turn_idx"),
                 text_col: str = "text") -> DataFrame:
    """Per-registrable-domain curation profile of the OUTBOUND link
    graph — the C4/RefinedWeb move: before a crawl frontier or a
    domain blocklist exists, profile where the corpus points.

    One scan + ONE partial-agg shuffle: the href/anchor arrays and a
    per-turn source-quality scalar (the probe's length squash,
    nt/(nt+100) at 6dp) come out of the same codegen projection, the
    zip is position-exploded, relative links are dropped (no base URL
    to resolve against), and everything aggregates by
    `registrable_domain(url_canonicalize(href))`. The two countDistinct
    columns ride the same shuffle via Spark's Expand. Averages follow
    the repo's exact-integer-unit discipline (sums of 1e6/1-unit ints,
    floor(x+0.5) at the end) so the DuckDB twin is hash-exact.

    Output: (domain, n_links, n_urls, n_src_convs, dup_link_rate,
    avg_anchor_tokens, avg_src_len_sq)."""
    conv_col = id_cols[0]
    hrefs = F.expr(f"regexp_extract_all({text_col}, '{LINK_RE}', 1)")
    anchors = F.expr(f"regexp_extract_all({text_col}, '{LINK_RE}', 2)")
    nt = F.size(F.split(F.col(text_col), " "))
    len_sq = F.floor(nt / (nt + F.lit(100.0)) * 1e6 + F.lit(0.5)) \
        .cast("long")
    links = (df.select(F.col(conv_col).alias("src_conv"),
                       len_sq.alias("src_len_sq_u"),
                       F.posexplode(F.arrays_zip(hrefs.alias("h"),
                                                 anchors.alias("a"))))
             .select("src_conv", "src_len_sq_u",
                     F.col("col.h").alias("href"),
                     F.col("col.a").alias("anchor"))
             .filter(F.col("href").rlike(ABS_HTTP_RE)))
    canon = url_canonicalize(F.col("href"))
    rows = links.select(
        "src_conv", "src_len_sq_u",
        canon.alias("url"),
        registrable_domain(url_host(canon)).alias("domain"),
        F.size(F.split(F.col("anchor"), " ")).cast("long").alias("a_tok"))
    agg = rows.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("url").alias("n_urls"),
        F.countDistinct("src_conv").alias("n_src_convs"),
        F.sum("a_tok").alias("sum_a_tok"),
        F.sum("src_len_sq_u").alias("sum_len_sq_u"))
    return agg.select(
        "domain", "n_links", "n_urls", "n_src_convs",
        (F.floor((1.0 - F.col("n_urls") / F.col("n_links")) * 1e4
                 + F.lit(0.5)) / 1e4).alias("dup_link_rate"),
        (F.floor(F.col("sum_a_tok") / F.col("n_links") * 1e4
                 + F.lit(0.5)) / 1e4).alias("avg_anchor_tokens"),
        (F.floor(F.col("sum_len_sq_u") / F.col("n_links") + F.lit(0.5))
         / 1e6).alias("avg_src_len_sq"))


def blocklist_filter(df: DataFrame, blocked=None,
                     blocked_df: DataFrame | None = None,
                     id_cols: tuple = ("conv_id", "turn_idx"),
                     text_col: str = "text") -> DataFrame:
    """Drop turns that link to a blocked registrable domain.

    Two shapes, both corpus-shuffle-free:

    - ``blocked`` (an in-memory domain list — the common case; real
      blocklists are ~1e4 entries, trivially driver-sized): ZERO
      shuffle and zero join — one codegen `exists()` over the href
      array evaluating canonicalize→host→domain→IN per element, fused
      into the scan. The 100 TB corpus pays one projection.
    - ``blocked_df`` (a (domain) relation too big or too dynamic to
      inline): extract+canonicalize hit turns, broadcast the blocklist
      into the semi-join, then left_anti back on the id — the corpus
      side never shuffles; only the (id, domain) link slice moves.

    Turns without links (or with only relative links) always pass."""
    if (blocked is None) == (blocked_df is None):
        raise ValueError("pass exactly one of blocked / blocked_df")
    if blocked is not None:
        hrefs = F.expr(f"regexp_extract_all({text_col}, '{LINK_RE}', 1)")
        hit = F.exists(
            hrefs,
            lambda h: h.rlike(ABS_HTTP_RE)
            & registrable_domain(url_host(url_canonicalize(h)))
            .isin(*blocked))
        # NULL text -> NULL hit; coalesce so the turn passes (no links)
        return df.filter(~F.coalesce(hit, F.lit(False)))
    links = extract_links(df, id_cols=id_cols, text_col=text_col) \
        .filter(F.col("href").rlike(ABS_HTTP_RE))
    canon = url_canonicalize(F.col("href"))
    hits = (links.select(*id_cols,
                         registrable_domain(url_host(canon))
                         .alias("domain"))
            .join(F.broadcast(blocked_df), "domain")
            .select(*id_cols).distinct())
    return df.join(hits, list(id_cols), "left_anti")


def pagerank_converged(edges: DataFrame, max_iters: int = 20,
                       tol: float = 1e-6, d: float = 0.85,
                       src_col: str = "src",
                       dst_col: str = "dst") -> tuple:
    """PageRank with uniform teleport and dangling-mass redistribution,
    with per-iteration convergence reporting and early stop:

        r'(v) = (1-d)/N + d * (sum_{u->v} r(u)/outdeg(u) + D/N)

    where D is the total rank sitting on dangling nodes (no out-edges).
    Returns ``(ranks, deltas)`` where ``deltas[i]`` is the L1 distance
    Σ|r'(v) - r(v)| after iteration i+1. Iteration stops when the delta
    drops below ``tol`` or at ``max_iters``; ``tol=0`` runs exactly
    ``max_iters`` iterations, the form the gate's unrolled SQL twin
    replays.

    Distributed shape (the `connected_components` discipline): each
    iteration is ONE contribution shuffle keyed on dst — the edge
    relation joins the current ranks (broadcast when small, hash-join
    otherwise) and partially aggregates r/outdeg per dst; the dangling
    mass D and the delta are collected scalars summed as exact 1e-9
    integer units (ranks are 9dp-rounded state, so both are
    order-independent and engine-exact where a float sum would drift
    ulps into the boundary). Ranks are rounded 9dp at every iteration
    boundary — the `kmeans_refine` protocol that lets an UNROLLED SQL
    twin replay an iterative distributed algorithm hash-for-hash.
    State is localCheckpointed per iteration (lineage would otherwise
    double per round); each delta costs one extra bounded-size join
    over that checkpointed state. Duplicate edges count twice by design
    (parallel links = stronger endorsement); pre-`distinct` to change
    that."""
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    # materialize the edge relation ONCE: every iteration (plus the
    # node set and degree frame) re-reads it, so an expensive upstream
    # lineage — extract_links' regexp scan here — would otherwise
    # re-run every round (measured 11x wall at sf1 before this:
    # 102 s -> 9.3 s). At cluster scale this is "write the edge table
    # before iterating", which every graph engine does.
    edges = edges.localCheckpoint()
    nodes = (edges.select(F.col(src_col).alias("node"))
             .union(edges.select(F.col(dst_col).alias("node")))
             .distinct().localCheckpoint())
    n = nodes.count()
    deg = (edges.groupBy(F.col(src_col).alias("node"))
           .agg(F.count(F.lit(1)).alias("outdeg"))
           .localCheckpoint())
    ranks = nodes.select("node", F.round(F.lit(1.0 / n), 9).alias("r")) \
        .localCheckpoint()

    deltas: list[float] = []
    for _ in range(max_iters):
        nxt = _pagerank_iteration(
            nodes, edges, deg, ranks, d, n,
            src_col=src_col, dst_col=dst_col).localCheckpoint()
        units = (nxt.join(ranks.withColumnRenamed("r", "r_prev"), "node")
                 .agg(F.sum(F.abs(F.round(F.col("r") * 1e9)
                                  - F.round(F.col("r_prev") * 1e9))
                            .cast("long")).alias("u"))
                 .first()["u"]) or 0
        delta = float(units) / 1e9
        deltas.append(delta)
        ranks = nxt
        if delta < tol:
            break
    return ranks, deltas


def _pagerank_iteration(nodes: DataFrame, edges: DataFrame,
                        deg: DataFrame, ranks: DataFrame,
                        d: float, n: int, src_col: str = "src",
                        dst_col: str = "dst") -> DataFrame:
    """One un-checkpointed PageRank step (split out so the plan audit
    can assert the iteration's physical shape before the checkpoint
    collapses it to a Scan ExistingRDD)."""
    with_deg = ranks.join(deg, "node", "left")
    dangling = (with_deg.filter(F.col("outdeg").isNull())
                .agg(F.sum(F.round(F.col("r") * 1e9)
                           .cast("long")).alias("units"))
                .first()["units"]) or 0
    dmass = float(dangling) / 1e9
    contrib = (edges
               .join(with_deg.filter(F.col("outdeg").isNotNull()),
                     edges[src_col] == F.col("node"))
               .select(F.col(dst_col).alias("node"),
                       (F.col("r") / F.col("outdeg")).alias("c")))
    summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
    base = (1.0 - d) / n + d * (dmass / n)
    return (nodes.join(summed, "node", "left")
            .select("node",
                    F.round(F.lit(base)
                            + d * F.coalesce(F.col("s"), F.lit(0.0)),
                            9).alias("r")))


def hits_converged(edges: DataFrame, max_iters: int = 20,
                   tol: float = 1e-6, src_col: str = "src",
                   dst_col: str = "dst") -> tuple:
    """HITS hubs-and-authorities (Kleinberg 1999) — PageRank's
    bipartite sibling, the natural centrality for link graphs where
    sources and targets play different roles (conversations CITE
    section pages; pages are ENDORSED): per iteration, authority(v) =
    Σ hub(u) over u→v, then hub(u) = Σ authority(v) over u→v, each
    L1-normalized, starting from hub = 1/N.

    Returns ``(scores, deltas)`` with scores (node, hub, auth), both
    rounded 9dp, and ``deltas[i]`` the L1 distance of the HUB vector
    after full iteration i+1 (hub moves second, so its delta bounds the
    authority delta one half-step earlier). Iteration stops when the
    delta drops below ``tol`` or at ``max_iters``; ``tol=0`` runs
    exactly ``max_iters`` iterations, the form the gate's unrolled SQL
    twin replays.

    Same distributed discipline as `pagerank_converged`: edges/nodes
    materialized once, each half-step is ONE contribution shuffle, and
    the L1 normalizer and the delta are collected scalars summed as exact
    1e-9 integer units over the 9dp-rounded scores (order-independent,
    so the unrolled SQL twin replays every stage hash-for-hash)."""
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    edges = edges.localCheckpoint()
    nodes = (edges.select(F.col(src_col).alias("node"))
             .union(edges.select(F.col(dst_col).alias("node")))
             .distinct().localCheckpoint())

    def _normalize(scores: DataFrame, col: str) -> DataFrame:
        units = (scores.agg(F.sum(F.round(F.col(col) * 1e9)
                                  .cast("long")).alias("u"))
                 .first()["u"]) or 0
        s = float(units) / 1e9
        if s == 0.0:
            return scores
        return scores.select("node",
                             F.round(F.col(col) / s, 9).alias(col))

    def _step(scores: DataFrame, score_col: str, key_in: str,
              key_out: str, out_col: str) -> DataFrame:
        raw = (edges.join(scores, edges[key_in] == F.col("node"))
               .groupBy(F.col(key_out).alias("n2"))
               .agg(F.sum(score_col).alias("raw")))
        nine = (nodes.join(raw, nodes["node"] == F.col("n2"), "left")
                .select("node",
                        F.round(F.coalesce(F.col("raw"), F.lit(0.0)), 9)
                        .alias(out_col)))
        return _normalize(nine, out_col).localCheckpoint()

    h = nodes.select("node", F.lit(1.0).alias("hub"))
    h = _normalize(h, "hub").localCheckpoint()
    a = None
    deltas: list[float] = []
    for _ in range(max_iters):
        a = _step(h, "hub", src_col, dst_col, "auth")
        nxt = _step(a, "auth", dst_col, src_col, "hub")
        units = (nxt.join(h.withColumnRenamed("hub", "h_prev"), "node")
                 .agg(F.sum(F.abs(F.round(F.col("hub") * 1e9)
                                  - F.round(F.col("h_prev") * 1e9))
                            .cast("long")).alias("u"))
                 .first()["u"]) or 0
        delta = float(units) / 1e9
        deltas.append(delta)
        h = nxt
        if delta < tol:
            break
    return h.join(a, "node").select("node", "hub", "auth"), deltas
