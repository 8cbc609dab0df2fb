"""Similarity search over an embedding column (`array<float>`).

* brute-force cosine top-k — the correctness baseline; the query vector is
  a one-row broadcast side, so the "join" is a broadcast nested loop with
  no shuffle of the big side.
* IVF over a sampled spherical k-means codebook — the ANN scale path:
  every vector is assigned to its nearest centroid (broadcast codebook,
  map-side), and a probe-N search scans only the N cells closest to the
  query; SQ8 codes cut the bytes each scanned candidate costs.
* random-hyperplane LSH buckets — each vector projects onto
  `LSH_PLANES` deterministic ±1 hyperplanes (signs derived from md5, so
  Spark and DuckDB compute identical buckets).
* cosine near-duplicate pairs — embedding-space dedup; at corpus scale the
  pair generation goes through the LSH buckets or the k-means cells
  (join on bucket / cell), never a full cross join.

All cosine/score arithmetic is promoted to double before any sum, and the
SQL paths use an explicit left-fold so summation order (and therefore the
rounded score) is bit-stable across engines. Two documented exceptions:
(1) `lsh_buckets` projects with a BLAS matmul whose reassociated sums can,
for a projection within float-reassociation distance of 0, flip a `> 0`
sign bit vs the oracle's sequential sum — accepted because the matmul is
the measured 2.3× scale win, a hyperplane LSH bucket is itself a
probabilistic structure (a hair-off-zero projection is a coin flip in
either engine), and the gates pass on real data; (2) `centroid_by_label`
aggregates with partial-agg `avg`, whose summation order depends on the
partitioning — the order-stable alternative (collect every member value
per (label, dim) and fold) would shuffle raw vector volume instead of
group summaries, defeating the operator's scale shape, so a (label, dim)
mean sitting within reassociation distance of a 0.5e-6 rounding boundary
could flip its 6dp digit vs DuckDB's sequential avg. Scores everywhere
are rounded (4dp/6dp) for oracle hashing.
"""

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pdf_parser_spark.pyworker import python_task

# Left-fold dot product in array order: deterministic summation order, so
# DuckDB's list-ordered sum matches exactly.
_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)")
_NORM = ("sqrt(aggregate({a}, cast(0.0 as double), "
         "(acc, v) -> acc + cast(v as double) * cast(v as double)))")


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the L2 norm AND drop rows that cannot participate in
    cosine scoring: null / empty / all-zero embeddings. Without the
    guard one zero-norm vector (failed embedding jobs commonly emit
    them) turns every cosine into a division by zero — which under
    Spark 4's default ANSI mode is not a NaN but a job-killing
    SparkArithmeticException — and a null embedding's NULL scores
    degenerate max_by-style argmax picks (ivf_assign was flooding cell
    0 with junk rows). Exclusion is the principled semantics: such
    vectors have no direction, so no similarity query can rank them."""
    return (df.filter(F.col(vec_col).isNotNull()
                      & (F.size(F.col(vec_col)) > 0))
            .withColumn("norm", F.expr(_NORM.format(a=vec_col)))
            .filter(F.col("norm") > 0))


def cosine(a: str, b: str, norm_a: str, norm_b: str) -> F.Column:
    return F.expr(_DOT.format(a=a, b=b)) / (F.col(norm_a) * F.col(norm_b))


def brute_topk(df: DataFrame, query_id: int = 0, k: int = 10,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k against the vector with id `query_id`.

    Plan shape: broadcast the single query row; score every vector JVM-side
    (zip_with/aggregate fold, no Python); rank with a deterministic
    (score desc, id asc) tie-break. One global top-k = TakeOrdered, no full
    sort at scale."""
    base = with_norm(df, vec_col)
    q = (base.filter(F.col(id_col) == query_id)
         .select(F.col(vec_col).alias("qvec"), F.col("norm").alias("qnorm")))
    scored = (
        base.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(cosine(vec_col, "qvec", "norm", "qnorm"), 4).alias("score"),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


# Hyperplanes per LSH bucket id (2^8 buckets). The DuckDB oracle's
# `_LSH_CTES` projects onto the same planes 0..7.
LSH_PLANES = 8


def _plane_signs(dims: int) -> list:
    """The deterministic ±1 hyperplane matrix: sign(p, d) = +1 iff the
    first hex char of md5('p<p>d<d>') is in 0..7 — the exact derivation
    the DuckDB oracle twin uses, computed once per vector width
    (LSH_PLANES × dims scalars) instead of per row."""
    import hashlib

    return [
        [1.0 if hashlib.md5(f"p{p}d{d}".encode()).hexdigest()[0] in "01234567"
         else -1.0 for d in range(dims)]
        for p in range(LSH_PLANES)
    ]


def lsh_buckets(df: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane LSH bucket per vector.

    Bucket = sum over the `LSH_PLANES` planes of (projection > 0) << p.
    The whole batch's projections are ONE NumPy matmul ``X @ S.T`` inside
    an Arrow-batched pandas UDF — row-local, no explode, no shuffle (the
    naive form blew every vector into dims × planes rows through two
    aggregations; a pure-SQL higher-order fold is interpreted per element
    and ~2× slower than this matmul). The sign matrix is built lazily per
    vector width (same md5 derivation), ragged batches fall back to
    per-row products, and null or EMPTY
    embeddings are excluded up front (matching the exploded form, which
    emitted no rows for either — a zero-length array has no dims to unnest,
    and letting it through would mint a bucket-0 row the oracle lacks and
    a NaN-score candidate downstream)."""
    signs_cache = {}
    weights = (1 << np.arange(LSH_PLANES)).astype(np.int64)

    def _signs_t(d: int):
        if d not in signs_cache:
            signs_cache[d] = np.array(_plane_signs(d), dtype=np.float64).T
        return signs_cache[d]

    @pandas_udf("long")
    @python_task
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="int64")
        arrs = vecs.to_numpy()
        lens = {len(a) for a in arrs}
        if len(lens) == 1:
            x = np.stack(arrs).astype(np.float64)
            proj = x @ _signs_t(x.shape[1])
            return pd.Series((proj > 0) @ weights)
        return pd.Series([
            int(((np.asarray(a, dtype=np.float64) @ _signs_t(len(a))) > 0)
                @ weights)
            for a in arrs
        ], dtype="int64")

    return (
        df.filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
        .select(F.col(id_col), bucket_udf(F.col(vec_col)).alias("bucket"))
    )


def batch_topk(df: DataFrame, queries: DataFrame, k: int = 10,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k for a BATCH of queries in one corpus pass —
    the production retrieval shape (dedup audits, eval-set contamination
    lookups, hard-negative mining all arrive as query sets, not single
    vectors). ``queries`` is a (id, vector) frame small enough to
    broadcast (thousands, not millions — it rides a broadcast join);
    corpus rows matching a query's own id are excluded, mirroring
    `brute_topk`.

    Distributed shape, and why there are two top-k stages: scoring is a
    broadcast nested-loop (corpus vectors never shuffle) with the exact
    left-fold dot product, rounded to 4dp BEFORE ranking so both engines
    rank the same numbers. A naive per-query window would then shuffle
    all N×Q scored triples; instead a `mapInPandas` pass reduces each
    input partition to its LOCAL top-k per query (the (score desc, id
    asc) order is total, so per-partition truncation provably preserves
    the global top-k), and only parts×Q×k triples reach the final
    window. At 1000 executors × 10k queries × k=10 that is the
    difference between shuffling the whole scored cross product and a
    few hundred MB."""
    qn = (with_norm(queries, vec_col)
          .select(F.col(id_col).alias("query_id"),
                  F.col(vec_col).alias("qvec"),
                  F.col("norm").alias("qnorm")))
    scored = (
        with_norm(df, vec_col)
        .crossJoin(F.broadcast(qn))
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col,
                F.round(cosine(vec_col, "qvec", "norm", "qnorm"), 4)
                .alias("score")))

    out_schema = f"query_id long, {id_col} long, score double"

    @python_task
    def local_topk(it):
        frames = []
        for pdf in it:
            if len(pdf):
                frames.append(
                    pdf.sort_values(["score", id_col],
                                    ascending=[False, True], kind="mergesort")
                    .groupby("query_id", sort=False).head(k))
        if frames:
            merged = pd.concat(frames, ignore_index=True)
            yield (merged.sort_values(["score", id_col],
                                      ascending=[False, True],
                                      kind="mergesort")
                   .groupby("query_id", sort=False).head(k))

    local = scored.mapInPandas(local_topk, out_schema)
    from pyspark.sql.window import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc())
    return (local.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", id_col, "score"))


def _hash_sample(df: DataFrame, sample_cap: int, id_col: str,
                 vec_col: str) -> "np.ndarray":
    """THE codebook sampling contract, in one place: filter null/empty,
    order by (xxhash64(id), id), cap, collect. `orderBy+limit` compiles
    to TakeOrdered (per-partition heap + driver merge — no full sort)
    and the collect is bounded by ``sample_cap`` regardless of corpus
    size. tools/annoracle.kmeans_centroids reproduces this byte-for-byte
    without Spark (pandas + a pure-Python xxhash64 twin) for the oracle
    gates — any change here must land there too (and is caught by
    tests/test_corpus.py::test_annoracle_codebook_matches_engine)."""
    rows = (
        df.filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
        .select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc())
        .limit(sample_cap)
        .collect()
    )
    return np.array([r[vec_col] for r in rows], dtype=np.float64)


def kmeans_codebook(df: DataFrame, n_centroids: int = 16, iters: int = 10,
                    sample_cap: int = 4096, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> list:
    """Driver-side spherical k-means codebook over a deterministic sample.

    The production IVF recipe: sample a bounded, hash-ordered subset
    (``orderBy(xxhash64(id)).limit(cap)`` compiles to TakeOrdered — a
    per-partition heap + driver merge, no full sort, and the collect is
    bounded by ``sample_cap`` regardless of corpus size), run Lloyd
    iterations in NumPy on the driver (k x dims x cap flops — trivial),
    and broadcast the k x dims codebook back for map-side assignment.
    Deterministic end to end: hash-ordered sample, first-k init, argmax
    ties toward the lower centroid index, empty clusters keep their
    previous centroid. Returns a list of unit-norm centroid vectors."""
    x = _hash_sample(df, sample_cap, id_col, vec_col)
    return lloyd_spherical(x, n_centroids, iters)


def lloyd_spherical(x: "np.ndarray", n_centroids: int, iters: int) -> list:
    """The pure-NumPy Lloyd step of `kmeans_codebook`, factored out so
    the DuckDB oracle generator can derive the IDENTICAL codebook from
    the same sample (pandas parquet read + the pure-Python xxhash64
    twin in tools/annoracle.py) and embed it as SQL literals — which is
    what upgrades the k-means ANN gates from rows-only to full
    value-hash checks."""
    if len(x):
        norms = np.linalg.norm(x, axis=1)
        x = x[norms > 0] / norms[norms > 0, None]
    if not len(x):
        return []  # no vector has a direction, so there are no cells
    k = min(n_centroids, len(x))
    cents = x[:k].copy()
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)  # ties -> lower index
        moved = False
        for c in range(k):
            members = x[assign == c]
            if not len(members):
                continue  # empty cluster keeps its previous centroid
            m = members.mean(axis=0)
            n = np.linalg.norm(m)
            if n > 0:
                newc = m / n
                if not np.allclose(newc, cents[c]):
                    cents[c] = newc
                    moved = True
        if not moved:
            break
    return [[float(v) for v in c] for c in cents]


def kmeans_refine(df: DataFrame, codebook: list, iters: int = 2,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> tuple:
    """Distributed Lloyd refinement over the FULL corpus — the step
    after `kmeans_codebook`: the sampled driver-side codebook seeds it,
    then each iteration re-assigns every vector and recomputes the
    centroids from all members, not just the sample (Spark MLlib's
    KMeans runs exactly this loop shape).

    Per-iteration plan: assignment is a pure map — the k×d codebook is
    a LITERAL array-of-arrays in the plan, each row computes its k
    rounded fold-dot scores and takes `array_position(scores,
    array_max(scores))` (first match ⇒ ties toward the lower centroid
    id, `lloyd_spherical`'s np.argmax rule) — so NO N×k frame ever
    exists and the big side never shuffles. The update is one
    posexplode → (cell, dim) partial-agg exchange carrying at most
    k×d group summaries per map task (`centroid_by_label`'s shape),
    and the driver collects exactly k×d (mean, count) scalars to build
    the next codebook — the same bounded-collect class as
    `kmeans_codebook` itself. At 100 TB each iteration is one scan +
    one kilobyte-scale exchange.

    Cross-engine contract (the gate runs an UNROLLED SQL twin of the
    same iterations): scores round to 6dp before argmax; per-dim means
    round to 6dp after the distributed avg (the `centroid_by_label`
    reassociation caveat applies at the rounding boundary); the
    renormalization runs over the rounded means in dim order; unit
    components round to 6dp again. Empty cells and zero-norm means
    keep their previous centroid. Returns (centroids, member_counts)
    after ``iters`` iterations."""
    import math

    cents = [[float(v) for v in c] for c in codebook]
    counts = [0] * len(cents)
    base = with_norm(df, vec_col)
    for _ in range(iters):
        rows = _refine_update_frame(base, cents, vec_col).collect()
        by_cell: dict = {}
        for r in rows:
            by_cell.setdefault(r.cell, {})[r.dim] = (r.m, r.cnt)
        counts = [0] * len(cents)
        for c in range(len(cents)):
            dims = by_cell.get(c)
            if not dims:
                continue  # empty cell keeps its previous centroid
            counts[c] = dims[0][1]
            m = [dims[d][0] for d in range(len(cents[c]))]
            norm = math.sqrt(sum(v * v for v in m))
            if norm > 0:
                cents[c] = [round(v / norm, 6) for v in m]
    return cents, counts


def _refine_update_frame(base: DataFrame, cents: list,
                         vec_col: str = "embedding") -> DataFrame:
    """One Lloyd iteration's distributed work as a frame: assign each
    row to its argmax cell against the LITERAL codebook, posexplode the
    unit vector, and partial-agg the per-(cell, dim) means — at most
    k×d summary rows cross the single exchange. Factored out so
    tools/plan_audit.py can assert the shape `kmeans_refine` collects."""
    cents_lit = F.array(*[
        F.array(*[F.lit(float(v)) for v in c]) for c in cents])
    # nullif keeps the division ANSI-safe: InferFiltersFromGenerate
    # clones this expression into a predicate inferred from the
    # posexplode below and evaluates it on rows the norm>0 filter
    # would reject — with a bare `/ norm` a zero-norm row throws
    # DIVIDE_BY_ZERO from inside the inferred filter. nullif turns
    # that evaluation into a null array the filter drops instead.
    u = F.expr(f"transform({vec_col}, v -> cast(v as double) "
               "/ nullif(norm, cast(0.0 as double)))")
    return (base
            .withColumn("_u", u)
            .withColumn("_cents", cents_lit)
            .withColumn("_sc", F.expr(
                "transform(_cents, c -> round(aggregate("
                "zip_with(_u, c, (x, y) -> x * y), "
                "cast(0.0 as double), (acc, v) -> acc + v), 6))"))
            .withColumn("cell",
                        (F.array_position("_sc", F.array_max("_sc"))
                         - 1).cast("int"))
            .select("cell", F.posexplode("_u").alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg(F.round(F.avg("val"), 6).alias("m"),
                 F.count(F.lit(1)).alias("cnt")))


def kmeans_refine_df(df: DataFrame, iters: int = 2,
                     n_centroids: int = 16,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Gate surface for `kmeans_refine`: seed with the production
    sampled-k-means codebook and emit the refined centroids as a k-row
    frame (centroid_id, n_members, centroid) — driver-resident by
    construction (k×d scalars)."""
    cb = kmeans_codebook(df, n_centroids=n_centroids,
                         id_col=id_col, vec_col=vec_col)
    cents, counts = kmeans_refine(df, cb, iters=iters,
                                  id_col=id_col, vec_col=vec_col)
    return df.sparkSession.createDataFrame(
        [(i, counts[i], cents[i]) for i in range(len(cents))],
        "centroid_id long, n_members long, centroid array<double>")


def _ivf_parts(df: DataFrame, n_centroids: int, id_col: str, vec_col: str,
               codebook: list | None):
    """Shared IVF building blocks: (normed base, centroid set, assignment)
    — computed once so ivf_assign/ivf_topk don't replan the norms or the
    codebook twice. The cells are ``codebook``, or when it is None the
    sampled k-means codebook `kmeans_codebook(df, n_centroids)`."""
    if codebook is None:
        codebook = kmeans_codebook(df, n_centroids=n_centroids,
                                   id_col=id_col, vec_col=vec_col)
    base = with_norm(df, vec_col)
    cents = with_norm(
        df.sparkSession.createDataFrame(
            [(i, c) for i, c in enumerate(codebook)],
            "centroid_id long, cvec array<double>"),
        "cvec").select("centroid_id", "cvec", F.col("norm").alias("cnorm"))
    scored = (
        base.crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col), F.col("centroid_id"),
            F.round(cosine(vec_col, "cvec", "norm", "cnorm"), 6).alias("cscore"),
        )
    )
    assign = (
        scored.groupBy(id_col)
        .agg(F.max(F.struct(F.col("cscore"), (-F.col("centroid_id")).alias("neg")))
             .alias("best"))
        .select(F.col(id_col), (-F.col("best.neg")).cast("long").alias("centroid_id"))
    )
    return base, cents, assign


def ivf_assign(df: DataFrame, n_centroids: int = 16,
               id_col: str = "vec_id", vec_col: str = "embedding",
               codebook: list | None = None) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid by cosine.

    The centroids are the sampled k-means codebook
    `kmeans_codebook(df, n_centroids)` unless ``codebook`` passes another
    one (a Lloyd-refined or differently sized list); recall is measured
    in tools/ann_recall.py / BASELINE.md. The centroid set is broadcast,
    so assignment is a map-side broadcast nested-loop over C candidates
    per vector — no shuffle of the big side. Ties break toward the lower
    centroid id.
    """
    _base, _cents, assign = _ivf_parts(df, n_centroids, id_col, vec_col,
                                       codebook=codebook)
    return assign


def _ivf_probe_candidates(df: DataFrame, query_id: int, n_centroids: int,
                          n_probe: int, id_col: str, vec_col: str,
                          codebook: list | None) -> DataFrame:
    """Rows of ``df`` inside the ``n_probe`` IVF cells closest to the
    query. Probe cells are ranked by (cosine desc, centroid_id asc) with
    the same 6dp rounding as assignment, so probe-1 is exactly the
    query's own cell (the query row itself always survives)."""
    base, cents, assign = _ivf_parts(df, n_centroids, id_col, vec_col,
                                     codebook=codebook)
    q = (base.filter(F.col(id_col) == query_id)
         .select(F.col(vec_col).alias("qvec"), F.col("norm").alias("qnorm")))
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "centroid_id",
            F.round(cosine("cvec", "qvec", "cnorm", "qnorm"), 6).alias("cscore"))
        .orderBy(F.col("cscore").desc(), F.col("centroid_id").asc())
        .limit(n_probe)
        .select("centroid_id")
    )
    return (df.join(assign, id_col)
            .join(F.broadcast(probe), "centroid_id").drop("centroid_id"))


def ivf_topk(df: DataFrame, query_id: int = 0, k: int = 10,
             n_centroids: int = 16, n_probe: int = 1, id_col: str = "vec_id",
             vec_col: str = "embedding",
             codebook: list | None = None) -> DataFrame:
    """IVF probe-N ANN: search the ``n_probe`` cells whose centroids are
    closest to the query (scans ~n_probe*N/C vectors; recall/latency knob
    at scale). ``codebook`` as in ``ivf_assign``."""
    cand = _ivf_probe_candidates(df, query_id, n_centroids, n_probe,
                                 id_col, vec_col, codebook)
    return brute_topk(cand, query_id=query_id, k=k, id_col=id_col, vec_col=vec_col)


def ivf_sq8_topk(df: DataFrame, query_id: int = 0, k: int = 10,
                 n_centroids: int = 16, n_probe: int = 1,
                 codebook: list | None = None, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """IVF + SQ8: cell restriction, then int8 asymmetric scoring within
    the probed cells (`ivf_topk` is the exact-rescore form):
    ~n_probe·N/C candidates touched, each at a quarter of the float32
    bytes, with SQ8's near-exact ranking (recall table in BASELINE.md).
    ``codebook`` as in `ivf_assign`."""
    cand = _ivf_probe_candidates(df, query_id, n_centroids, n_probe,
                                 id_col, vec_col, codebook)
    return sq8_topk(cand, query_id=query_id, k=k, id_col=id_col,
                    vec_col=vec_col)


def sq8_encode(df: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Scalar int8 quantization: each unit-normalized component maps to
    ``floor(u * 127 + 0.5)`` — an integer in [-127, 127], i.e. 1 byte
    per dimension (4× smaller than float32). Max component error
    0.5/127 ≈ 0.4%, so SQ8 top-k tracks exact cosine closely (recall
    measured in BASELINE.md).

    There is no codebook search, so the encoder is a single
    whole-stage-codegen `transform` — zero Python, zero shuffle, no
    separate "exact twin" needed: this IS the SQL-expressible form.
    The tie rule is floor(x + 0.5) (round-half-up), NOT round(): Spark
    rounds doubles half-away-from-zero and other engines half-to-even,
    so round() is exactly the kind of silent cross-engine fork this
    repo's contracts exclude. Degenerate (null/empty/zero-norm) vectors
    are excluded per the module contract (`with_norm`)."""
    base = with_norm(df, vec_col)
    # nullif: the InferFiltersFromGenerate hazard (see _ivf_parts) —
    # a downstream posexplode of `codes` clones this expression into
    # an inferred predicate evaluated before with_norm's norm>0
    # filter, and a bare `/ norm` throws ANSI DIVIDE_BY_ZERO there
    return base.select(
        F.col(id_col),
        F.expr(f"transform({vec_col}, v -> cast(floor("
               "cast(v as double) / nullif(norm, cast(0.0 as double))"
               " * 127.0 + 0.5) as int))")
        .alias("codes"))


def sq8_topk(df: DataFrame, query_id: int = 0, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Asymmetric top-k over SQ8 codes: the full-precision unit query
    against quantized corpus vectors, ``score = dot(q_unit, codes)/127``
    ≈ cosine. Plan shape is `brute_topk`'s — broadcast one query row,
    score JVM-side with the order-stable left-fold dot, TakeOrdered for
    the global k — but the corpus side reads 1-byte codes instead of
    4-byte floats: at 100 TB the scan is 4× lighter, which is the whole
    point of SQ8 (the codes table is what you'd keep hot in memory/SSD
    while the float originals stay cold)."""
    base = with_norm(df, vec_col)
    q = (base.filter(F.col(id_col) == query_id)
         .select(F.expr(f"transform({vec_col}, v -> cast(v as double) "
                        "/ nullif(norm, cast(0.0 as double)))")
                 .alias("qvec")))
    scored = (sq8_encode(df, id_col, vec_col)
              .filter(F.col(id_col) != query_id)
              .crossJoin(F.broadcast(q))
              .select(F.col(id_col),
                      F.round(
                          F.expr(_DOT.format(a="codes", b="qvec"))
                          / F.lit(127.0), 6).alias("score")))
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()) \
        .limit(k)


def _blocked_self_join_sides(base: DataFrame, id_col: str,
                             bucket_cap: int) -> tuple:
    """Skew-guarded sides for a within-bucket self-join.

    Each row gets a block id ``g = pmod(xxhash64(id), nsplit)`` where
    ``nsplit = ceil(bucket_size / bucket_cap)``; the left side replicates
    every row over partner-block ``j``, the right over ``i``, and the
    equi-join key becomes (bucket, i=g_left, j=g_right) — so pair (x, y)
    matches on exactly one key, and a degenerate bucket of size B (e.g. a
    corpus where most embeddings are near-identical) fans its B² pair
    work across nsplit² join keys instead of one task. Healthy buckets
    (size <= cap) have nsplit=1, g=i=j=0: byte-identical to the plain
    bucket join with zero replication."""
    sizes = base.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bsz"))
    keyed = (
        base.join(sizes, "bucket")
        .withColumn("_nsplit",
                    F.ceil(F.col("_bsz") / F.lit(bucket_cap)).cast("int"))
        .withColumn("_g", F.pmod(F.xxhash64(F.col(id_col)),
                                 F.col("_nsplit")).cast("int"))
        .drop("_bsz")
    )
    rep = F.explode(F.sequence(F.lit(0), F.col("_nsplit") - 1))
    left = keyed.withColumn("_j", rep).drop("_nsplit")
    right = keyed.withColumn("_i", rep).drop("_nsplit")
    return left, right


def cosine_dup_pairs(df: DataFrame, threshold: float = 0.95,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     use_lsh: bool = False,
                     bucket_cap: int = 4096) -> DataFrame:
    """Embedding near-duplicate pairs (a < b) with cosine >= threshold.

    `use_lsh=True` joins on LSH bucket first (the 100 TB path; candidate
    recall is set by `LSH_PLANES`); the default exact form is the
    small-scale oracle twin.

    The bucket self-join is skew-guarded: buckets larger than
    ``bucket_cap`` are block-split (see ``_blocked_self_join_sides``) so
    one near-degenerate bucket cannot hand a single task the quadratic
    pair load. The produced pair set is IDENTICAL for any cap — only the
    task decomposition changes — so oracle hashes are cap-independent."""
    base = with_norm(df, vec_col).select(
        F.col(id_col), F.col(vec_col), F.col("norm"))
    if use_lsh:
        base = base.join(
            lsh_buckets(df, id_col=id_col, vec_col=vec_col), id_col)
        left, right = _blocked_self_join_sides(base, id_col, bucket_cap)
        a, b = left.alias("a"), right.alias("b")
        join_df = a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._g") == F.col("b._i"))
            & (F.col("a._j") == F.col("b._g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
    else:
        a, b = base.alias("a"), base.alias("b")
        join_df = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return _pair_scores(join_df, threshold, id_col, vec_col)


def _pair_scores(join_df: DataFrame, threshold: float, id_col: str,
                 vec_col: str) -> DataFrame:
    """Shared tail of every within-bucket pair generator: emit
    (id_a, id_b, score) with the left-fold dot product rounded to 4dp
    (bit-stable vs the DuckDB oracle) and the threshold filter applied
    before anything downstream sees the pairs."""
    return (
        join_df.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(
                F.expr(_DOT.format(a=f"a.{vec_col}", b=f"b.{vec_col}"))
                / (F.col("a.norm") * F.col("b.norm")), 4).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def auto_centroids(df: DataFrame, per_cell: int = 300,
                   floor: int = 16, cap: int = 4096) -> int:
    """Cell count scaled with the corpus — the measured SemDeDup scale
    knob: with FIXED cells, 10× vectors mean 10× members per cell and
    100× within-cell cosine pairs (sf1 measured 63.8 s at the
    sf0.1-default 16 cells vs 16.3 s at 64 — BASELINE.md round-4).
    Cells ∝ N keeps expected members-per-cell (and so pair work per
    vector) constant; ~300/cell is the measured sweet spot on this
    fixture (finer costs more in the literal-codebook assignment than
    it saves in pairs). One cheap count() — at 100 TB, feed the
    catalog row count instead."""
    n = df.count()
    return max(floor, min(cap, -(-n // per_cell)))


def semantic_contamination(df: DataFrame, eval_df: DataFrame,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Per-corpus-vector max cosine against a benchmark/eval embedding
    set — the SEMANTIC decontamination signal (embedding-space
    eval-overlap, the paraphrase-robust complement of the n-gram
    `corpus/decontam.py` operators: a reworded eval question shares no
    13-grams with its source but still lands next to it in embedding
    space). Returns (id, max_eval_cos) for every scorable corpus row.

    Scale shape: the eval set is benchmark-sized (thousands), so it
    rides a broadcast; scoring is a broadcast nested-loop over the
    corpus with the exact left-fold dot product (corpus vectors never
    shuffle), and the max-reduce partial-aggregates map-side so the one
    Exchange carries (id, scalar) pairs — never embeddings. Scores are
    rounded to 4dp BEFORE the max so both engines reduce identical
    numbers."""
    ev = (with_norm(eval_df, vec_col)
          .select(F.col(vec_col).alias("qvec"),
                  F.col("norm").alias("qnorm")))
    return (with_norm(df, vec_col)
            .crossJoin(F.broadcast(ev))
            .select(id_col,
                    F.round(cosine(vec_col, "qvec", "norm", "qnorm"), 4)
                    .alias("c"))
            .groupBy(id_col)
            .agg(F.max("c").alias("max_eval_cos")))


def semantic_decontaminated_keep(df: DataFrame, eval_df: DataFrame,
                                 threshold: float = 0.95,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding") -> DataFrame:
    """Drop corpus rows whose embedding sits within ``threshold`` cosine
    of ANY eval vector; everything else (including rows with
    null/empty/zero embeddings, which have no direction and therefore
    cannot be semantically contaminated) survives. The corpus pays the
    broadcast scoring pass plus one AQE-sized left-anti join on the
    contaminated-id set — the same keep shape as
    ``dedup.keep_from_pairs``."""
    flagged = semantic_contamination(df, eval_df, id_col=id_col,
                                     vec_col=vec_col)
    contaminated = (flagged.filter(F.col("max_eval_cos") >= threshold)
                    .select(id_col))
    return df.join(contaminated, id_col, "left_anti")


def semdedup_pairs(df: DataFrame, threshold: float = 0.3,
                   n_centroids: int = 16,
                   codebook: list | None = None,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   bucket_cap: int = 4096) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023, arXiv:2303.09540):
    semantic near-duplicates found INSIDE coarse k-means cells. The
    corpus is cluster-assigned once (broadcast codebook, map-side — the
    `ivf_assign` machinery), then pairwise cosine runs only within a
    cell: C cells cut the pair candidate space by ~C× vs all-pairs,
    which is the whole trick that makes embedding dedup feasible on a
    web-scale corpus.

    Distributed shape: assignment is one broadcast nested-loop (no
    shuffle of the vectors beyond the groupBy argmax), the within-cell
    self-join is an equi-join on cell id, and a degenerate cell (a
    corpus of near-identical embeddings) is block-split via
    ``_blocked_self_join_sides`` so no single task inherits the
    quadratic pair load — same guard, and same cap-independent output
    guarantee, as ``cosine_dup_pairs``. The cells are the sampled
    k-means codebook `kmeans_codebook(df, n_centroids)` (the oracle gates
    rebuild it without Spark in tools/annoracle.py) unless ``codebook``
    passes another; size it with `auto_centroids` to keep within-cell
    pair work linear in N."""
    base, _cents, assign = _ivf_parts(df, n_centroids, id_col, vec_col,
                                      codebook=codebook)
    keyed = (base.select(id_col, vec_col, "norm")
             .join(assign, id_col)
             .withColumnRenamed("centroid_id", "bucket"))
    left, right = _blocked_self_join_sides(keyed, id_col, bucket_cap)
    a, b = left.alias("a"), right.alias("b")
    join_df = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a._g") == F.col("b._i"))
        & (F.col("a._j") == F.col("b._g"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
    return _pair_scores(join_df, threshold, id_col, vec_col)


def semdedup_keep(df: DataFrame, threshold: float = 0.3,
                  n_centroids: int = 16,
                  codebook: list | None = None,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  bucket_cap: int = 4096) -> DataFrame:
    """SemDeDup keep set: drop every vector that has SOME lower-id
    neighbor in its cell with cosine >= threshold; everything else
    (including rows whose embedding is null/empty/zero-norm — they have
    no direction, so nothing can be 'similar' to them) survives.

    Policy note: this is the per-pair greedy rule — deterministic, one
    distinct + one anti-join, and exactly expressible in ANSI SQL for
    the oracle. It is NOT connected-components: in a chain a~b~c with
    a!~c, greedy drops both b and c while CC would keep one
    representative per component; the CC policy (for the document text
    path) lives in ``dedup.keep_from_pairs`` / ``near_dedup_keep_docs``.
    At corpus scale the drop set is a tiny fraction of ids, so the
    anti-join's build side is AQE-broadcastable."""
    drops = (semdedup_pairs(df, threshold, n_centroids, codebook=codebook,
                            id_col=id_col, vec_col=vec_col,
                            bucket_cap=bucket_cap)
             .select(F.col("id_b").alias(id_col))
             .distinct())
    return df.join(drops, [id_col], "left_anti")


def centroid_by_label(df: DataFrame, key_col: str = "label",
                      vec_col: str = "embedding") -> DataFrame:
    """Per-group embedding centroids (element-wise mean) — the domain/
    cluster summary a curation pipeline uses for mixture balancing,
    outlier scoring, and drift monitoring. Null/empty vectors are
    excluded (no direction to average); zero vectors participate (a
    mean is defined for them, unlike a cosine).

    Distributed shape: posexplode to (label, dim, val) feeds ONE
    partial-agg shuffle — each map task pre-aggregates to at most
    n_labels x dims rows regardless of input size, so the exchange
    carries group summaries, not vectors. The per-label count rides the
    same pass (taken at dim 0), and the final array reassembles via a
    sorted collect_list of (dim, mean) pairs — n_labels rows of work.
    Elements round to 6dp for cross-engine hashing."""
    base = df.filter(F.col(vec_col).isNotNull()
                     & (F.size(F.col(vec_col)) > 0))
    dims = base.select(
        key_col, F.posexplode(vec_col).alias("dim", "val"))
    agg = (dims.groupBy(key_col, "dim")
           .agg(F.avg(F.col("val").cast("double")).alias("m"),
                F.count(F.lit(1)).alias("cnt")))
    return (agg.groupBy(key_col)
            .agg(F.max(F.when(F.col("dim") == 0, F.col("cnt")))
                 .cast("long").alias("n_vecs"),
                 F.expr("transform(sort_array(collect_list(struct(dim, m))), "
                        "s -> round(s.m, 6))").alias("centroid")))
