"""ANN quality evidence: recall@k and scanned-fraction for the bucketed
ANN variants vs the exact brute-force baseline.

The scale path (LSH buckets, IVF cells) trades recall for scan fraction;
this harness quantifies both so the trade-off is a measured number, not
prose. Results are recorded in BASELINE.md.

Usage: python tools/ann_recall.py [sf_dir] [n_queries] [k]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pdf_parser_spark.corpus import similarity as S  # noqa: E402
from pdf_parser_spark.session import get_spark  # noqa: E402


def topk_ids(df) -> list:
    return [r.vec_id for r in df.collect()]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    spark = get_spark("ann-recall", cpus="8")
    embs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).cache()
    n_vecs = embs.count()
    # query from the HIGH end of the id space: the lowest-id vectors ARE
    # the lowid codebook's centroids, so low-id queries would sit at the
    # center of their own cells and inflate that method's recall by
    # construction
    query_ids = [r.vec_id for r in
                 embs.select("vec_id").orderBy(F.col("vec_id").desc())
                 .limit(n_queries).collect()]

    lsh_planes = (2, 4, 8)
    bucket_sizes, bucket_of = {}, {}
    for p in lsh_planes:
        b = S.lsh_buckets(embs, planes=p).cache()
        bucket_sizes[p] = {
            r.bucket: r.n for r in
            b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()}
        bucket_of[p] = {r.vec_id: r.bucket for r in b.collect()}

    kmeans_cb = S.kmeans_codebook(embs)

    def cell_maps(codebook=None):
        assign = S.ivf_assign(embs, codebook=codebook).cache()
        sizes = {r.centroid_id: r.n for r in
                 assign.groupBy("centroid_id")
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
        of = {r.vec_id: r.centroid_id for r in assign.collect()}
        return sizes, of

    cell_sizes, cell_of = cell_maps()
    km_sizes, km_of = cell_maps(kmeans_cb)

    # true probe-2 cells per query (same ranking as ivf_topk: cosine
    # desc, centroid_id asc, 6dp rounding), computed driver-side in NumPy
    import numpy as np

    vec_rows = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
                for r in embs.collect()}
    lowid_ids = sorted(vec_rows)[:16]
    lowid_mat = np.stack([vec_rows[c] for c in lowid_ids])
    km_mat = np.asarray(kmeans_cb, dtype=np.float64)
    km_ids = list(range(len(km_mat)))

    def make_probe2(cmat, cent_ids):
        cnorm = np.linalg.norm(cmat, axis=1)

        def probe2_cells(qid):
            qv = vec_rows[qid]
            raw = cmat @ qv / (cnorm * np.linalg.norm(qv))
            # round half AWAY from zero to mirror Spark's F.round
            # (np.round is banker's round-half-to-even; a 6dp tie would
            # attribute the wrong probe cell's scanned fraction)
            scores = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
            order = sorted(range(len(cent_ids)),
                           key=lambda i: (-scores[i], cent_ids[i]))
            return [cent_ids[i] for i in order[:2]]

        return probe2_cells

    probe2_cells = make_probe2(lowid_mat, lowid_ids)
    km_probe2_cells = make_probe2(km_mat, km_ids)

    methods = {
        **{f"lsh_p{p}": (lambda q, p=p: S.lsh_topk(embs, query_id=q, k=k, planes=p))
           for p in lsh_planes},
        "ivf_probe1": lambda q: S.ivf_topk(embs, query_id=q, k=k, n_probe=1),
        "ivf_probe2": lambda q: S.ivf_topk(embs, query_id=q, k=k, n_probe=2),
        "ivf_km_probe1": lambda q: S.ivf_topk(
            embs, query_id=q, k=k, n_probe=1, codebook=kmeans_cb),
        "ivf_km_probe2": lambda q: S.ivf_topk(
            embs, query_id=q, k=k, n_probe=2, codebook=kmeans_cb),
    }
    recalls = {m: [] for m in methods}
    scanned = {m: [] for m in methods}
    for q in query_ids:
        exact = set(topk_ids(S.brute_topk(embs, query_id=q, k=k)))
        for m, fn in methods.items():
            approx = set(topk_ids(fn(q)))
            recalls[m].append(len(exact & approx) / max(len(exact), 1))
        for p in lsh_planes:
            scanned[f"lsh_p{p}"].append(
                bucket_sizes[p].get(bucket_of[p][q], 0) / n_vecs)
        scanned["ivf_probe1"].append(cell_sizes.get(cell_of[q], 0) / n_vecs)
        scanned["ivf_probe2"].append(
            sum(cell_sizes.get(c, 0) for c in probe2_cells(q)) / n_vecs)
        scanned["ivf_km_probe1"].append(km_sizes.get(km_of[q], 0) / n_vecs)
        scanned["ivf_km_probe2"].append(
            sum(km_sizes.get(c, 0) for c in km_probe2_cells(q)) / n_vecs)

    out = {"sf_dir": sf_dir, "n_vecs": n_vecs, "k": k, "n_queries": n_queries}
    for m in methods:
        out[f"recall_{m}"] = round(sum(recalls[m]) / len(recalls[m]), 3)
        out[f"scan_frac_{m}"] = round(sum(scanned[m]) / len(scanned[m]), 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
