"""ANN quality evidence: recall@k and scanned-fraction for the IVF and
SQ8 ANN variants vs the exact brute-force baseline.

The scale path (k-means IVF cells, SQ8 codes) trades recall for scan
fraction or bytes; this harness quantifies both so the trade-off is a
measured number, not prose. Results are recorded in BASELINE.md.

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
    # query from the HIGH end of the id space: a codebook seeded from
    # low ids (as an earlier lowest-id codebook was) would put low-id
    # queries at the center of their own cells and inflate recall by
    # construction; high ids keep the protocol comparable across rounds
    query_ids = [r.vec_id for r in
                 embs.select("vec_id").orderBy(F.col("vec_id").desc())
                 .limit(n_queries).collect()]

    kmeans_cb = S.kmeans_codebook(embs)
    assign = S.ivf_assign(embs, codebook=kmeans_cb).cache()
    cell_sizes = {r.centroid_id: r.n for r in
                  assign.groupBy("centroid_id")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
    cell_of = {r.vec_id: r.centroid_id for r in assign.collect()}

    # true probe-2 cells per query (same ranking as ivf_topk: cosine
    # desc, centroid_id asc, 6dp rounding), computed driver-side in NumPy
    import numpy as np

    vec_rows = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
                for r in embs.collect()}
    cmat = np.asarray(kmeans_cb, dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)

    def probe2_cells(qid):
        qv = vec_rows[qid]
        raw = cmat @ qv / (cnorm * np.linalg.norm(qv))
        # round half AWAY from zero to mirror Spark's F.round
        # (np.round is banker's round-half-to-even; a 6dp tie would
        # attribute the wrong probe cell's scanned fraction)
        scores = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
        order = sorted(range(len(cmat)), key=lambda i: (-scores[i], i))
        return order[:2]

    methods = {
        "ivf_km_probe1": lambda q: S.ivf_topk(
            embs, query_id=q, k=k, n_probe=1, codebook=kmeans_cb),
        "ivf_km_probe2": lambda q: S.ivf_topk(
            embs, query_id=q, k=k, n_probe=2, codebook=kmeans_cb),
        "sq8": lambda q: S.sq8_topk(embs, query_id=q, k=k),
        "ivf_sq8_probe1": lambda q: S.ivf_sq8_topk(
            embs, query_id=q, k=k, n_probe=1, codebook=kmeans_cb),
    }
    recalls = {m: [] for m in methods}
    scanned = {m: [] for m in methods}
    for q in query_ids:
        exact = set(topk_ids(S.brute_topk(embs, query_id=q, k=k)))
        for m, fn in methods.items():
            approx = set(topk_ids(fn(q)))
            recalls[m].append(len(exact & approx) / max(len(exact), 1))
        probe1 = cell_sizes.get(cell_of[q], 0) / n_vecs
        scanned["ivf_km_probe1"].append(probe1)
        scanned["ivf_km_probe2"].append(
            sum(cell_sizes.get(c, 0) for c in probe2_cells(q)) / n_vecs)
        scanned["sq8"].append(1.0)  # every vector's 1-byte/dim codes
        scanned["ivf_sq8_probe1"].append(probe1)

    out = {"sf_dir": sf_dir, "n_vecs": n_vecs, "k": k, "n_queries": n_queries}
    for m in methods:
        out[f"recall_{m}"] = round(sum(recalls[m]) / len(recalls[m]), 3)
        out[f"scan_frac_{m}"] = round(sum(scanned[m]) / len(scanned[m]), 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
