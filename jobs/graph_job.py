"""CLI link-graph job: extract the hyperlink graph from HTML transcript
turns and run the centrality suite over it — one spark-submit surface
for the `corpus.links` family:

    spark-submit --py-files engine.zip jobs/graph_job.py \\
        --input  /path/to/transcripts_ds \\
        --output /path/to/graph_report \\
        [--max-iters 20] [--tol 1e-6] [--hits-iters 5] [--top 20]

Writes:
    output/edges/      (conv_id -> href edge relation, with anchors)
    output/pagerank/   per-node rank
    output/hits/       per-node hub + authority
and prints a one-line JSON summary with the top authorities — the
crawl-prioritization / quality-prior report a 100 TB corpus build runs
after ingest. The edge relation is written BEFORE iterating (the same
materialize-once rule `pagerank_converged` enforces internally): at
cluster scale the edge table is a product, not a temporary.

PageRank runs to CONVERGENCE by default (`pagerank_converged`: early
stop when the per-iteration L1 delta drops below --tol, capped at
--max-iters), and the report carries the full delta sequence as the
convergence evidence. The gates run the same functions at `tol=0.0`
with 2/1 iterations — sized so an unrolled SQL twin can replay them
hash-for-hash — not production settings; this CLI is the production
surface.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="link-graph centrality job")
    p.add_argument("--input", required=True, help="transcripts table/path")
    p.add_argument("--output", required=True, help="report root")
    p.add_argument("--max-iters", type=int, default=20,
                   help="PageRank iteration cap (early-stops at --tol)")
    p.add_argument("--tol", type=float, default=1e-6,
                   help="stop when the per-iteration L1 rank delta "
                        "falls below this")
    p.add_argument("--hits-iters", type=int, default=20,
                   help="HITS iteration cap (early-stops at --tol)")
    p.add_argument("--top", type=int, default=20)
    p.add_argument("--tool", default="html/v1",
                   help="tool value marking HTML turns")
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    spark = SparkSession.builder.appName("graph-job").getOrCreate()

    from pdf_parser_spark.corpus import links as LK
    from pdf_parser_spark.io import read_table, write_table

    tr = read_table(spark, args.input).filter(F.col("tool") == args.tool)
    links = LK.extract_links(tr)
    write_table(links, os.path.join(args.output, "edges"))
    edges = read_table(spark, os.path.join(args.output, "edges")) \
        .select(F.col("conv_id").alias("src"), F.col("href").alias("dst"))

    pr, deltas = LK.pagerank_converged(
        edges, max_iters=args.max_iters, tol=args.tol)
    write_table(pr, os.path.join(args.output, "pagerank"))
    hh, hits_deltas = LK.hits_converged(
        edges, max_iters=args.hits_iters, tol=args.tol)
    write_table(hh, os.path.join(args.output, "hits"))

    top = (pr.orderBy(F.col("r").desc(), F.col("node").asc())
           .limit(args.top).collect())
    print(json.dumps({
        "edges": edges.count(),
        "nodes": pr.count(),
        "pagerank_iters": len(deltas),
        "pagerank_l1_deltas": deltas,
        "pagerank_converged": bool(deltas and deltas[-1] < args.tol),
        "hits_iters": len(hits_deltas),
        "hits_l1_deltas": hits_deltas,
        "hits_converged": bool(hits_deltas and hits_deltas[-1] < args.tol),
        "top_pagerank": [[t.node, t.r] for t in top[:5]],
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
