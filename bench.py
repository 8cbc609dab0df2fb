"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "turns_per_sec": ...}

The headline metric is extraction throughput (turns/sec) over the
synthetic transcript table at the given scale factor — the
BASELINE.json:metric. Each query is forced with a full materialization
(count / aggregate), never collect-to-driver of bulk data.

Scaling-efficiency evidence (N vs 4N cores) is produced by
tools/scaling_bench.py and recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from pdf_parser_spark.corpus import decontam as DC  # noqa: E402
from pdf_parser_spark.corpus import dedup as D  # noqa: E402
from pdf_parser_spark.corpus import links as LK  # noqa: E402
from pdf_parser_spark.corpus import packing as PK  # noqa: E402
from pdf_parser_spark.corpus import scrub as SC  # noqa: E402
from pdf_parser_spark.corpus import similarity as S  # noqa: E402
from pdf_parser_spark.corpus import textstats as TS  # noqa: E402
from pdf_parser_spark.generator import sf_from_dir, transcripts_path  # noqa: E402
from pdf_parser_spark.operators import convstats as CS  # noqa: E402
from pdf_parser_spark.operators import funnel as FN  # noqa: E402
from pdf_parser_spark.plans import bloomjoin as BJ  # noqa: E402
from pdf_parser_spark.plans import relational as R  # noqa: E402
from pdf_parser_spark.plans import sketch as SK  # noqa: E402
from pdf_parser_spark.plans import stats as STT  # noqa: E402
from pdf_parser_spark.plans import temporal as TP  # noqa: E402
from pdf_parser_spark.operators.extract import extract_layouts  # noqa: E402
from pdf_parser_spark.operators.markdown import to_markdown  # noqa: E402
from pdf_parser_spark.operators.questions import extract_questions  # noqa: E402
from pdf_parser_spark.operators.reassemble import reassemble_conversations  # noqa: E402
from pdf_parser_spark.operators.spans import boilerplate_spans  # noqa: E402
from pdf_parser_spark.session import ensure_min_partitions, get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_from_dir(sf_dir)
    tpath = transcripts_path(sf)

    spark = get_spark("pdf-parser-bench", cpus=cpus)
    n_cores = int(cpus) if str(cpus).isdigit() else 32
    transcripts = ensure_min_partitions(spark.read.parquet(tpath), n_cores * 2)
    n_turns = transcripts.count()
    # Prefer the non-replica fixtures when the sf dir carries them
    # (data/sf1 only): the plain 10x offset-replica keeps text/vectors
    # byte-identical across reps, which inflates near-dup PAIR counts
    # quadratically — a fixture artifact, not a property of 10x data
    # (BASELINE.md "Round-4 sf1 re-measures"). The `fixture` field in
    # the output JSON records which variant each row was measured on.
    fixture = {}
    docs_path = os.path.join(sf_dir, "documents.parquet")
    if os.path.exists(os.path.join(sf_dir, "documents_nonrep.parquet")):
        docs_path = os.path.join(sf_dir, "documents_nonrep.parquet")
        fixture["documents"] = "nonrep (token-salted replicas)"
    embs_path = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.exists(os.path.join(sf_dir, "embeddings_nonrep.parquet")):
        embs_path = os.path.join(sf_dir, "embeddings_nonrep.parquet")
        fixture["embeddings"] = "nonrep (dim-rotated replicas)"
    docs = spark.read.parquet(docs_path)
    embs = spark.read.parquet(embs_path)
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))

    def force_count(df):
        return df.count()

    benches = {
        "extract_a003": lambda: force_count(extract_layouts(transcripts)),
        "extract_questions": lambda: force_count(
            extract_questions(extract_layouts(
                transcripts.filter(F.col("tool") == "page/v1"), variant="a004",
                columns=["conv_id", "turn_idx", "page_number",
                         "left_column", "right_column"]))),
        "html_spans": lambda: force_count(boilerplate_spans(transcripts)),
        "markdown_c001": lambda: to_markdown(
            extract_layouts(transcripts, columns=[
                "conv_id", "turn_idx", "page_number", "header", "footer",
                "left_column", "right_column"]), "c001")
        .agg(F.sum(F.length("markdown"))).first()[0],
        "conv_reassembly": lambda: extract_layouts(
            transcripts, columns=["conv_id", "turn_idx", "left_column"])
        .transform(lambda df: reassemble_conversations(df))
        .agg(F.sum(F.length("doc"))).first()[0],
        "dedup_minhash_lsh": lambda: force_count(D.minhash_lsh_pairs(docs)),
        "dedup_simhash": lambda: force_count(D.simhash_pairs(docs)),
        "dedup_exact": lambda: force_count(D.exact_dedup(docs)),
        "text_quality": lambda: TS.quality_scores(docs)
        .agg(F.sum("n_tokens")).first()[0],
        "ann_lsh_topk": lambda: force_count(S.lsh_topk(embs, k=10)),
        "ann_sq8_topk": lambda: force_count(S.sq8_topk(embs, k=10)),
        "kmeans_refine": lambda: force_count(
            S.kmeans_refine_df(embs, iters=2)),
        "centroid_by_label": lambda: force_count(S.centroid_by_label(embs)),
        # production config: cells scale with the corpus (auto == 16 at
        # sf0.1, so sf0.1 numbers stay comparable across rounds; at sf1
        # the fixed-16 form pays 100x within-cell pairs — BASELINE.md)
        "semdedup_keep": lambda: force_count(S.semdedup_keep(
            embs, threshold=0.3, codebook=S.kmeans_codebook(
                embs, n_centroids=S.auto_centroids(embs)))),
        "ann_batch_topk": lambda: force_count(S.batch_topk(
            embs, embs.filter(F.col("vec_id") < 20), k=10)),
        # new in round 2 (no round-1 comparator in BASELINE.md)
        "near_dedup_keep": lambda: force_count(
            D.near_dedup_keep_docs(docs, threshold=0.3)),
        "winnow_fingerprints": lambda: force_count(TS.winnow_fingerprints(docs)),
        "cms_heavy_hitters": lambda: force_count(
            SK.cms_estimate(
                SK.cms_sketch(docs.select(F.explode(F.split(
                    F.lower(F.col("text")), " ")).alias("term")), "term"),
                docs.sparkSession.createDataFrame(
                    [(w,) for w in ("spark", "join", "window", "table",
                                    "scan", "query", "fast", "value")],
                    "term string"), "term")),
        "table_stats": lambda: force_count(STT.table_stats(
            docs, ["doc_id", "text", "lang", "source", "n_chars"])),
        "skew_report": lambda: force_count(
            STT.skew_report(events, "user_id", top=10)),
        "bm25_topk": lambda: force_count(TS.bm25_topk(
            docs, spark.createDataFrame(
                [(0, "spark join window"), (1, "customer query fast"),
                 (2, "vector scan stream")],
                "query_id long, query string"), k=10)),
        "link_pagerank": lambda: force_count(LK.pagerank_converged(
            LK.extract_links(
                transcripts.filter(F.col("tool") == "html/v1"))
            .select(F.col("conv_id").alias("src"),
                    F.col("href").alias("dst")),
            max_iters=2, tol=0.0)[0]),
        "hybrid_rrf_topk": lambda: force_count(TS.hybrid_rrf_topk(
            docs, spark.createDataFrame(
                [(0, "spark join window"), (1, "customer query fast")],
                "query_id long, query string"), k=10)),
        "weighted_sample": lambda: force_count(
            SC.weighted_sample(docs, "n_chars", k=100)),
        "temperature_mixture": lambda: force_count(
            SC.temperature_mixture(docs, tau=0.7)),
        "pmi_cooccurrence": lambda: force_count(TS.pmi_cooccurrence(
            docs, window=2, min_count=10, top=100)),
        "quality_model_score": lambda: force_count(
            TS.linear_quality_score(
                docs, [round(((i * 37) % 21 - 10) / 10, 2)
                       for i in range(64)], bias=-0.1)),
        "link_hits": lambda: force_count(LK.hits_converged(
            LK.extract_links(
                transcripts.filter(F.col("tool") == "html/v1"))
            .select(F.col("conv_id").alias("src"),
                    F.col("href").alias("dst")),
            max_iters=1, tol=0.0)[0]),
        "dedup_incremental": lambda: force_count(D.incremental_dedup_keep(
            docs.filter(F.col("doc_id") % 3 == 0),
            docs.filter(F.col("doc_id") % 3 != 0), threshold=0.5)),
        "bloom_prune_join": lambda: force_count(BJ.bloom_prune_join(
            lineitem,
            spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
            .filter(F.col("o_orderpriority") == "1-URGENT"),
            "l_orderkey", "o_orderkey")),
        # new in round 3: training-pipeline text filters
        "repetition_stats": lambda: force_count(TS.repetition_stats(docs)),
        "quality_filter_keep": lambda: force_count(TS.quality_filter_keep(docs)),
        "winnow_containment": lambda: force_count(
            TS.winnow_containment_pairs(docs)),
        "topk_terms": lambda: force_count(TS.topk_terms(docs)),
        "dup_passage_stats": lambda: force_count(
            TS.dup_passage_stats(docs, win=20)),
        # count() alone would let Catalyst eliminate the unique-key left
        # join and skip the rewrite; aggregate the real output columns
        "dup_passage_scrub": lambda: TS.dup_passage_scrub(docs, win=3)
        .agg(F.sum("n_removed"), F.sum(F.length("clean_text"))).first(),
        "funnel_stages": lambda: force_count(FN.funnel_stages(events)),
        "pricing_summary": lambda: force_count(R.pricing_summary(lineitem)),
        "local_supplier_volume": lambda: force_count(
            R.local_supplier_volume(
                *[spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
                  for t in ("region", "nation", "customer", "supplier",
                            "orders", "lineitem")])),
        "retention_cohorts": lambda: force_count(
            FN.retention_cohorts(events)),
        "split_assign": lambda: force_count(
            SC.split_assign(docs, 0.1, 0.1)),
        "leakage_safe_split": lambda: force_count(
            SC.leakage_safe_split(docs, 0.1, 0.1, threshold=0.3)),
        "conv_stats": lambda: force_count(CS.conv_stats(transcripts)),
        "conv_dup_groups": lambda: force_count(
            CS.conv_exact_dup_groups(transcripts)),
        "session_stats": lambda: force_count(
            CS.session_stats(transcripts, gap_s=3600)),
        "conv_context_windows": lambda: force_count(
            CS.conv_context_windows(transcripts, n_turns=6, stride=3)),
        "conv_windows_salted": lambda: force_count(
            CS.conv_context_windows_salted(
                transcripts, n_turns=6, stride=3)),
        "decontaminate": lambda: force_count(DC.decontaminate(
            docs, docs.filter(F.col("doc_id") % 37 == 0), n=13)),
        "contamination_spans": lambda: force_count(DC.contamination_spans(
            docs, docs.filter(F.col("doc_id") % 37 == 0), n=13)),
        "pack_sequences": lambda: force_count(PK.pack_sequences(
            docs, budget=2048, n_buckets=64)),
        "chunk_documents": lambda: force_count(PK.chunk_documents(
            docs, size=32, overlap=8)),
        "unigram_surprisal": lambda: force_count(
            TS.unigram_surprisal(docs)),
        "bigram_surprisal": lambda: force_count(
            TS.bigram_surprisal(docs)),
        "curriculum_bins": lambda: force_count(
            TS.curriculum_bins(docs)),
        "pii_scrub": lambda: SC.pii_scrub(docs)
        .agg(F.sum("n_emails")).first()[0],
        "stratified_sample": lambda: force_count(SC.stratified_sample(
            docs, {"en": 0.5, "de": 0.25, "fr": 0.1},
            default_fraction=0.05)),
        "mixture_sample": lambda: force_count(SC.mixture_sample(
            docs, {"en": 0.5, "de": 0.25, "fr": 0.125},
            budget_frac=0.25)),
        "asof_join_latest": lambda: force_count(
            TP.asof_join_latest(events)),
        "hyper_rollup": lambda: force_count(TP.hyper_rollup(events)),
        "rate_anomaly": lambda: force_count(TP.rate_anomaly(events)),
        "distinct_kmv": lambda: force_count(
            SK.distinct_kmv(events, "event_type", "user_id")),
        "dsir_weights": lambda: force_count(TS.dsir_weights(docs)),
        "hashed_bow": lambda: force_count(TS.hashed_bow_embeddings(docs)),
        # distributed rule distillation: centroid init + 2 GD passes
        "quality_probe_train": lambda: force_count(
            TS.quality_probe_weights_df(docs, rule_feats=True)),
        # new in round 5: domain-level curation + the deployable
        # codegen-head scoring pass (the 100 TB apply path — training
        # cost is covered by quality_probe_train above)
        "domain_stats": lambda: force_count(LK.domain_stats(
            transcripts.filter(F.col("tool") == "html/v1"))),
        "blocklist_filter": lambda: force_count(LK.blocklist_filter(
            transcripts.filter(F.col("tool") == "html/v1"),
            blocked=["ads.io", "example.co.uk"])),
        "probe_codegen_score": lambda: force_count(
            TS.quality_probe_scores(
                docs, [round(((i * 53) % 19 - 9) / 90, 3)
                       for i in range(70)], bias=-0.05,
                codegen_feats=True)),
        # late round 5: quality-argmax dup survivors + embedding-space
        # eval decontamination (eval side = vec_id % 50, broadcast)
        "near_dedup_keep_best": lambda: force_count(
            D.near_dedup_keep_docs(docs, threshold=0.3,
                                   score_col="n_chars")),
        "semantic_decontam_keep": lambda: force_count(
            S.semantic_decontaminated_keep(
                embs.filter(F.col("vec_id") % 50 != 0),
                embs.filter(F.col("vec_id") % 50 == 0),
                threshold=0.25)),
        "rag_chunk_topk": lambda: force_count(S.brute_topk(
            TS.hashed_bow_embeddings(
                PK.chunk_documents(docs, size=32, overlap=8).select(
                    (F.col("doc_id") * 1000
                     + F.col("chunk_idx")).alias("cid"), "chunk_text"),
                id_col="cid", text_col="chunk_text"),
            query_id=7000, k=10, id_col="cid")),
    }

    # Warm the JVM + python workers outside the timed region.
    extract_layouts(transcripts.limit(2000)).count()

    # Converge-then-stop sampling per query: the first run of each query
    # SHAPE pays JIT/codegen + python-worker warm-up (measured: the same
    # markdown query 4.9s -> 3.4s -> 2.7s -> 2.4s across consecutive
    # runs), and the host shows intermittent steal, so a fixed best-of-2
    # can report 2-3x the converged cost (r3: markdown_c001 read 8.7s on
    # the driver vs 2.4s converged). Sample until the two FASTEST draws
    # agree within 15% (max SPARK_GRAFT_BENCH_REPEATS, default 4) and
    # report the best — stable queries stop at 2 samples, warming or
    # steal-hit queries get the extra draws they need.
    max_repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "4"))
    timings: dict[str, float] = {}
    def _drop_persisted():
        # the iterative operators (pagerank/HITS/kmeans/near-dedup)
        # localCheckpoint their state; without unpersisting between
        # queries those RDDs accumulate across the 60+ query suite and
        # later queries pay their GC/memory pressure (measured: the
        # same query 2-4x slower late in the suite than standalone)
        jsc = spark.sparkContext._jsc
        for rdd in jsc.getPersistentRDDs().values():
            rdd.unpersist()
        spark.catalog.clearCache()

    for name, fn in benches.items():
        samples: list[float] = []
        for _ in range(max(2, max_repeats)):
            t0 = time.monotonic()
            fn()
            samples.append(time.monotonic() - t0)
            if len(samples) >= 2:
                s = sorted(samples)
                if s[1] <= s[0] * 1.15:
                    break
        timings[name] = round(min(samples), 3)
        _drop_persisted()

    extract_sec = timings["extract_a003"]
    result = {
        "metric": "extraction+corpus suite wall time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_turns": n_turns,
        "cpus": int(cpus),
        "turns_per_sec": round(n_turns / extract_sec, 1),
    }
    if fixture:
        result["fixture"] = fixture
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
