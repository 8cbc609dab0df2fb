"""Generate PLANS.md: the physical-plan audit for the headline operators.

For each headline operator `audit_all` builds the formatted plan Spark
actually executes and asserts the property that matters at 100 TB
(shuffle-free map phase, pushdown reaching the scan, broadcast side,
partial aggregation). Failing properties raise — the audit is a test, not
prose: tests/test_plan_audit.py runs `audit_all` on the test session, and
`python tools/plan_audit.py` also rewrites PLANS.md from its sections.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from pdf_parser_spark.corpus import dedup as D  # noqa: E402
from pdf_parser_spark.corpus import similarity as S  # noqa: E402
from pdf_parser_spark.generator import transcripts_path  # noqa: E402
from pdf_parser_spark.operators.extract import extract_layouts  # noqa: E402
from pdf_parser_spark.operators.reassemble import reassemble_conversations  # noqa: E402
from pdf_parser_spark.plans import bloomjoin as BJ  # noqa: E402
from pdf_parser_spark.plans.pages import select_turns  # noqa: E402
from pdf_parser_spark.session import get_spark  # noqa: E402


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def compact(plan: str, max_lines: int = 40) -> str:
    lines = [ln.rstrip() for ln in plan.splitlines() if ln.strip()]
    return "\n".join(lines[:max_lines])


def audit_all(spark) -> list:
    """Audit every headline plan on ``spark``; returns the PLANS.md
    sections as (title, note, compacted plan) and raises
    AssertionError on the first plan that loses its property."""
    tr = spark.read.parquet(transcripts_path(0.001))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    sections = []

    def audit(title, df, requires=(), forbids=(), note=""):
        plan = formatted(df)
        for pat in requires:
            assert re.search(pat, plan, re.S), f"{title}: missing {pat}\n{plan}"
        for pat in forbids:
            assert not re.search(pat, plan, re.S), f"{title}: found forbidden {pat}\n{plan}"
        sections.append((title, note, compact(plan)))

    audit(
        "Extraction map phase (EP1)",
        extract_layouts(tr),
        requires=[r"MapInPandas", r"Scan parquet"],
        forbids=[r"Exchange"],
        note=("The hot path: parquet scan feeding one Arrow-batched "
              "MapInPandas, and NOTHING else — no Exchange anywhere, so the "
              "phase is embarrassingly parallel and mega-conversation skew "
              "cannot serialize it. Column pruning: the scan reads only the "
              "columns the UDF consumes."),
    )

    from pdf_parser_spark.operators.manifest import (
        bucket_expr, bucket_job_plan, bucket_write_plan)

    manifest_plan_df = bucket_write_plan(bucket_job_plan(
        tr.withColumn("bucket", bucket_expr(64)), list(range(64)), 64), "out")
    manifest_plan = formatted(manifest_plan_df)
    tree = manifest_plan.split("\n\n", 1)[0]
    assert len(re.findall(r"^\(\d+\) Scan parquet", manifest_plan, re.M)) == 1, \
        "manifest job: more than one input scan"
    assert len(re.findall(r"^\(\d+\) Exchange", manifest_plan, re.M)) == 1, \
        "manifest job: not exactly one shuffle"
    assert len(re.findall(
        r"^\(\d+\) Exchange\n.*\nArguments: hashpartitioning\(bucket#",
        manifest_plan, re.M)) == 1, "manifest job: shuffle is not by bucket"
    assert re.search(r"Exchange \(\d+\)\n(?:.*\n)*.*\+- MapInPandas", tree), \
        "manifest job: extraction is not below the bucket shuffle"
    assert re.search(r"MapInArrow \(\d+\)\n(?:.*\n)*.*\+- Exchange", tree), \
        "manifest job: the bucket writer is not above the bucket shuffle"
    sections.append((
        "Manifest single-pass job (checkpoint/resume write path)",
        ("ALL pending buckets are extracted and written in ONE query: "
         "exactly one input Scan (asserted) and exactly one Exchange, "
         "hashpartitioning(bucket) above the MapInPandas (asserted), with "
         "the MapInArrow bucket writer above it (asserted). The bucket "
         "predicate rides the one scan and extraction runs on the input "
         "splits, so the mega-conversation cannot serialize it; only its "
         "output is clustered by bucket (min(buckets, defaultParallelism) "
         "partitions, explicit so AQE cannot coalesce the write into one "
         "task). Each writer task writes every bucket it receives as one "
         "parquet file with pyarrow and returns that file's row and error "
         "counts, so there is no Spark file commit and no count scan. "
         "Input IO is independent of n_buckets."),
        compact(manifest_plan)))

    audit(
        "Page selection pushdown (P7)",
        select_turns(tr, "2-4").select("conv_id", "turn_idx", "tool"),
        requires=[r"PushedFilters: .*GreaterThanOrEqual\(turn_idx,1\)",
                  r"LessThanOrEqual\(turn_idx,3\)"],
        note=("The page-range predicate reaches the parquet scan as "
              "PushedFilters (row-group stats pruning); only requested "
              "turns are decoded — the reference's manual 'touch only "
              "requested pages' for free from Catalyst."),
    )

    audit(
        "Conversation reassembly (O7, two-stage)",
        reassemble_conversations(extract_layouts(tr)),
        requires=[r"HashAggregate.*HashAggregate"],
        note=("Two HashAggregate pairs: stage 1 groups by (conv_id, "
              "turn-block) so one task never sort-merges more than "
              "block_size turns; stage 2 merges the per-block partials per "
              "conversation. A 10^6-turn conversation costs O(turns/block) "
              "at stage 2, not O(turns)."),
    )

    from pdf_parser_spark.operators.compare import compare_extractors

    cmp_plan_df = compare_extractors(tr)
    cmp_plan = formatted(cmp_plan_df)
    assert len(re.findall(r"^\(\d+\) Scan parquet", cmp_plan, re.M)) == 1, \
        "compare fan-out: more than one input scan"
    assert len(re.findall(r"^\(\d+\) MapInPandas", cmp_plan, re.M)) == 1, \
        "compare fan-out: more than one MapInPandas"
    assert "Exchange" not in cmp_plan, "compare fan-out: unexpected shuffle"
    sections.append((
        "Extractor comparison fan-out (D4, fused)",
        ("All N variants come from ONE scan and ONE MapInPandas (asserted): "
         "the tokenize stage is variant-independent, so the fused operator "
         "parses each payload once and classifies N times inside the same "
         "Arrow batch — previously N independent extract_layouts runs "
         "re-read and re-tokenized the input N times."),
        compact(cmp_plan)))

    audit(
        "ANN brute top-k (exact baseline)",
        S.brute_topk(embs, k=10),
        requires=[r"BroadcastNestedLoopJoin|BroadcastExchange", r"TakeOrderedAndProject"],
        note=("The one-row query vector is the broadcast side; scoring is "
              "JVM-side zip_with/aggregate fold inside codegen; the global "
              "top-k compiles to TakeOrderedAndProject (per-partition heap "
              "+ driver merge), NOT a full sort."),
    )

    audit(
        "MinHash-LSH candidate join",
        D.minhash_lsh_pairs(docs),
        requires=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        note=("Shuffle keys are (band, band_key) md5 buckets — uniform by "
              "construction, no skew; AQE sizes the post-shuffle "
              "partitions. The quadratic pairwise Jaccard only ever runs "
              "on these candidates."),
    )

    import tempfile

    nd_scratch = tempfile.mkdtemp(prefix="plan_audit_shingles_") + "/sh"
    D.shingles(docs).write.mode("overwrite").parquet(nd_scratch)
    sh_shared = spark.read.parquet(nd_scratch)
    near_dedup_df = D.near_dedup_pairs(docs, threshold=0.3, sh=sh_shared)
    near_plan = formatted(near_dedup_df)
    assert not re.search(r"CartesianProduct|BroadcastNestedLoopJoin", near_plan), \
        "near-dedup: cross join crept in"
    assert "slice(toks" not in near_plan, \
        "near-dedup: shingle stream recomputed inside the pipeline plan"
    sections.append((
        "Near-dedup pipeline (LSH -> exact Jaccard -> keep, single shingle pass)",
        ("The full 100 TB dedup composition contains NO cross join anywhere "
         "(asserted): candidates come from the banded bucket equi-join, "
         "exact Jaccard scoring joins only semi-pruned candidate shingles "
         "on (id, shingle) keys. The shingle stream (tokenize + n-gram + "
         "distinct — the dominant stage at corpus scale) is MATERIALIZED "
         "ONCE to a scratch dataset feeding both MinHash candidate "
         "generation and the exact scorer; the n-gram builder expression "
         "('slice(toks') is asserted absent from the pipeline plan "
         "(previously each stage re-shingled the corpus: 2x the heaviest "
         "stage). Storage materialization beats .persist() here: cached "
         "exact-size stats flipped every small-side join broadcast->SMJ, "
         "measured 8x slower; parquet stats keep AQE's join planning "
         "honest and the shape survives corpora larger than cluster "
         "memory."),
        compact(near_plan)))

    audit(
        "Quality-aware dup survivor (keep_best_from_pairs)",
        D.keep_best_from_pairs(docs, near_dedup_df, "n_chars"),
        requires=[r"row_number", r"LeftAnti"],
        forbids=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        note=("The RefinedWeb-style keeper rule (argmax score per dup "
              "cluster, ties -> min id). The row_number ranking window "
              "partitions by cluster_id over the CLUSTER MEMBERS frame "
              "only — O(duplicate docs), bounded by the same LSH "
              "candidate generation that built the pairs — never over "
              "the corpus; the corpus pays exactly what the min-id rule "
              "pays, one AQE-sized left-anti join (asserted present)."),
    )

    audit(
        "Semantic decontamination (broadcast eval scoring)",
        S.semantic_contamination(
            embs.filter(F.col("vec_id") % 50 != 0),
            embs.filter(F.col("vec_id") % 50 == 0)),
        requires=[r"BroadcastNestedLoopJoin",
                  r"HashAggregate.*Exchange.*HashAggregate"],
        forbids=[r"SortMergeJoin"],
        note=("Embedding-space eval-overlap: the eval set rides a "
              "broadcast nested-loop (corpus vectors never shuffle), and "
              "the per-doc max-cosine reduce partial-aggregates map-side "
              "— the one Exchange carries (id, scalar) pairs, never "
              "embeddings. The paraphrase-robust complement of the "
              "n-gram decontaminate operators."),
    )

    audit(
        "Exact dedup (hash-groupBy)",
        D.exact_dedup(docs),
        requires=[r"HashAggregate.*Exchange.*HashAggregate"],
        note=("Classic partial->final aggregate: map-side combine on the "
              "md5 key halves the shuffle volume before the exchange."),
    )

    from pdf_parser_spark.corpus import textstats as TS

    audit(
        "Repetition stats (Gopher quality signals)",
        TS.repetition_stats(docs),
        requires=[r"ArrowEvalPython"],
        forbids=[r"Exchange"],
        note=("Within-document repetition is a per-row property, so the "
              "whole operator is scan -> one Arrow-batched pandas UDF -> "
              "project, with ZERO Exchange (asserted) — the explode + "
              "groupBy(doc, gram) formulation would shuffle every gram "
              "occurrence of the corpus just to aggregate it straight back "
              "per document. Only integer counts leave the UDF; ratios and "
              "rounding stay JVM-side."),
    )

    from pdf_parser_spark.corpus import scrub as SC

    audit(
        "PII scrub (typed redaction + counts)",
        SC.pii_scrub(docs),
        forbids=[r"Exchange", r"ArrowEvalPython", r"BatchEvalPython"],
        note=("Three ordered regexp_replace/regexp_count stages compile "
              "into one codegen projection over the scan: zero Exchange, "
              "zero Python (both asserted). At 100 TB this fuses into "
              "whatever scan->filter stage precedes tokenization — "
              "redaction costs no extra pass."),
    )

    audit(
        "Stratified hash sampling (data-mixture primitive)",
        SC.stratified_sample(docs, {"en": 0.5, "de": 0.25},
                             default_fraction=0.05),
        forbids=[r"Exchange", r"ArrowEvalPython", r"BatchEvalPython"],
        note=("The per-stratum keep rule (md5-keyspace threshold via one "
              "CASE expression) is a pure codegen filter fused into the "
              "scan: zero Exchange, zero Python (asserted). Unlike "
              "rand()-based sample(), the kept set is a pure function of "
              "the row key — stable under repartitioning, resumable, "
              "re-drawable by any engine."),
    )

    from pdf_parser_spark.corpus import decontam as DC
    from pdf_parser_spark.corpus import packing as PK
    from pdf_parser_spark.operators import convstats as CS

    from pdf_parser_spark.plans import relational as R

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    audit(
        "Pricing summary (Q1, integer-cents partial agg)",
        R.pricing_summary(li),
        requires=[r"PushedFilters: .*LessThanOrEqual\(l_shipdate",
                  r"HashAggregate"],
        forbids=[r"\) Exchange.*\) Exchange", r"ArrowEvalPython",
                 r"BatchEvalPython"],
        note=("The date filter reaches the parquet scan (asserted — "
              "row-group stats prune whole chunks at 100 TB); the "
              "aggregation is one partial-agg Exchange on a 6-value key "
              "(asserted single). All money math is int64 cents — "
              "bit-identical across engines and partition orders, where "
              "a distributed double sum drifts."),
    )

    audit(
        "Top revenue orders (Q3, broadcast dim + heap top-k)",
        R.top_revenue_orders(
            spark.read.parquet("/root/testdata/sf0.001/customer.parquet"),
            spark.read.parquet("/root/testdata/sf0.001/orders.parquet"), li),
        requires=[r"BroadcastHashJoin", r"TakeOrderedAndProject",
                  r"PushedFilters: .*GreaterThan\(l_shipdate"],
        forbids=[r"CartesianProduct", r"ArrowEvalPython", r"BatchEvalPython"],
        note=("The segment-filtered customer dimension broadcasts "
              "(asserted), both date predicates push to their scans "
              "(asserted for the big side), and the top-k compiles to "
              "TakeOrderedAndProject — per-partition heaps merging k "
              "rows at the driver, never a global sort. The only wide "
              "exchange is the lineitem rollup on the uniform orderkey."),
    )

    from pdf_parser_spark.operators import funnel as FN

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    audit(
        "Ordered funnel (one shuffle + codegen fold)",
        FN.funnel_stages(events),
        requires=[r"\) Exchange", r"hashpartitioning\(user_id",
                  r"PushedFilters: .*In\(event_type"],
        forbids=[r"\) Exchange.*\) Exchange", r"ArrowEvalPython",
                 r"BatchEvalPython", r"SortMergeJoin"],
        note=("An N-step funnel in ONE Exchange (asserted single): the "
              "step filter is PUSHED to the scan (asserted), per-user "
              "step events gather once, and the stage matching is an "
              "aggregate() higher-order fold inside codegen — the classic "
              "SQL chain of N aggregations + N self-joins (and its N "
              "shuffles) collapses to a linear per-user scan."),
    )

    audit(
        "Retention cohort matrix (three partial-agg shuffles)",
        FN.retention_cohorts(events),
        forbids=[r"CartesianProduct", r"ArrowEvalPython", r"BatchEvalPython",
                 r"Exchange SinglePartition"],
        note=("Distinct (user, day) activity, per-user min cohort, and "
              "the cell rollup — every exchange is a uniform-key partial "
              "agg over two-long rows; the events table itself is read "
              "once and only (user_id, epoch_day) pairs ever move."),
    )

    audit(
        "Conversation stats rollup (curation grain)",
        CS.conv_stats(tr),
        requires=[r"\) Exchange", r"hashpartitioning\(conv_id"],
        forbids=[r"\) Exchange.*\) Exchange", r"ArrowEvalPython",
                 r"BatchEvalPython"],
        note=("The lag-based protocol checks run in the SAME conv_id "
              "window partitioning the groupBy then reuses, so the whole "
              "rollup is ONE Exchange end to end (a second Exchange "
              "anywhere in the plan is asserted absent). Per-key state "
              "is O(1); conv_id is uniform."),
    )

    audit(
        "Session stats (gap sessionize + rollup)",
        CS.session_stats(tr, gap_s=3600),
        requires=[r"\) Exchange", r"hashpartitioning\(conv_id"],
        forbids=[r"\) Exchange.*\) Exchange", r"ArrowEvalPython",
                 r"BatchEvalPython"],
        note=("Sessionize (lag + running boundary sum) and the "
              "(conv_id, session_idx) rollup share the conv_id "
              "partitioning — conv_id is a prefix of the grouping key, "
              "so the plan still carries exactly one Exchange "
              "(asserted)."),
    )

    from pdf_parser_spark.corpus import textstats as TSM

    audit(
        "Unigram surprisal (capped-vocab LM quality proxy)",
        TSM.unigram_surprisal(docs, vocab_size=16),
        requires=[r"BroadcastHashJoin", r"TakeOrderedAndProject"],
        forbids=[r"CartesianProduct", r"ArrowEvalPython",
                 r"BatchEvalPython"],
        note=("The capped vocabulary bounds the model at V rows no "
              "matter the corpus size: top-V selection compiles to "
              "TakeOrderedAndProject (per-partition heap, asserted — not "
              "a global sort), and the scoring join broadcasts the model "
              "(asserted). Pass 1 is a uniform-key token-frequency agg "
              "with map-side combine; corpus text never crosses an "
              "exchange wider than (doc_id, token)."),
    )

    audit(
        "Benchmark decontamination (13-gram overlap vs eval set)",
        DC.decontaminate(docs, docs.filter(F.col("doc_id") % 37 == 0), n=13),
        requires=[r"BroadcastHashJoin", r"BroadcastExchange"],
        forbids=[r"CartesianProduct", r"ArrowEvalPython", r"BatchEvalPython"],
        note=("The eval gram set broadcasts (asserted); corpus position "
              "grams are a map-side projection that inner-joins the "
              "broadcast — only HIT rows (volume ~ contamination, not "
              "corpus size) reach the per-doc aggregation exchange, and "
              "per-doc totals come from size() with no explode. Corpus "
              "text never shuffles; at 100 TB the heavy stage fuses into "
              "the scan."),
    )

    audit(
        "Contamination span masking (gaps-and-islands on hits)",
        DC.contamination_spans(docs, docs.filter(F.col("doc_id") % 37 == 0),
                               n=13),
        requires=[r"BroadcastHashJoin", r"BroadcastExchange"],
        forbids=[r"CartesianProduct", r"ArrowEvalPython", r"BatchEvalPython"],
        note=("Same broadcast-gram shape as decontaminate (asserted); the "
              "island merge (running-max window + rollup) runs AFTER the "
              "inner join, so it sorts and shuffles hit windows only — "
              "masking cost is proportional to contamination, not corpus "
              "size."),
    )

    audit(
        "Sequence packing (concat-then-chunk layout)",
        PK.pack_sequences(docs, budget=2048, n_buckets=64),
        forbids=[r"CartesianProduct", r"ArrowEvalPython", r"BatchEvalPython",
                 r"Exchange SinglePartition"],
        note=("One hash Exchange on the uniform md5 bucket key + one "
              "window sort within buckets — the honest minimum for any "
              "packing rule; no single-partition global sort (asserted). "
              "Sequence ids are bucket-local, so 1000 executors pack "
              "1000 streams with zero cross-talk."),
    )

    audit(
        "Duplicated-passage stats (exact-substring dedup signal)",
        TS.dup_passage_stats(docs, win=20),
        requires=[r"HashAggregate.*Exchange.*HashAggregate"],
        forbids=[r"CartesianProduct", r"BroadcastNestedLoopJoin",
                 r"ArrowEvalPython", r"BatchEvalPython"],
        note=("Window hashing is a pure built-in transform over the token "
              "array (zero Python, asserted); the corpus-wide occurrence "
              "count and the per-doc rollup are the only two shuffles, "
              "both partial->final aggregates (asserted) on uniform md5 / "
              "doc_id keys. No join blowup path exists — the frequency "
              "join is 1:1 on the hash. At 100 TB the stride parameter "
              "subsamples window positions to cut exchange volume "
              "linearly."),
    )

    audit(
        "Quality filter keep rule (composed C4/Gopher filter)",
        TS.quality_filter_keep(docs),
        requires=[r"ArrowEvalPython"],
        forbids=[r"Exchange", r"Join"],
        note=("Every feature in the keep rule (token count, stopword "
              "ratio, repetition fractions) is a per-row property, so the "
              "composed filter is ONE projection + filter over the scan "
              "with ZERO Exchange and ZERO Join (both asserted) — the "
              "quality_scores x repetition_stats join composition it "
              "replaced shuffled two feature frames just to reunite rows "
              "that never left their partition. Stateless map => the same "
              "operator drops into a Structured Streaming pipeline "
              "unchanged."),
    )

    audit(
        "Batched ANN top-k (query-set retrieval)",
        S.batch_topk(embs, embs.filter(F.col("vec_id") < 20), k=10),
        requires=[r"BroadcastNestedLoopJoin|BroadcastExchange",
                  r"MapInPandas", r"\) Window"],
        forbids=[r"\) Exchange.*\) Exchange"],
        note=("Queries broadcast; corpus vectors never shuffle. The "
              "mapInPandas stage truncates every input partition to its "
              "LOCAL top-k per query ((score desc, id asc) is a total "
              "order, so truncation preserves the global answer), so the "
              "single shuffle Exchange (asserted: no second one) carries "
              "parts x Q x k scalar triples into the final window — never "
              "the N x Q scored cross product."),
    )

    sd_plan_df = S.semdedup_keep(embs, threshold=0.3,
                                 codebook=S.kmeans_codebook(embs))
    sd_plan = formatted(sd_plan_df)
    assert not re.search(r"CartesianProduct", sd_plan), \
        "semdedup: cartesian product crept in"
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
                     sd_plan), "semdedup: within-cell equi-join missing"
    assert "LeftAnti" in sd_plan, "semdedup: keep anti-join missing"
    sections.append((
        "SemDeDup keep (k-means cells -> within-cell cosine -> anti-join)",
        ("Embedding dedup without all-pairs: the broadcast k x dims "
         "codebook makes cell assignment a map-side nested loop over C "
         "candidates per vector (the BroadcastNestedLoopJoin here is "
         "per-row scoring work, not a pair explosion), the pairwise "
         "cosine is an equi-join on cell id (asserted) whose hot cells "
         "are block-split by _blocked_self_join_sides, and the drop set "
         "applies as a LeftAnti join (asserted) sized for AQE broadcast. "
         "No CartesianProduct anywhere (asserted)."),
        compact(sd_plan)))

    from pdf_parser_spark.plans import sketch as SKC
    from pdf_parser_spark.plans import temporal as TP

    asof_plan_df = TP.asof_join_latest(events)
    asof_plan = formatted(asof_plan_df)
    assert len(re.findall(r"^\(\d+\) Exchange", asof_plan, re.M)) == 1, \
        "asof join: expected exactly one Exchange"
    assert re.search(r"PushedFilters: .*In\(event_type", asof_plan), \
        "asof join: side prune not pushed to scan"
    assert re.search(r"\) Window", asof_plan), "asof join: window missing"
    sections.append((
        "As-of join (union-and-window, one shuffle)",
        ("The naive as-of formulation (theta-join t_r <= t_l + max) is a "
         "BroadcastNestedLoopJoin with O(right_per_key) candidates per "
         "left row; this plan is EXACTLY ONE Exchange on user_id "
         "(asserted) feeding one running-last Window — O(events) total "
         "work. The two-type prune rides the scan as PushedFilters "
         "(asserted), so non-participating event types are never "
         "decoded."),
        compact(asof_plan)))

    audit(
        "Interval containment join (bins-as-equi-keys)",
        TP.interval_join_events(events, min_events=5),
        requires=[r"BroadcastHashJoin",
                  r"PushedFilters: .*EqualTo\(event_type,error\)"],
        forbids=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        note=("Spark compiles raw non-equi time joins to nested-loop "
              "plans; exploding intervals to covering bins turns the "
              "containment join into a BroadcastHashJoin on the bin index "
              "(asserted — the window side is calendar-bounded) with the "
              "range predicate left as a residual filter. The point side "
              "never shuffles; its type filter is pushed to the scan "
              "(asserted)."),
    )

    audit(
        "Hypertable rollup (one-pass grouping sets)",
        TP.hyper_rollup(events),
        requires=[r"Expand", r"HashAggregate.*Exchange.*HashAggregate"],
        forbids=[r"\) Exchange.*\) Exchange"],
        note=("rollup()/cube() compile to Expand (grouping-set replicas "
              "emitted MAP-side) + ONE partial->final aggregate exchange "
              "(asserted: no second Exchange) — every granularity in one "
              "scan. N separate groupBys would cost N scans + N shuffles "
              "for the same answer. sales_cube shares this exact shape."),
    )

    audit(
        "KMV distinct sketch",
        SKC.distinct_kmv(events, "event_type", "user_id"),
        requires=[r"HashAggregate.*Exchange.*HashAggregate", r"\) Window"],
        forbids=[r"SortMergeJoin"],
        note=("The (group, hash) dedup is a partial->final aggregate "
              "(asserted) so duplicate keys collapse map-side before the "
              "exchange; the k-min rank and the exact group count are "
              "BOTH window functions over the same grp partitioning on "
              "the deduped pairs — one shared window pass, no join at "
              "all (no SortMergeJoin, asserted; the earlier two-branch "
              "form recomputed the distinct twice and joined, measured "
              "2x slower at sf1)."),
    )

    audit(
        "DSIR importance weights (broadcast model join)",
        TS.dsir_weights(docs),
        requires=[r"BroadcastHashJoin"],
        forbids=[r"SortMergeJoin"],
        note=("The B-row hashed-feature log-ratio model BROADCASTS "
              "(asserted; never a SortMergeJoin of the token stream "
              "against the model), so corpus tokens cross only the final "
              "per-doc rollup exchange. Model building is one "
              "uniform-key partial agg bounded at B rows regardless of "
              "corpus size — the hashing trick's memory story, "
              "relationally."),
    )

    from pdf_parser_spark.corpus import packing as PKA
    from pdf_parser_spark.corpus import scrub as SCA
    from pdf_parser_spark.plans import relational as RA

    scd2_df = RA.scd2_history(
        events.select("event_id", "user_id", "ts"),
        events.select("event_id", "user_id", "ts")
        .withColumn("op", F.lit("u")).withColumn("cts", F.col("ts")),
        "event_id", "cts", "ts")
    audit(
        "SCD2 historization (union + lead window)",
        scd2_df,
        requires=[r"\) Window", r"Union"],
        forbids=[r"SortMergeJoin", r"CartesianProduct",
                 r"Exchange.*Exchange.*Exchange"],
        note=("Version intervals come from ONE union + ONE key-window "
              "pass (lead closes each version) — apply_changeset's cost "
              "class; a versions self-join would be O(versions^2) on "
              "duplicate-heavy keys and appears nowhere (asserted)."),
    )

    audit(
        "Document chunking (overlapping token windows)",
        PKA.chunk_documents(docs, size=32, overlap=8),
        requires=[r"\) Generate", r"explode", r"Scan parquet"],
        forbids=[r"Exchange", r"Python|ArrowEval"],
        note=("split once into a materialized array column, then "
              "explode(sequence)+slice/array_join: ZERO exchanges and "
              "zero Python (asserted) — the chunk fan-out runs map-side "
              "against the scan and writes partition-local at any "
              "corpus size."),
    )

    mix_plan_df = SCA.mixture_sample(
        docs, {"en": 0.5, "de": 0.25}, budget_frac=0.25)
    mix_plan = formatted(mix_plan_df)
    assert len(re.findall(r"BroadcastHashJoin", mix_plan)) >= 1, \
        "mixture_sample: threshold join must broadcast"
    assert not re.search(r"SortMergeJoin", mix_plan), \
        "mixture_sample: corpus rows shuffled through a join"
    sections.append((
        "Mixture resampling (budget-driven thresholds, broadcast back)",
        ("Pass 1 partial-aggs token mass to ONE long per stratum; the "
         "derived thresholds re-enter as a BroadcastHashJoin (asserted "
         "— never a SortMergeJoin of corpus rows) so pass 2 is a "
         "map-side filter: two scans, kilobytes moved, zero corpus "
         "shuffle."),
        compact(mix_plan)))

    audit(
        "SQ8 encode (scalar int8 quantization)",
        S.sq8_encode(embs),
        requires=[r"Scan parquet"],
        forbids=[r"Exchange", r"Python|ArrowEval"],
        note=("No codebook -> no search: one whole-stage-codegen "
              "transform per row, zero Python, zero shuffle (asserted). "
              "The codes table is 4x smaller than the float32 scan it "
              "replaces in sq8_topk's broadcast-query retrieval."),
    )

    from pdf_parser_spark.corpus import textstats as TS
    bm25_queries = spark.createDataFrame(
        [(0, "spark join window"), (1, "customer query fast")],
        "query_id long, query string")
    audit(
        "BM25 top-k retrieval (broadcast query terms, one corpus scan)",
        TS.bm25_topk(docs, bm25_queries, k=10),
        requires=[r"BroadcastHashJoin.*BroadcastHashJoin",
                  r"HashAggregate.*Exchange.*HashAggregate"],
        forbids=[r"SortMergeJoin", r"CartesianProduct",
                 r"PythonUDF|BatchEvalPython|ArrowEval|MapInPandas"],
        note=("Both joins broadcast (the ~|Q|-term set and the "
              "(query, term) map — asserted, no SortMergeJoin), so the "
              "corpus is ONE scan whose exploded tokens die at the "
              "broadcast semi-join unless they match a query term; the "
              "tf aggregate is partial->final (asserted) and document "
              "length rides along as max(dl) instead of re-joining the "
              "corpus. Document frequency is a window over the tf rows "
              "(bounded by |query terms| keys), never a second corpus "
              "pass. Every later Exchange carries only scored-candidate "
              "scalars; the text column crosses none of them."),
    )

    from pdf_parser_spark.plans import sketch as SKP
    cms_tf = docs.select(F.explode(F.split(F.lower(F.col("text")), " "))
                         .alias("term")) \
        .groupBy("term").agg(F.count(F.lit(1)).alias("exact"))
    audit(
        "Count-Min sketch build + probe (bounded frequency state)",
        SKP.cms_estimate(SKP.cms_sketch(cms_tf, "term", weight_col="exact"),
                         cms_tf.limit(20).select("term"), "term"),
        requires=[r"HashAggregate.*Exchange.*HashAggregate",
                  r"BroadcastHashJoin"],
        forbids=[r"SortMergeJoin", r"CartesianProduct",
                 r"PythonUDF|BatchEvalPython|ArrowEval|MapInPandas"],
        note=("The sketch aggregate is partial->final (asserted): "
              "map-side combine collapses every task to at most "
              "depth*width cells before the Exchange, so the shuffle "
              "carries O(tasks * 1024) longs regardless of input rows "
              "— the whole point of a sketch. The probe side "
              "broadcasts the <=1024-row sketch (asserted, no "
              "SortMergeJoin) and rolls up a min per candidate key."),
    )

    from pdf_parser_spark.corpus import links as LKP
    from pdf_parser_spark.corpus.scrub import weighted_sample
    pr_edges = LKP.extract_links(tr.filter(F.col("tool") == "html/v1")) \
        .select(F.col("conv_id").alias("src"),
                F.col("href").alias("dst")).localCheckpoint()
    pr_nodes = (pr_edges.select(F.col("src").alias("node"))
                .union(pr_edges.select("dst"))
                .distinct().localCheckpoint())
    pr_deg = pr_edges.groupBy(F.col("src").alias("node")) \
        .agg(F.count(F.lit(1)).alias("outdeg")).localCheckpoint()
    pr_n = pr_nodes.count()
    pr_r0 = pr_nodes.select(
        "node", F.round(F.lit(1.0 / pr_n), 9).alias("r")).localCheckpoint()
    audit(
        "PageRank iteration (contribution shuffle + checkpointed state)",
        LKP._pagerank_iteration(pr_nodes, pr_edges, pr_deg, pr_r0,
                                0.85, pr_n),
        requires=[r"HashAggregate.*Exchange.*HashAggregate",
                  r"Scan ExistingRDD"],
        forbids=[r"CartesianProduct", r"BroadcastNestedLoopJoin",
                 r"PythonUDF|BatchEvalPython|ArrowEval|MapInPandas"],
        note=("One iteration = one contribution aggregate "
              "(partial->final, asserted) keyed on dst plus a driver "
              "scalar for the dangling mass; the edge/node/rank state "
              "is localCheckpointed (Scan ExistingRDD, asserted) so "
              "NOTHING upstream re-runs per iteration — the sf1 run "
              "caught the un-checkpointed form re-running the regexp "
              "extraction every iteration (11x wall). No cartesian or "
              "nested-loop join anywhere (asserted)."),
    )
    audit(
        "Weighted sample (E-S exponential keys, top-k heap)",
        weighted_sample(docs, "n_chars", k=50),
        requires=[r"TakeOrderedAndProject"],
        forbids=[r"Exchange hashpartitioning", r"Join",
                 r"PythonUDF|BatchEvalPython|ArrowEval|MapInPandas"],
        note=("Weighted sampling WITHOUT replacement as one "
              "TakeOrderedAndProject (asserted): per-partition heap of "
              "k exponential keys, driver merge — no sequential draw, "
              "no global sort, no hash shuffle (asserted)."),
    )

    pmi_pairs = docs.select(F.explode(F.expr(
        "flatten(transform(split(lower(text), ' '), (x, i) -> "
        "transform(slice(split(lower(text), ' '), i + 2, 2), "
        "y -> struct(x AS x, y AS y))))")).alias("p")) \
        .select("p.x", "p.y") \
        .groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    audit(
        "PMI pair generation (zero-join forward windows)",
        pmi_pairs,
        requires=[r"Generate", r"HashAggregate.*Exchange.*HashAggregate"],
        forbids=[r"Join", r"CartesianProduct",
                 r"PythonUDF|BatchEvalPython|ArrowEval|MapInPandas"],
        note=("Co-occurrence pairs come from a transform+slice+flatten "
              "HOF inside one Generate — NO self-join of position-"
              "exploded tokens exists anywhere in the corpus-sized part "
              "of the plan (asserted); the pair counts are a partial->"
              "final aggregate (asserted). The only joins in the full "
              "pmi_cooccurrence operator attach unigram counts to the "
              "already-aggregated, min-count-filtered pair relation."),
    )

    from pdf_parser_spark.plans import stats as STT
    audit(
        "One-pass ANALYZE (multi-count-distinct Expand)",
        STT.table_stats(docs, ["doc_id", "text", "lang"]),
        requires=[r"Expand", r"HashAggregate.*Exchange.*HashAggregate"],
        forbids=[r"Join", r"CartesianProduct",
                 r"PythonUDF|BatchEvalPython|ArrowEval|MapInPandas"],
        note=("Every column's rows/nulls/exact-ndv from ONE scan: the "
              "multiple count(DISTINCT) aggregates compile to a single "
              "Expand + partial->final aggregate (asserted); no per-"
              "column rescan, no join, and the unpivot to long format "
              "is a stack() projection."),
    )
    audit(
        "Skew report (hot-key diagnosis)",
        STT.skew_report(docs, "lang", top=10),
        requires=[r"HashAggregate.*Exchange.*HashAggregate"],
        forbids=[r"Join", r"CartesianProduct",
                 r"PythonUDF|BatchEvalPython|ArrowEval|MapInPandas"],
        note=("One partial-agg Exchange of (key, count) longs; the "
              "top-N rank runs over the already-aggregated key counts "
              "(bounded by |distinct keys|), and the ppm share is "
              "integer arithmetic on a collected scalar — the corpus "
              "rows themselves cross one combine-collapsed shuffle."),
    )

    refine_df = S._refine_update_frame(
        S.with_norm(embs), [[0.1] * 64, [-0.1] * 64])
    audit(
        "k-means refine iteration (literal codebook, k x d summaries)",
        refine_df,
        requires=[r"HashAggregate.*Exchange.*HashAggregate",
                  r"\) Generate", r"posexplode"],
        forbids=[r"Join", r"CartesianProduct"],
        note=("Assignment is a pure map — the k x d codebook is a plan "
              "LITERAL and argmax is array_position over per-row fold "
              "dots, so no N x k frame and NO join exists anywhere "
              "(asserted); the update posexplodes into ONE partial->"
              "final aggregate (asserted) whose exchange carries at "
              "most k x d group summaries per task. Driver collects "
              "k x d scalars per iteration — the bounded-collect class "
              "kmeans_codebook already documents."),
    )

    q5_tables = {t: spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
                 for t in ("region", "nation", "customer", "supplier",
                           "orders", "lineitem")}
    q5 = RA.local_supplier_volume(
        q5_tables["region"], q5_tables["nation"], q5_tables["customer"],
        q5_tables["supplier"], q5_tables["orders"], q5_tables["lineitem"])
    q5_plan = formatted(q5)
    assert len(re.findall(r"BroadcastHashJoin", q5_plan)) >= 4, \
        "Q5: dimension chains must broadcast"
    assert not re.search(r"CartesianProduct|BroadcastNestedLoopJoin",
                         q5_plan), "Q5: non-equi join crept in"
    assert re.search(r"PushedFilters: .*GreaterThanOrEqual\(o_orderdate",
                     q5_plan), "Q5: date range not pushed to orders scan"
    sections.append((
        "TPC-H Q5 local supplier volume (6-way join ordering)",
        ("Every dimension chain (region→nation→customer; supplier⋈"
         "nation) is a BroadcastHashJoin (>=4 asserted), so the only "
         "wide work is the orders⋈lineitem equi-join — Catalyst "
         "derives the classic Q5 join order from the declarative "
         "plan, no hand-scheduling. The one-year window rides the "
         "orders scan as PushedFilters (asserted); revenue is exact "
         "int64 cents-squared, divided once at the end."),
        compact(q5_plan)))

    from pdf_parser_spark.io import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(tr, "plan_audit_bucketed", "conv_id", n_buckets=8,
                       sort_cols=("conv_id", "turn_idx"))
        bt = spark.table("plan_audit_bucketed")
        bagg_plan = formatted(
            bt.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")))
        assert "Exchange" not in bagg_plan, \
            "bucketed agg: shuffle crept back in"
        bjoin = bt.alias("a").join(bt.alias("b2"), "conv_id") \
            .groupBy("conv_id").count()
        bjoin_plan = formatted(bjoin)
        assert "Exchange hashpartitioning" not in bjoin_plan, \
            "bucketed self-join: shuffle crept back in"
        sections.append((
            "Bucketed-table layout (shuffle paid once, at ingest)",
            ("The transcript table written with bucketBy(conv_id) + "
             "sortBy(turn_idx): every conv_id-grain consumer "
             "(reassembly, conv_stats, sessionize, context windows, "
             "self-joins) reads co-located sorted buckets — the "
             "aggregation plan has ZERO Exchange and the self-join has "
             "ZERO shuffle exchanges (both asserted, broadcast "
             "disabled). At 100 TB this converts a per-query corpus "
             "shuffle into a one-time ingest layout; Iceberg's "
             "bucket(N, key) partition transform is the same decision "
             "on the io.py seam."),
            compact(bagg_plan) + "\n--- self-join ---\n"
            + compact(bjoin_plan, 20)))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS plan_audit_bucketed")

    wc_plan_df = TS.winnow_containment_pairs(docs, min_shared=2)
    wc_plan = formatted(wc_plan_df)
    assert not re.search(r"CartesianProduct|BroadcastNestedLoopJoin", wc_plan), \
        "winnow containment: cross join crept in"
    sections.append((
        "Winnow containment pairs (MOSS match step)",
        ("Sketch -> bounded bucket join: the fp self-join only sees "
         "fingerprints whose document frequency is <= max_fp_df (the "
         "common-fp drop is also the skew guard — no fingerprint bucket "
         "can exceed max_fp_df docs, so no task inherits quadratic pair "
         "work), pair counting is a partial->final aggregate on "
         "(id_a, id_b), and NO cross join appears anywhere (asserted)."),
        compact(wc_plan)))

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    urgent = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bj = BJ.bloom_prune_join(li, urgent, "l_orderkey", "o_orderkey")
        bj_plan = formatted(bj)
        # parent-first tree string: the fact-side Exchange must be a
        # PARENT of the MapInPandas probe (probe below the shuffle)
        bj_tree = bj._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"Exchange hashpartitioning\(l_orderkey.*MapInPandas",
                         bj_tree, re.S), \
            "bloom join: probe not below the fact-side shuffle"
        assert re.search(r"SortMergeJoin|ShuffledHashJoin", bj_plan), \
            "bloom join: equi-join missing"
        assert not re.search(r"CartesianProduct|BroadcastNestedLoopJoin",
                             bj_plan), "bloom join: non-equi join crept in"
        sections.append((
            "Bloom-pruned selective join (runtime-filter shape)",
            ("Broadcast disabled to model the 100 TB case (dim too big to "
             "broadcast, still selective): the fact side's plan is Scan -> "
             "codegen xxhash64 columns -> MapInPandas bitmap probe -> "
             "Exchange — the probe sits BELOW the join's shuffle "
             "(asserted: the Exchange's subtree contains the MapInPandas), "
             "so non-matching fact rows never move. The join itself stays "
             "a plain equi-join (asserted) and kills bloom false "
             "positives, making the result exactly the unpruned join."),
            compact(bj_plan)))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    inc = D.incremental_dedup_keep(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 != 0))
    inc_plan = formatted(inc)
    assert not re.search(r"CartesianProduct|BroadcastNestedLoopJoin",
                         inc_plan), "incremental dedup: cross join crept in"
    assert re.search(r"LeftAnti", inc_plan), \
        "incremental dedup: keep step must be a left-anti join"
    sections.append((
        "Incremental batch-vs-corpus dedup (probe the store, never rescan)",
        ("The daily-ingest shape: every join is key-bucketed (band "
         "collisions, candidate-pruned shingle Jaccard, md5 fingerprint "
         "semi-join) — NO cross join anywhere (asserted) — and the final "
         "keep is one LeftAnti against the union of drop sets (asserted). "
         "With the persisted band/fingerprint store passed in (the "
         "production path), the history side contributes only those two "
         "relations: cost scales with the BATCH, not the corpus."),
        compact(inc_plan)))

    # probe trainer: one GD iteration's gradient pass over checkpointed
    # features — reconstruct the trainer's internal frame shape
    from pdf_parser_spark.corpus import textstats as TSP

    probe_feats = TSP._probe_feature_frame(docs, 16, "rule", "doc_id", "text")
    probe_keep = TSP.quality_filter_keep(docs).select("doc_id")
    probe_data = (probe_feats
                  .join(probe_keep.withColumn("y", F.lit(1.0)),
                        "doc_id", "left")
                  .select("embedding",
                          F.coalesce("y", F.lit(0.0)).alias("y"))
                  .localCheckpoint())
    probe_grad = probe_data.select(
        F.expr(TSP._probe_z_units([0.0] * 20, 0.0)).alias("zu"),
        "y", "embedding").agg(*[
        F.sum(F.expr(
            f"cast(floor((zu / 1e9 - y) * element_at(embedding, {j + 1})"
            " * 1e9 + 0.5) as bigint)").cast("decimal(38,0)"))
        .alias(f"g{j}") for j in range(20)])
    audit(
        "Quality-probe GD iteration (gradient pass over checkpointed features)",
        probe_grad,
        requires=[r"HashAggregate.*Exchange.*HashAggregate",
                  r"SinglePartition",
                  r"Scan ExistingRDD"],
        forbids=[r"Join", r"CartesianProduct",
                 r"PythonUDF|BatchEvalPython|ArrowEval|MapInPandas"],
        note=("One trainer iteration = one partial->final aggregate over "
              "the ONCE-materialized feature frame (Scan ExistingRDD, "
              "asserted): the margin fold and all dims+1 gradient sums are "
              "codegen expressions (no Python, asserted), and the single "
              "Exchange carries dims+1 integer summaries per map task — "
              "model quality costs corpus PASSES, never corpus shuffles. "
              "The label join and BoW aggregation happen once, before the "
              "checkpoint, not per iteration."),
    )

    from pdf_parser_spark.corpus import links as LK
    from pdf_parser_spark.corpus import textstats as TQS

    html_tr = tr.filter(F.col("tool") == "html/v1")
    audit(
        "Domain-level link profile (one scan, one partial-agg shuffle)",
        LK.domain_stats(html_tr),
        requires=[r"Expand", r"Generate", r"hashpartitioning\(domain",
                  r"PushedFilters: \[IsNotNull\(tool\), EqualTo\(tool"],
        forbids=[r"PythonUDF|BatchEvalPython|ArrowEval|MapInPandas",
                 r"SortMergeJoin|BroadcastHashJoin"],
        note=("The C4/RefinedWeb domain-curation profile: href/anchor "
              "extraction, URL canonicalization, and eTLD+1 derivation are "
              "ALL codegen expressions in the scan's projection (regexp "
              "chain + split/element_at — no DOM parse, no Python, "
              "asserted), the zip is one Generate, the tool predicate is "
              "pushed to the parquet scan (asserted), and the rollup is "
              "Spark's two-phase distinct-aggregate: Expand + a partial "
              "agg BEFORE each Exchange, so what shuffles is the distinct "
              "(domain, url)/(domain, conv) combinations and then "
              "domain-grain rows — never raw links. No join anywhere: a "
              "100 TB crawl pays one scan plus a shuffle bounded by "
              "distinct URLs, not by link count."),
    )

    audit(
        "Blocklist filter, literal path (zero shuffle, zero join)",
        LK.blocklist_filter(html_tr, blocked=["ads.io", "example.co.uk"]),
        requires=[r"Scan parquet", r"Filter", r"exists"],
        forbids=[r"Exchange", r"Join",
                 r"PythonUDF|BatchEvalPython|ArrowEval|MapInPandas"],
        note=("The common blocklist shape (a driver-sized domain list): "
              "ONE codegen exists() over the href array evaluating "
              "canonicalize -> host -> registrable-domain -> IN per "
              "element, fused into the scan as a plain Filter. No "
              "Exchange, no Join, no Python (all asserted) — the corpus "
              "pays a projection, which is the only acceptable cost for a "
              "pre-filter that runs before everything else at 100 TB."),
    )

    audit(
        "Codegen probe features (the deployable head's feature block)",
        TQS.quality_codegen_features(docs),
        requires=[r"Scan parquet", r"Project"],
        forbids=[r"Exchange", r"Join",
                 r"PythonUDF|BatchEvalPython|ArrowEval|MapInPandas"],
        note=("The six UDF-free quality features (saturating length and "
              "mean-word-length squashes, stop ratio, distinct 1/2/3-gram "
              "fractions) compile to ONE whole-stage-codegen projection — "
              "zero Exchange, zero Python (asserted). This is what makes "
              "the codegen head the cheap 100 TB pre-filter: unlike the "
              "teacher-rule features (top2_cf/dup3_f pay a pandas UDF), "
              "scoring never leaves the JVM."),
    )

    _cg_dims = 64 + TQS.probe_extra_dims("codegen")
    audit(
        "Probe scoring pass (publish step, UDF-free end to end)",
        TQS.quality_probe_scores(
            docs, [0.01] * _cg_dims, 0.1, head="codegen"),
        requires=[r"aggregate\(zip_with", r"Scan parquet"],
        forbids=[r"PythonUDF|BatchEvalPython|ArrowEval|MapInPandas",
                 r"SortMergeJoin|CartesianProduct"],
        note=("The relation jobs/probe_job.py publishes as scores/: hashed "
              "BoW rollup + codegen features -> literal-weights "
              "integer-unit dot (aggregate(zip_with(...)) — asserted) -> "
              "fast sigmoid, with NO Python operator anywhere in the "
              "apply path (asserted) and the feature join broadcast. One "
              "token rollup per corpus pass is the entire shuffle cost of "
              "deploying the trained filter."),
    )

    return sections


def write_plans(sections: list, path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write(
            "# PLANS — physical-plan audit of the headline operators\n\n"
            "Generated by `python tools/plan_audit.py` (re-run after plan "
            "changes; each section's property is ASSERTED, not just "
            "described — the generator fails if a plan regresses).\n")
        for title, note, plan in sections:
            f.write(f"\n## {title}\n\n{note}\n\n```\n{plan}\n```\n")


def main() -> None:
    spark = get_spark("plan-audit", cpus="8")
    sections = audit_all(spark)
    write_plans(sections, os.path.join(REPO, "PLANS.md"))
    print(f"PLANS.md written with {len(sections)} audited plans")
    spark.stop()


if __name__ == "__main__":
    main()
