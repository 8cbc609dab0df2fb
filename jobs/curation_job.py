"""CLI corpus curation job: the spark-submit surface for the
post-filter, pre-tokenization stages of a training-data pipeline, in
the order production pipelines run them:

    0. domain blocklist    (optional --blocklist: drop docs linking to
                            blocked registrable domains — zero-shuffle
                            codegen exists() over the href array)
    1. PII scrub           (redact emails/IPs/phones to typed tokens)
    2. quality probe gate  (optional --quality-probe: train the linear
                            probe on the scrubbed corpus, keep docs the
                            probe scores positive, publish the scores +
                            agreement report beside the output)
    3. decontamination     (drop docs sharing 13-grams with the eval set)
    4. split assignment    (deterministic train/val/test banding)
    5. sequence packing    (concat-then-chunk layout for the dataloader)

    spark-submit --py-files engine.zip jobs/curation_job.py \\
        --input  /path/to/documents_ds \\
        --eval   /path/to/benchmark_ds \\
        --output /path/to/curated_ds \\
        [--ngram 13] [--val-frac 0.01] [--test-frac 0.01] \\
        [--budget 2048] [--buckets 64] [--mask-report /path]

Stages 1 and 3 are pure codegen projections (they fuse into the scan);
stage 2's only exchange carries contamination hits; stage 4 adds one
bucket exchange — so the whole job costs roughly one read, one window,
one write at any scale. Prints a per-stage funnel report from counts
the job computes anyway. ``--mask-report`` additionally writes the
merged contaminated token spans (the masking alternative to dropping).
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="corpus curation job")
    p.add_argument("--input", required=True, help="documents table/path")
    p.add_argument("--input-jsonl-schema", default=None,
                   help="treat --input as JSONL with this DDL schema; "
                        "malformed lines are counted and dropped with "
                        "lineage, not crashed on")
    p.add_argument("--eval", required=True,
                   help="benchmark/eval documents table/path")
    p.add_argument("--output", required=True, help="curated output")
    p.add_argument("--ngram", type=int, default=13)
    p.add_argument("--val-frac", type=float, default=0.01)
    p.add_argument("--test-frac", type=float, default=0.01)
    p.add_argument("--budget", type=int, default=2048)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--mask-report", default=None,
                   help="also write merged contaminated token spans here")
    p.add_argument("--blocklist", default=None,
                   help="comma-separated registrable domains; docs with "
                        "an absolute link into one are dropped before "
                        "anything else runs (zero-shuffle codegen filter)")
    p.add_argument("--quality-probe", choices=("codegen", "rule"),
                   default=None,
                   help="train the quality probe on the scrubbed corpus "
                        "and keep only docs it scores positive; writes "
                        "scores + the agreement report beside the output")
    p.add_argument("--probe-iters", type=int, default=None,
                   help="probe GD passes (default: the head's "
                        "measured-best point, codegen 4 / rule 2)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    spark = SparkSession.builder.appName("curation-job").getOrCreate()

    from pdf_parser_spark.corpus import decontam as DC
    from pdf_parser_spark.corpus import packing as PK
    from pdf_parser_spark.corpus import scrub as SC
    from pdf_parser_spark.io import read_table, write_table

    if args.input_jsonl_schema:
        from pdf_parser_spark.io import read_jsonl

        raw = read_jsonl(spark, args.input, args.input_jsonl_schema)
        n_corrupt = raw.filter(~F.col("ok")).count()
        docs = raw.filter("ok").drop("ok", "raw")
        if n_corrupt:
            print(f"[curation] {n_corrupt} malformed JSONL lines dropped "
                  "(lineage in the ok/raw columns of read_jsonl)")
    else:
        docs = read_table(spark, args.input)
    ev = read_table(spark, args.eval)
    n_in = docs.count()

    n_blocked = 0
    if args.blocklist:
        from pdf_parser_spark.corpus import links as LK

        blocked = [d.strip() for d in args.blocklist.split(",") if d.strip()]
        docs = LK.blocklist_filter(docs, blocked=blocked,
                                   text_col=args.text_col)
        n_blocked = n_in - docs.count()

    scrubbed = SC.pii_scrub(docs, text_col=args.text_col)
    n_pii = scrubbed.filter(
        (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")) > 0).count()

    probe_report = None
    if args.quality_probe:
        from pdf_parser_spark.corpus import textstats as TS

        head = args.quality_probe
        iters = (args.probe_iters if args.probe_iters is not None
                 else TS.PROBE_DEFAULT_ITERS[head])
        # train ONCE on the scrubbed corpus; the agreement report, the
        # published scores, and the keep filter all derive from this
        # single (w, b) — the probe_job publishing contract
        w, b, _n = TS.train_quality_probe(
            scrubbed, iters=iters, head=head,
            id_col=args.id_col, text_col=args.text_col)
        agree = TS.quality_probe_agreement_for(
            scrubbed, w, b, head=head,
            id_col=args.id_col, text_col=args.text_col).first()
        scores = TS.quality_probe_scores(
            scrubbed, w, b, head=head,
            id_col=args.id_col, text_col=args.text_col)
        write_table(scores, os.path.join(args.output + "_probe", "scores"))
        scores_m = read_table(
            spark, os.path.join(args.output + "_probe", "scores"))
        keep_ids = scores_m.filter(F.col("probe_keep") == 1) \
            .select(args.id_col)
        scrubbed = scrubbed.join(keep_ids, args.id_col, "left_semi")
        probe_report = {
            "head": head, "iters": iters,
            "n_rule_keep": agree.n_rule_keep,
            "n_probe_keep": agree.n_probe_keep,
            "agreement": round(agree.n_agree / max(agree.n_docs, 1), 4),
        }
        write_table(
            spark.createDataFrame(
                [(head, iters, agree.n_docs, agree.n_rule_keep,
                  agree.n_probe_keep, agree.n_agree)],
                "head string, iters long, n_docs long, n_rule_keep long, "
                "n_probe_keep long, n_agree long"),
            os.path.join(args.output + "_probe", "report"))

    if args.mask_report:
        # ONE gram pass serves both outputs: a doc is contaminated iff
        # it has at least one maskable span, so the span frame (written
        # anyway) doubles as the drop set — previously the scrub +
        # eval-gram + explode pipeline ran twice, doubling the most
        # expensive pass of the job.
        write_table(
            DC.contamination_spans(scrubbed, ev, n=args.ngram,
                                   text_col=args.text_col,
                                   id_col=args.id_col),
            args.mask_report)
        flagged = (read_table(spark, args.mask_report)
                   .select(args.id_col).distinct())
        kept = scrubbed.join(flagged, args.id_col, "left_anti")
    else:
        kept = DC.decontaminated_keep(scrubbed, ev, n=args.ngram,
                                      text_col=args.text_col,
                                      id_col=args.id_col)

    # Scratch-materialize the kept set ONCE: both the split projection
    # and the packing window would otherwise re-run scrub+decontam (the
    # same double-pass near_dedup_keep_docs once had — scratch parquet
    # beats .persist() here for the stats/broadcast reasons documented
    # in BASELINE.md). The "_" prefix keeps the scratch dir invisible to
    # partition discovery should anything glob the output's parent.
    out_path = args.output.rstrip("/")
    scratch = "{}/_kept_scratch".format(out_path.rsplit("/", 1)[0]) \
        if "/" in out_path else "_kept_scratch"
    scratch += "_" + out_path.rsplit("/", 1)[-1]
    write_table(kept, scratch)
    kept_m = read_table(spark, scratch)

    split = SC.split_assign(kept_m, args.val_frac, args.test_frac,
                            key_col=args.id_col)
    layout = PK.pack_sequences(kept_m, budget=args.budget,
                               n_buckets=args.buckets,
                               text_col=args.text_col,
                               id_col=args.id_col) \
        .select(args.id_col, "bucket", "tok_start", "seq_id", "n_seqs")
    curated = split.join(layout, args.id_col)
    write_table(curated, args.output)

    out = read_table(spark, args.output)
    n_out = out.count()
    by_split = {r.split: r.n for r in
                out.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
                .collect()}

    # The scratch copy is corpus-sized (scrubbed text included): delete
    # it once the real output is written and verified readable, or every
    # run leaks a full kept-corpus snapshot next to its output.
    jvm = spark._jvm
    jsc = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(scratch)
    path.getFileSystem(jsc).delete(path, True)

    probe_txt = (f" probe={probe_report}" if probe_report else "")
    print(f"curation funnel: in={n_in} blocked={n_blocked} "
          f"pii_docs={n_pii} kept={n_out} "
          f"dropped={n_in - n_blocked - n_out}"
          f"{probe_txt} splits={by_split}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
