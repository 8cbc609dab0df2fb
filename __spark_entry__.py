"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: layout extraction over the sf0.001 synthetic
transcripts (the reference's EP1 path, SURVEY.md section 3).

Each gate is one record in ``GATES``, registered by ``@_gate`` beside
its query function: the name, the Spark query, the DuckDB oracle, the
bench flag and the hostile suite it joins. ``queries()``,
``oracle_sql()`` and ``BENCH`` (the gates bench.py times) are views of
that registry. The file runs in family sections — extraction, dedup,
textstats, similarity, graph, relational, temporal, streaming — each
with the oracle helpers its gates share. What the gates cover:
  * extraction (layouts a002/a003/a004, question spans, HTML boilerplate
    spans, markdown sinks, conversation reassembly, lineage) — verified
    against the pure-Python reference-semantics oracle goldens
    (pdf_parser_spark/goldens.py) via DuckDB ``read_parquet``.
  * relational parity for the reference's operator inventory (region CASE
    C1, sessionization O2, separator grid search O4, footer predicate P6,
    whitespace normalization F2, windowed aggregation) over the driver's
    tables, with exact ANSI-SQL twins.
  * training-data corpus ops (dedup exact / n-gram Jaccard / MinHash-LSH /
    SimHash / SemDeDup / incremental batch-vs-store; ANN brute-force /
    LSH / IVF / SQ8; BM25 + hybrid RRF retrieval; language ID,
    quality scores + classifier apply, token/PMI/DF stats, surprisal,
    winnowing, DSIR; PII scrub, deterministic/stratified/weighted/
    temperature sampling, leakage-safe splits, decontamination, packing;
    multimodal binary plumbing) over documents/embeddings, with exact
    ANSI-SQL twins.
  * analytics/layout surface: TPC-H Q1/Q3/Q5 + cube, CDC merge + SCD2,
    as-of/interval joins, rollups, funnels, cohorts, anomaly z-scores,
    KMV/CMS/histogram sketches, one-pass ANALYZE + skew report, Z-order
    keys; link graph (extract / PageRank / HITS) over the transcripts.

Column names and integer widths are aligned on both sides (bigint/double)
so the driver's order-insensitive value-hash matches.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdf_parser_spark.corpus import decontam as DC  # noqa: E402
from pdf_parser_spark.corpus import dedup as D  # noqa: E402
from pdf_parser_spark.corpus import packing as PK  # noqa: E402
from pdf_parser_spark.corpus import scrub as SC  # noqa: E402
from pdf_parser_spark.corpus import similarity as S  # noqa: E402
from pdf_parser_spark.corpus import textstats as TS  # noqa: E402
from pdf_parser_spark.generator import (  # noqa: E402
    sf_from_dir, table_path, transcripts_path,
)
from pdf_parser_spark.goldens import ensure_goldens, golden_dir  # noqa: E402
from pdf_parser_spark.operators import convstats as CS  # noqa: E402
from pdf_parser_spark.operators import funnel as FN  # noqa: E402
from pdf_parser_spark.plans import bloomjoin as BJ  # noqa: E402
from pdf_parser_spark.plans import relational as R  # noqa: E402
from pdf_parser_spark.plans import sketch as SK  # noqa: E402
from pdf_parser_spark.plans import temporal as TP  # noqa: E402
from pdf_parser_spark.plans.layout import zvalue_sql as _zvalue_sql  # noqa: E402
from pdf_parser_spark.operators.extract import extract_layouts  # noqa: E402
from pdf_parser_spark.operators.markdown import to_markdown  # noqa: E402
from pdf_parser_spark.operators.questions import extract_questions  # noqa: E402
from pdf_parser_spark.operators.reassemble import reassemble_conversations  # noqa: E402
from pdf_parser_spark.operators.spans import boilerplate_spans  # noqa: E402

ORACLE_SF = 0.01  # the driver's correctness scale factor

# ---------------------------------------------------------------- helpers


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(table_path(sf_dir, name))


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The synthetic dataset is sharded, so the scan fans out on its own;
    # the guard only round-robins a degenerate single-split input
    # (extraction is turn-local, so repartitioning is semantics-free).
    from pdf_parser_spark.session import ensure_min_partitions

    df = spark.read.parquet(transcripts_path(sf_from_dir(sf_dir)))
    return ensure_min_partitions(df, spark.sparkContext.defaultParallelism)


def _longify(df: DataFrame) -> DataFrame:
    """Cast narrow ints to bigint and floats to double so Spark's result
    schema matches DuckDB's (count/len/sum are BIGINT there)."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (T.ByteType, T.ShortType, T.IntegerType)):
            cols.append(c.cast("long").alias(f.name))
        elif isinstance(f.dataType, T.FloatType):
            cols.append(c.cast("double").alias(f.name))
        else:
            cols.append(c)
    return df.select(cols)


def _vec_long(df: DataFrame, arr_col: str) -> DataFrame:
    """Flatten a gate result's single array column to (…, dim, val)
    long form. The driver's canonicalizer sorts RAW result columns with
    pandas before hashing, and a column of Python lists is unhashable
    there (r3: `centroid_by_label` failed with `TypeError: unhashable
    type: 'list'`). Gate wrappers only — the engine APIs keep their
    array schemas; the long form is the harness-portable projection."""
    others = [c for c in df.columns if c != arr_col]
    return df.select(*others, F.posexplode(arr_col).alias("dim", "val"))


def _drain_or_die(query, timeout: int = 600) -> None:
    """availableNow drain with a hard failure on timeout — reading the
    memory sink mid-stream would hash-compare a partial table and leave
    an active query squatting on the sink name."""
    if not query.awaitTermination(timeout):
        query.stop()
        raise RuntimeError(
            f"{query.name or query.id}: streaming drain exceeded "
            f"{timeout}s; aborting instead of comparing a partial "
            "memory-sink table")


def _golden(name: str) -> str:
    return os.path.join(golden_dir(ORACLE_SF), f"{name}.parquet")


_CANON = "trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))"


# ----------------------------------------------------------- registry


class Gate(NamedTuple):
    """One correctness gate. ``oracle`` returns its DuckDB SQL and runs
    only inside `oracle_sql`, after the goldens exist; the six gates that
    assign IVF cells pass `ivf_oracle_sql` itself, whose entry under the
    gate's name is the oracle. ``bench``: bench.py times the gate.
    ``hostile``: the hostile-table suite that also runs it (documents,
    embeddings, ivf, events or order), or None."""
    query: Callable[[SparkSession, str], DataFrame]
    oracle: Callable
    bench: bool
    hostile: str | None


GATES: dict[str, Gate] = {}


def _gate(name: str, oracle: Callable, bench: bool = False,
          hostile: str | None = None):
    """Register the decorated query as gate ``name``."""
    def register(query):
        if name in GATES:
            raise ValueError(f"gate {name!r} is already registered")
        GATES[name] = Gate(query, oracle, bench, hostile)
        return query
    return register


# ----------------------------------------------------------- entrypoints


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full layout extraction (EP1) on the sf0.001 transcripts."""
    return _layout_query("a003", page_only=False)(spark, "/root/testdata/sf0.001")


# ============================================================ extraction


_LAYOUT_SELECT = [
    "conv_id", "turn_idx", "page_number", "header", "footer",
    "left_column", "right_column",
]


def _question_layouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared prelude of the four question-path gates: page/v1 turns
    through the a004 extractor, pruned to the columns the span UDF
    consumes."""
    src = _transcripts(spark, sf_dir).filter(F.col("tool") == "page/v1")
    return extract_layouts(src, variant="a004", columns=[
        "conv_id", "turn_idx", "page_number", "left_column", "right_column"])


def _layout_query(variant: str, page_only: bool):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        src = _transcripts(spark, sf_dir)
        if page_only:
            src = src.filter(F.col("tool") == "page/v1")
        out = extract_layouts(src, variant=variant)
        return _longify(
            out.select(
                *_LAYOUT_SELECT,
                F.round("page_width", 2).alias("page_width"),
                F.round("page_height", 2).alias("page_height"),
                F.round("column_separator_position", 2).alias(
                    "column_separator_position"),
                F.map_contains_key("metadata", "error").cast("long").alias("is_error"),
            )
        )

    return run


def _layout_oracle(golden_name: str) -> str:
    return f"""
        SELECT conv_id, turn_idx::BIGINT AS turn_idx,
               page_number::BIGINT AS page_number,
               header, footer, left_column, right_column,
               round(page_width, 2) AS page_width,
               round(page_height, 2) AS page_height,
               round(column_separator_position, 2) AS column_separator_position,
               is_error::BIGINT AS is_error
        FROM read_parquet('{_golden(golden_name)}')
    """


_gate("layout_extract_a003", lambda: _layout_oracle("layouts"),
      bench=True)(_layout_query("a003", page_only=False))
_gate("layout_extract_a002", lambda: _layout_oracle("layouts_a002"))(
    _layout_query("a002", page_only=True))
_gate("layout_extract_a004", lambda: _layout_oracle("layouts_a004"))(
    _layout_query("a004", page_only=True))
# A000 (C3 line-extent classifier over stub-detected blocks; the ML
# detection stage S5/S6 is deterministically stubbed — see
# oracle/extractor.py's A000 section)
_gate("layout_extract_a000", lambda: _layout_oracle("layouts_a000"))(
    _layout_query("a000", page_only=True))


@_gate("layout_metadata_a003", lambda: f"""
            SELECT conv_id, turn_idx::BIGINT AS turn_idx,
                   total_text_blocks::BIGINT AS total_text_blocks,
                   header_blocks::BIGINT AS header_blocks,
                   footer_blocks::BIGINT AS footer_blocks,
                   left_column_blocks::BIGINT AS left_column_blocks,
                   right_column_blocks::BIGINT AS right_column_blocks,
                   vertical_lines_detected::BIGINT AS vertical_lines_detected,
                   colored_footer_regions::BIGINT AS colored_footer_regions,
                   has_footer, page_rect,
                   is_error::BIGINT AS is_error
            FROM read_parquet('{_golden("layout_meta")}')
        """)
def q_layout_meta(spark, sf_dir):
    # G2: the region-count/flag metadata map, field by field
    src = _transcripts(spark, sf_dir).filter(F.col("tool") == "page/v1")
    out = extract_layouts(src)
    m = F.col("metadata")
    return _longify(out.select(
        "conv_id", "turn_idx",
        *[m[k].cast("long").alias(k) for k in (
            "total_text_blocks", "header_blocks", "footer_blocks",
            "left_column_blocks", "right_column_blocks",
            "vertical_lines_detected", "colored_footer_regions")],
        m["has_footer"].alias("has_footer"),
        m["page_rect"].alias("page_rect"),
        F.map_contains_key(m, "error").cast("long").alias("is_error"),
    ))


@_gate("text_blocks", lambda: f"""
            SELECT conv_id, turn_idx::BIGINT AS turn_idx,
                   block_idx::BIGINT AS block_idx,
                   x0, y0, x1, y1, font_size, font_name, text
            FROM read_parquet('{_golden("blocks")}')
        """)
def q_blocks(spark, sf_dir):
    from pdf_parser_spark.operators.extract import extract_blocks

    src = _transcripts(spark, sf_dir).filter(F.col("tool") == "page/v1")
    return _longify(extract_blocks(src))


@_gate("region_text_clip", lambda: f"""
            SELECT conv_id, turn_idx::BIGINT AS turn_idx,
                   count(*)::BIGINT AS n_blocks,
                   string_agg(text, chr(10)
                              ORDER BY y0, x0, block_idx) AS clipped
            FROM read_parquet('{_golden("blocks")}')
            WHERE x0 >= 0.0 AND x1 <= 306.0 AND y0 >= 0.0 AND y1 <= 396.0
            GROUP BY conv_id, turn_idx
        """)
def q_region_clip(spark, sf_dir):
    # S7: clip to the top-left quadrant of a 612x792 page, then an
    # ordered per-turn reassembly of the clipped region's text
    from pdf_parser_spark.operators.extract import clip_blocks, extract_blocks

    src = _transcripts(spark, sf_dir).filter(F.col("tool") == "page/v1")
    clipped = clip_blocks(extract_blocks(src), 0.0, 0.0, 306.0, 396.0)
    return _longify(
        clipped.groupBy("conv_id", "turn_idx")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("y0", "x0", "block_idx", "text"))),
                    lambda s: s["text"]),
                "\n").alias("clipped"),
        ))


@_gate("question_spans", lambda: f"""
            SELECT conv_id, turn_idx::BIGINT AS turn_idx,
                   page_number::BIGINT AS page_number,
                   question_number::BIGINT AS question_number,
                   question_text, col_side,
                   start_offset::BIGINT AS start_offset,
                   end_offset::BIGINT AS end_offset
            FROM read_parquet('{_golden("questions")}')
        """, bench=True)
def q_questions(spark, sf_dir):
    return _longify(extract_questions(_question_layouts(spark, sf_dir)))


@_gate("questions_per_page", lambda: f"""
            SELECT conv_id, page_number::BIGINT AS page_number,
                   count(*)::BIGINT AS n_questions
            FROM read_parquet('{_golden("questions")}')
            GROUP BY 1, 2
        """)
def q_questions_per_page(spark, sf_dir):
    from pdf_parser_spark.operators.questions import questions_per_page

    return _longify(questions_per_page(
        extract_questions(_question_layouts(spark, sf_dir))))


@_gate("question_sinks_md", lambda: f"""
            WITH md AS (
                SELECT conv_id, question_number, turn_idx, col_side,
                       start_offset,
                       '## Question ' || question_number::VARCHAR
                       || chr(10) || chr(10) || question_text
                       || chr(10) || chr(10) || '*Page: '
                       || page_number::VARCHAR || ', Column: ' || col_side
                       || '*' || chr(10) || chr(10) || '---' || chr(10) AS q_md
                FROM read_parquet('{_golden("questions")}'))
            SELECT conv_id,
                   '# Questions' || chr(10) || chr(10) || '**Source:** '
                   || conv_id || chr(10) || chr(10) || '**Total Questions:** '
                   || count(*)::VARCHAR || chr(10) || chr(10) || '---'
                   || chr(10) || chr(10)
                   || string_agg(q_md, chr(10)
                                 ORDER BY question_number, turn_idx,
                                          col_side, start_offset)
                       AS questions_md,
                   count(*)::BIGINT AS total_questions
            FROM md GROUP BY conv_id
        """)
def q_question_md(spark, sf_dir):
    from pdf_parser_spark.operators.questions import questions_to_markdown

    return _longify(questions_to_markdown(
        extract_questions(_question_layouts(spark, sf_dir))))


@_gate("question_sinks_json", lambda: f"""
            SELECT conv_id,
                   to_json({{
                       'conv_id': conv_id,
                       'total_questions': count(*),
                       'questions': list({{
                           'question_number': question_number,
                           'question_text': question_text,
                           'page_number': page_number,
                           'col_side': col_side,
                           'start_offset': start_offset,
                           'end_offset': end_offset}}
                           ORDER BY question_number, turn_idx, col_side,
                                    question_text, page_number,
                                    start_offset, end_offset)
                   }})::VARCHAR AS questions_json
            FROM read_parquet('{_golden("questions")}')
            GROUP BY conv_id
        """)
def q_question_json(spark, sf_dir):
    from pdf_parser_spark.operators.questions import questions_to_json

    return questions_to_json(
        extract_questions(_question_layouts(spark, sf_dir)))


@_gate("html_content_spans", lambda: f"""
            SELECT conv_id, turn_idx::BIGINT AS turn_idx,
                   span_idx::BIGINT AS span_idx,
                   start_offset::BIGINT AS start_offset,
                   end_offset::BIGINT AS end_offset, block_md5
            FROM read_parquet('{_golden("html_spans")}')
        """, bench=True)
def q_html_spans(spark, sf_dir):
    return _longify(boilerplate_spans(_transcripts(spark, sf_dir)))


def _md(flavor):
    def run(spark, sf_dir):
        layouts = extract_layouts(_transcripts(spark, sf_dir), columns=[
            "conv_id", "turn_idx", "page_number", "header", "footer",
            "left_column", "right_column"])
        return _longify(
            to_markdown(layouts, flavor=flavor)
            .select("conv_id", "turn_idx", "markdown"))
    return run


_gate("markdown_c001", lambda: f"""
            SELECT conv_id, turn_idx::BIGINT AS turn_idx, md_c001 AS markdown
            FROM read_parquet('{_golden("markdown")}')
        """, bench=True)(_md("c001"))
_gate("markdown_c002", lambda: f"""
            SELECT conv_id, turn_idx::BIGINT AS turn_idx, md_c002 AS markdown
            FROM read_parquet('{_golden("markdown")}')
        """)(_md("c002"))


@_gate("conv_reassembly", lambda: f"""
            SELECT conv_id,
                   string_agg(left_column, chr(10) || chr(10) ORDER BY turn_idx) AS doc,
                   count(*)::BIGINT AS n_turns
            FROM read_parquet('{_golden("layouts")}')
            GROUP BY conv_id
        """, bench=True)
def q_reassemble(spark, sf_dir):
    # manual pruning through the MapInPandas barrier: only the three
    # columns reassembly needs cross the Arrow boundary
    layouts = extract_layouts(
        _transcripts(spark, sf_dir),
        columns=["conv_id", "turn_idx", "left_column"])
    return _longify(reassemble_conversations(layouts, text_col="left_column"))


@_gate("layout_error_lineage", lambda: f"""
            SELECT is_error::BIGINT AS is_error, count(*)::BIGINT AS n_turns
            FROM read_parquet('{_golden("layouts")}')
            GROUP BY is_error
        """)
def q_lineage(spark, sf_dir):
    layouts = extract_layouts(_transcripts(spark, sf_dir))
    return (
        layouts.withColumn(
            "is_error",
            F.map_contains_key("metadata", "error").cast("long"))
        .groupBy("is_error")
        .agg(F.count(F.lit(1)).alias("n_turns"))
    )


@_gate("layout_json_errors",
       # error rows have the fixed D1 degrade shape, so the expected JSON
       # is a printf over (page_number, re-escaped error message); Spark's
       # to_json double-escapes the already-JSON-encoded metadata value
       # exactly like DuckDB's to_json(varchar)
       lambda: f"""
            SELECT conv_id, turn_idx::BIGINT AS turn_idx,
                   '{{"page_number":' || page_number ||
                   ',"header":"","footer":"","left_column":"",' ||
                   '"right_column":"","page_width":0.0,"page_height":0.0,' ||
                   '"column_separator_position":null,"metadata":{{"error":' ||
                   to_json(error_raw)::VARCHAR || '}}}}' AS layout_json
            FROM read_parquet('{_golden("layout_errors")}')
        """)
def q_layout_json_errors(spark, sf_dir):
    # S8 gate for the D1 error-row JSON shape: the full to_json string
    # (incl. the NaN->null separator normalization) crosses the oracle
    from pdf_parser_spark.operators.jsonsink import layout_json_col

    layouts = extract_layouts(_transcripts(spark, sf_dir))
    return _longify(
        layouts.filter(F.map_contains_key("metadata", "error"))
        .select("conv_id", "turn_idx",
                layout_json_col().alias("layout_json")))


@_gate("page_select_extract", lambda: f"""
            SELECT conv_id, turn_idx::BIGINT AS turn_idx,
                   page_number::BIGINT AS page_number, left_column,
                   is_error::BIGINT AS is_error
            FROM read_parquet('{_golden("layouts")}')
            WHERE turn_idx BETWEEN 1 AND 3
        """)
def q_page_select(spark, sf_dir):
    from pdf_parser_spark.plans.pages import select_turns

    src = select_turns(_transcripts(spark, sf_dir), "2-4")
    return _longify(
        extract_layouts(src).select(
            "conv_id", "turn_idx", "page_number", "left_column",
            F.map_contains_key("metadata", "error").cast("long").alias("is_error"))
    )


@_gate("extractor_comparison", lambda: f"""
            SELECT 'a000' AS extractor_name, count(*)::BIGINT AS n_turns,
                   sum(length(left_column))::BIGINT AS left_chars,
                   sum(length(footer))::BIGINT AS footer_chars
            FROM read_parquet('{_golden("layouts_a000")}')
            UNION ALL
            SELECT 'a002', count(*)::BIGINT,
                   sum(length(left_column))::BIGINT,
                   sum(length(footer))::BIGINT
            FROM read_parquet('{_golden("layouts_a002")}')
            UNION ALL
            SELECT 'a003', count(*)::BIGINT,
                   sum(length(left_column))::BIGINT,
                   sum(length(footer))::BIGINT
            FROM read_parquet('{_golden("layouts")}')
            WHERE conv_id || ':' || turn_idx IN (
                      SELECT conv_id || ':' || turn_idx
                      FROM read_parquet('{_golden("layouts_a002")}'))
            UNION ALL
            SELECT 'a004', count(*)::BIGINT,
                   sum(length(left_column))::BIGINT,
                   sum(length(footer))::BIGINT
            FROM read_parquet('{_golden("layouts_a004")}')
        """)
def q_compare(spark, sf_dir):
    from pdf_parser_spark.operators.compare import compare_extractors

    src = _transcripts(spark, sf_dir).filter(F.col("tool") == "page/v1")
    return compare_extractors(
        src, variants=("a000", "a002", "a003", "a004")
    ).groupBy("extractor_name").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.length("left_column")).alias("left_chars"),
        F.sum(F.length("footer")).alias("footer_chars"),
    )


@_gate("curated_extraction", lambda: f"""
            WITH keep AS (
                SELECT conv_id
                FROM read_parquet('{transcripts_path(ORACLE_SF)}/*.parquet')
                GROUP BY conv_id HAVING count(*) <= 100)
            SELECT l.conv_id, l.turn_idx::BIGINT AS turn_idx,
                   l.page_number::BIGINT AS page_number, l.left_column,
                   l.is_error::BIGINT AS is_error
            FROM read_parquet('{_golden("layouts")}') l
            JOIN keep USING (conv_id)
        """)
def q_curated_extract(spark, sf_dir):
    # conversation-health curation GATES extraction: conversations
    # over the turn cap (the mega-conversation) are dropped before
    # the extraction map ever sees them — the pre-extraction filter
    # the north rule's curation grain exists for
    tr = _transcripts(spark, sf_dir)
    keep = (CS.conv_stats(tr)
            .filter(F.col("n_turns") <= 100).select("conv_id"))
    src = tr.join(keep, "conv_id")
    return _longify(
        extract_layouts(src).select(
            "conv_id", "turn_idx", "page_number", "left_column",
            F.map_contains_key("metadata", "error").cast("long")
            .alias("is_error")))


def _conv_windows_oracle() -> str:
    # one oracle, two plans: the salted window operator is DEFINED to
    # produce the unsalted operator's output — sharing (not copying)
    # the SQL makes that invariant structural
    return f"""
            WITH b AS (
                SELECT conv_id, turn_idx,
                       coalesce(role, '') || ': ' || coalesce(text, '')
                           AS line
                FROM read_parquet(
                    '{transcripts_path(ORACLE_SF)}/*.parquet')),
            s AS (
                SELECT conv_id, turn_idx,
                       row_number() OVER (PARTITION BY conv_id
                                          ORDER BY turn_idx) AS rn,
                       count(*) OVER (PARTITION BY conv_id) AS total,
                       list(line) OVER (PARTITION BY conv_id
                                        ORDER BY turn_idx
                                        ROWS BETWEEN CURRENT ROW
                                        AND 5 FOLLOWING) AS win
                FROM b)
            SELECT conv_id, ((rn - 1) // 3)::BIGINT AS win_idx,
                   turn_idx AS first_turn,
                   len(win)::BIGINT AS n_in_win,
                   array_to_string(win, chr(10)) AS win_text
            FROM s
            WHERE (rn - 1) % 3 = 0
              AND (rn - 1) // 3 < CASE WHEN total <= 6 THEN 1
                                       ELSE (total - 6 + 2) // 3 + 1 END
        """


@_gate("conv_context_windows", _conv_windows_oracle, bench=True)
def q_conv_windows(spark, sf_dir):
    return _longify(CS.conv_context_windows(
        _transcripts(spark, sf_dir), n_turns=6, stride=3))


@_gate("conv_windows_salted", _conv_windows_oracle, bench=True)
def q_conv_windows_salted(spark, sf_dir):
    # chunk=16 forces real multi-chunk salting on the fixture's
    # conversations; the oracle is conv_context_windows' — the
    # salted plan must produce IDENTICAL output
    return _longify(CS.conv_context_windows_salted(
        _transcripts(spark, sf_dir), n_turns=6, stride=3, chunk=16))


@_gate("multimodal_decode_meta", lambda: """
            SELECT doc_id,
                   octet_length(encode(text))::BIGINT AS n_bytes,
                   (octet_length(encode(text)) % 640 + 16)::BIGINT AS width,
                   ((octet_length(encode(text)) * 7) % 480 + 16)::BIGINT AS height,
                   'fake/v1' AS kind
            FROM documents
        """, hostile="documents")
def q_multimodal(spark, sf_dir):
    from pdf_parser_spark.corpus import multimodal as M

    binr = M.attach_binary(_tbl(spark, sf_dir, "documents"), kind="fake/v1")
    return M.decode_meta(binr).select(
        "doc_id", "n_bytes", "width", "height", "kind")


# ============================================================ dedup


# winnowing polynomial base powers mod 2^32 (shared with the engine)
_WPOW = TS.winnow_base_powers(5)

# shared winnowing CTE chain -> wfp(doc_id, fp): the engine's exact
# polynomial gram hash + w=4 rolling min (see textstats.winnow_fingerprints)
_WINNOW_CTES = f"""
    wc AS (
        SELECT doc_id, {_CANON} AS t FROM documents
        WHERE length({_CANON}) >= 5),
    wg AS (
        SELECT doc_id, t, unnest(range(0, length(t) - 4)) AS i
        FROM wc),
    wh AS (
        SELECT doc_id, i,
               (ord(substr(t, i + 1, 1))::BIGINT * {_WPOW[4]}
                + ord(substr(t, i + 2, 1))::BIGINT * {_WPOW[3]}
                + ord(substr(t, i + 3, 1))::BIGINT * {_WPOW[2]}
                + ord(substr(t, i + 4, 1))::BIGINT * {_WPOW[1]}
                + ord(substr(t, i + 5, 1))::BIGINT) % 4294967296 AS hv,
               length(t) - 4 AS n_grams
        FROM wg),
    wmin AS (
        SELECT doc_id, i, n_grams,
               min(hv) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN CURRENT ROW
                             AND 3 FOLLOWING) AS fpv
        FROM wh),
    wfp AS (
        SELECT DISTINCT doc_id, printf('%08x', fpv) AS fp
        FROM wmin WHERE i <= n_grams - 4)
"""

_SHINGLE_CTES = f"""
    canon AS (
        SELECT doc_id, string_split({_CANON}, ' ') AS toks FROM documents),
    grams AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE [array_to_string(toks[i:i+2], ' ')
                          FOR i IN range(1, len(toks) - 1)]
               END AS gs
        FROM canon),
    sh AS MATERIALIZED (SELECT DISTINCT doc_id, md5(unnest(gs)) AS sh FROM grams)
"""

_MINHASH_CTES = """
    mh AS (
        SELECT doc_id, seed, min(md5(sh || '#' || seed)) AS minhash
        FROM sh, (SELECT unnest(range(0, 8)) AS seed) s
        GROUP BY doc_id, seed),
    banded AS MATERIALIZED (
        SELECT doc_id, seed // 2 AS band,
               md5(array_to_string(
                   list_sort(list(seed || ':' || minhash)), '|')) AS band_key
        FROM mh GROUP BY doc_id, seed // 2),
    mh_pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id)
"""

JACCARD_THRESHOLD = 0.3


@_gate("dedup_exact", lambda: f"""
            SELECT md5({_CANON}) AS fp,
                   min(doc_id)::BIGINT AS keep_id,
                   count(*)::BIGINT AS dup_count
            FROM documents GROUP BY 1
        """, bench=True, hostile="documents")
def q_dedup_exact(spark, sf_dir):
    return _longify(D.exact_dedup(_tbl(spark, sf_dir, "documents")))


@_gate("dedup_ngram_jaccard", lambda: f"""
            WITH {_SHINGLE_CTES},
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 4) >= {JACCARD_THRESHOLD}
        """, hostile="documents")
def q_jaccard(spark, sf_dir):
    return _longify(D.ngram_jaccard_pairs(
        _tbl(spark, sf_dir, "documents"), threshold=JACCARD_THRESHOLD))


@_gate("dedup_minhash_lsh", lambda: f"""
            WITH {_SHINGLE_CTES},
            {_MINHASH_CTES}
            SELECT id_a, id_b FROM mh_pairs
        """, bench=True, hostile="documents")
def q_minhash(spark, sf_dir):
    return _longify(D.minhash_lsh_pairs(_tbl(spark, sf_dir, "documents")))


@_gate("dedup_jaccard_lsh", lambda: f"""
            WITH {_SHINGLE_CTES},
            {_MINHASH_CTES},
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT p.id_a, p.id_b, count(*) AS i
                FROM mh_pairs p
                JOIN sh a ON a.doc_id = p.id_a
                JOIN sh b ON b.doc_id = p.id_b AND b.sh = a.sh
                GROUP BY 1, 2)
            SELECT p.id_a, p.id_b,
                   round(coalesce(i, 0)::DOUBLE
                         / (sa.sz + sb.sz - coalesce(i, 0)), 4) AS jaccard
            FROM mh_pairs p
            LEFT JOIN inter ON inter.id_a = p.id_a AND inter.id_b = p.id_b
            JOIN sizes sa ON sa.doc_id = p.id_a
            JOIN sizes sb ON sb.doc_id = p.id_b
            WHERE round(coalesce(i, 0)::DOUBLE
                        / (sa.sz + sb.sz - coalesce(i, 0)), 4)
                  >= {JACCARD_THRESHOLD}
        """, hostile="documents")
def q_jaccard_lsh(spark, sf_dir):
    docs = _tbl(spark, sf_dir, "documents")
    return _longify(D.jaccard_on_candidates(
        D.minhash_lsh_pairs(docs), docs, threshold=JACCARD_THRESHOLD))


@_gate("dedup_simhash", lambda: f"""
            WITH toks AS (
                SELECT DISTINCT doc_id,
                       unnest(string_split({_CANON}, ' ')) AS tok
                FROM documents),
            th AS (
                SELECT doc_id,
                       (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 268435456
                     + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 16777216
                     + (strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) * 1048576
                     + (strpos('0123456789abcdef', substr(md5(tok), 4, 1)) - 1) * 65536
                     + (strpos('0123456789abcdef', substr(md5(tok), 5, 1)) - 1) * 4096
                     + (strpos('0123456789abcdef', substr(md5(tok), 6, 1)) - 1) * 256
                     + (strpos('0123456789abcdef', substr(md5(tok), 7, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substr(md5(tok), 8, 1)) - 1) AS h
                FROM toks),
            bits AS (
                SELECT doc_id, b.b, sum((h >> b.b) & 1) AS nset, count(*) AS ntok
                FROM th, (SELECT unnest(range(0, 32)) AS b) b
                GROUP BY doc_id, b.b),
            sig AS (
                SELECT doc_id,
                       sum(CASE WHEN nset * 2 > ntok
                                THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
                FROM bits GROUP BY doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
            FROM sig a, sig b
            WHERE a.doc_id < b.doc_id
              AND bit_count(xor(a.simhash, b.simhash)) <= 1
        """, bench=True, hostile="documents")
def q_simhash(spark, sf_dir):
    return _longify(D.simhash_pairs(_tbl(spark, sf_dir, "documents")))


@_gate("dedup_keep_docs", lambda: f"""
            WITH fp AS (
                SELECT md5({_CANON}) AS fp, min(doc_id) AS keep_id
                FROM documents GROUP BY 1)
            SELECT d.doc_id, d.lang, d.source, d.n_chars
            FROM documents d JOIN fp ON d.doc_id = fp.keep_id
        """, hostile="documents")
def q_dedup_keep(spark, sf_dir):
    docs = _tbl(spark, sf_dir, "documents")
    keep = D.exact_dedup(docs).select("keep_id")
    return _longify(
        docs.join(keep, docs["doc_id"] == keep["keep_id"])
        .select("doc_id", "lang", "source", "n_chars"))


@_gate("dedup_clusters", lambda: f"""
            WITH RECURSIVE {_SHINGLE_CTES},
            {_MINHASH_CTES},
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM mh_pairs
                UNION
                SELECT id_b, id_a FROM mh_pairs),
            reach(src, dst) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
            SELECT src AS doc_id,
                   least(src, min(dst))::BIGINT AS cluster_id
            FROM reach GROUP BY src
        """, hostile="documents")
def q_clusters(spark, sf_dir):
    pairs = D.minhash_lsh_pairs(_tbl(spark, sf_dir, "documents"))
    return _longify(D.dup_clusters(pairs))


@_gate("near_dedup_keep", lambda: f"""
            WITH RECURSIVE {_SHINGLE_CTES},
            {_MINHASH_CTES},
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT p.id_a, p.id_b, count(*) AS i
                FROM mh_pairs p
                JOIN sh a ON a.doc_id = p.id_a
                JOIN sh b ON b.doc_id = p.id_b AND b.sh = a.sh
                GROUP BY 1, 2),
            jac AS (
                SELECT p.id_a, p.id_b
                FROM mh_pairs p
                LEFT JOIN inter ON inter.id_a = p.id_a AND inter.id_b = p.id_b
                JOIN sizes sa ON sa.doc_id = p.id_a
                JOIN sizes sb ON sb.doc_id = p.id_b
                WHERE round(coalesce(i, 0)::DOUBLE
                            / (sa.sz + sb.sz - coalesce(i, 0)), 4)
                      >= {JACCARD_THRESHOLD}),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM jac
                UNION
                SELECT id_b, id_a FROM jac),
            reach(src, dst) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
            losers AS (
                SELECT src AS doc_id FROM reach
                GROUP BY src HAVING min(dst) < src)
            SELECT d.doc_id, d.lang, d.source, d.n_chars
            FROM documents d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
        """, bench=True, hostile="documents")
def q_near_dedup(spark, sf_dir):
    docs = _tbl(spark, sf_dir, "documents")
    return _longify(
        D.near_dedup_keep_docs(docs, threshold=JACCARD_THRESHOLD)
        .select("doc_id", "lang", "source", "n_chars"))


@_gate("near_dedup_keep_best",
       # same candidate->Jaccard->component chain as near_dedup_keep,
       # with the keeper rule swapped: survivor = argmax n_chars per
       # component (ties -> min doc_id) instead of min doc_id
       lambda: f"""
            WITH RECURSIVE {_SHINGLE_CTES},
            {_MINHASH_CTES},
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT p.id_a, p.id_b, count(*) AS i
                FROM mh_pairs p
                JOIN sh a ON a.doc_id = p.id_a
                JOIN sh b ON b.doc_id = p.id_b AND b.sh = a.sh
                GROUP BY 1, 2),
            jac AS (
                SELECT p.id_a, p.id_b
                FROM mh_pairs p
                LEFT JOIN inter ON inter.id_a = p.id_a AND inter.id_b = p.id_b
                JOIN sizes sa ON sa.doc_id = p.id_a
                JOIN sizes sb ON sb.doc_id = p.id_b
                WHERE round(coalesce(i, 0)::DOUBLE
                            / (sa.sz + sb.sz - coalesce(i, 0)), 4)
                      >= {JACCARD_THRESHOLD}),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM jac
                UNION
                SELECT id_b, id_a FROM jac),
            reach(src, dst) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
            clusters AS (
                SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
                FROM reach GROUP BY src),
            ranked AS (
                SELECT c.doc_id,
                       row_number() OVER (
                           PARTITION BY c.cluster_id
                           ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
                FROM clusters c JOIN documents d ON d.doc_id = c.doc_id),
            losers AS (SELECT doc_id FROM ranked WHERE rk > 1)
            SELECT d.doc_id, d.lang, d.source, d.n_chars
            FROM documents d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
        """, bench=True)
def q_near_dedup_best(spark, sf_dir):
    # quality-aware survivor: keep the longest (n_chars) member of
    # each near-dup cluster instead of the min-id one (ties -> min id)
    docs = _tbl(spark, sf_dir, "documents")
    return _longify(
        D.near_dedup_keep_best_docs(docs, "n_chars",
                                    threshold=JACCARD_THRESHOLD)
        .select("doc_id", "lang", "source", "n_chars"))


@_gate("dedup_incremental", lambda: f"""
            WITH {_SHINGLE_CTES},
            {_MINHASH_CTES},
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM banded a
                JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
                WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 != 0),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT c.id_a, c.id_b, count(*) AS i
                FROM cand c
                JOIN sh a ON a.doc_id = c.id_a
                JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
                GROUP BY 1, 2),
            near_drop AS (
                SELECT DISTINCT c.id_a AS doc_id
                FROM cand c
                LEFT JOIN inter ON inter.id_a = c.id_a AND inter.id_b = c.id_b
                JOIN sizes sa ON sa.doc_id = c.id_a
                JOIN sizes sb ON sb.doc_id = c.id_b
                WHERE round(coalesce(i, 0)::DOUBLE
                            / (sa.sz + sb.sz - coalesce(i, 0)), 4)
                      >= {JACCARD_THRESHOLD}),
            fp AS (SELECT doc_id, md5({_CANON}) AS fp FROM documents),
            exact_drop AS (
                SELECT DISTINCT nb.doc_id
                FROM fp nb JOIN fp h ON nb.fp = h.fp AND h.doc_id % 3 != 0
                WHERE nb.doc_id % 3 = 0)
            SELECT d.doc_id, d.lang, d.source, d.n_chars
            FROM documents d
            WHERE d.doc_id % 3 = 0
              AND d.doc_id NOT IN (SELECT doc_id FROM exact_drop)
              AND d.doc_id NOT IN (SELECT doc_id FROM near_drop)
        """, bench=True, hostile="documents")
def q_dedup_incremental(spark, sf_dir):
    docs = _tbl(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    history = docs.filter(F.col("doc_id") % 3 != 0)
    return _longify(
        D.incremental_dedup_keep(batch, history,
                                 threshold=JACCARD_THRESHOLD)
        .select("doc_id", "lang", "source", "n_chars"))


@_gate("leakage_safe_split",
       # family = near-dup component min-id (threshold-filtered Jaccard
       # pairs, same chain as near_dedup_keep), singletons their own;
       # split bands = split_assign's md5 rule applied to the FAMILY,
       # so every member of a family must carry the same label.
       lambda: f"""
            WITH RECURSIVE {_SHINGLE_CTES},
            {_MINHASH_CTES},
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT p.id_a, p.id_b, count(*) AS i
                FROM mh_pairs p
                JOIN sh a ON a.doc_id = p.id_a
                JOIN sh b ON b.doc_id = p.id_b AND b.sh = a.sh
                GROUP BY 1, 2),
            jac AS (
                SELECT p.id_a, p.id_b
                FROM mh_pairs p
                LEFT JOIN inter ON inter.id_a = p.id_a AND inter.id_b = p.id_b
                JOIN sizes sa ON sa.doc_id = p.id_a
                JOIN sizes sb ON sb.doc_id = p.id_b
                WHERE round(coalesce(i, 0)::DOUBLE
                            / (sa.sz + sb.sz - coalesce(i, 0)), 4)
                      >= {JACCARD_THRESHOLD}),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM jac
                UNION
                SELECT id_b, id_a FROM jac),
            reach(src, dst) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
            fam AS (
                SELECT d.doc_id,
                       coalesce((SELECT least(r.src, min(r.dst))
                                 FROM reach r WHERE r.src = d.doc_id
                                 GROUP BY r.src),
                                d.doc_id) AS family
                FROM documents d)
            SELECT doc_id, family,
                   CASE WHEN ('0x' || substr(md5(family || ':split'), 1, 8))
                                 ::UBIGINT < {int(0.1 * 2 ** 32)}
                        THEN 'val'
                        WHEN ('0x' || substr(md5(family || ':split'), 1, 8))
                                 ::UBIGINT < {int(0.2 * 2 ** 32)}
                        THEN 'test'
                        ELSE 'train' END AS split
            FROM fam
        """, bench=True)
def q_leakage_split(spark, sf_dir):
    return _longify(SC.leakage_safe_split(
        _tbl(spark, sf_dir, "documents"), 0.1, 0.1,
        threshold=JACCARD_THRESHOLD))


@_gate("doc_fingerprint", lambda: f"""
            SELECT doc_id, md5({_CANON}) AS fp FROM documents
        """, hostile="documents")
def q_fp(spark, sf_dir):
    return TS.fingerprint(_tbl(spark, sf_dir, "documents"))


@_gate("winnow_fingerprints",
       # gram hash = degree-4 polynomial over codepoints mod 2^32 (the
       # engine's vectorized rolling hash, textstats.WINNOW_BASE); every
       # per-char product stays < 2^53 so BIGINT arithmetic is exact
       lambda: f"""
            WITH {_WINNOW_CTES}
            SELECT doc_id, fp FROM wfp
        """, bench=True, hostile="documents")
def q_winnow(spark, sf_dir):
    return _longify(TS.winnow_fingerprints(_tbl(spark, sf_dir, "documents")))


@_gate("winnow_containment", lambda: f"""
            WITH {_WINNOW_CTES},
            rare AS (
                SELECT doc_id, fp FROM wfp
                WHERE fp IN (SELECT fp FROM wfp GROUP BY fp
                             HAVING count(*) <= 50)),
            sizes AS (SELECT doc_id, count(*) AS n_fps FROM rare
                      GROUP BY doc_id),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS shared_fps
                FROM rare a JOIN rare b
                  ON a.fp = b.fp AND a.doc_id < b.doc_id
                GROUP BY 1, 2
                HAVING count(*) >= 8)
            SELECT p.id_a, p.id_b, p.shared_fps::BIGINT AS shared_fps,
                   round(p.shared_fps / least(sa.n_fps, sb.n_fps), 4)
                       AS containment
            FROM pairs p
            JOIN sizes sa ON sa.doc_id = p.id_a
            JOIN sizes sb ON sb.doc_id = p.id_b
        """, bench=True, hostile="documents")
def q_winnow_containment(spark, sf_dir):
    return _longify(
        TS.winnow_containment_pairs(_tbl(spark, sf_dir, "documents")))


@_gate("dup_passage_stats", lambda: f"""
            WITH c AS (
                SELECT doc_id, string_split({_CANON}, ' ') AS w
                FROM documents),
            wins AS (
                SELECT doc_id,
                       CASE WHEN len(w) < 20
                            THEN [md5(array_to_string(w, ' '))]
                            ELSE [md5(array_to_string(w[i : i + 19], ' '))
                                  FOR i IN range(1, len(w) - 18)]
                       END AS hs
                FROM c),
            e AS (SELECT doc_id, unnest(hs) AS wh FROM wins),
            f AS (SELECT wh, count(*) AS cnt FROM e GROUP BY 1)
            SELECT e.doc_id,
                   count(*)::BIGINT AS n_windows,
                   sum(CASE WHEN f.cnt >= 2 THEN 1 ELSE 0 END)::BIGINT
                       AS n_dup_windows,
                   round(sum(CASE WHEN f.cnt >= 2 THEN 1 ELSE 0 END)
                         / count(*), 4) AS dup_frac
            FROM e JOIN f USING (wh)
            GROUP BY 1
        """, bench=True, hostile="documents")
def q_dup_passages(spark, sf_dir):
    return _longify(
        TS.dup_passage_stats(_tbl(spark, sf_dir, "documents"), win=20))


@_gate("dup_passage_scrub", lambda: f"""
            WITH c AS (
                SELECT doc_id, text, string_split({_CANON}, ' ') AS w
                FROM documents),
            pos AS (
                SELECT doc_id, nt, w,
                       unnest(CASE WHEN nt < 3 THEN [1]
                                   ELSE range(1, nt - 1) END) AS i
                FROM (SELECT doc_id, w, len(w) AS nt FROM c
                      WHERE text IS NOT NULL)),
            e AS (
                SELECT doc_id,
                       CASE WHEN nt < 3 THEN 1 ELSE i END AS s,
                       CASE WHEN nt < 3 THEN nt ELSE i + 2 END AS e,
                       CASE WHEN nt < 3
                            THEN md5(array_to_string(w, ' '))
                            ELSE md5(array_to_string(w[i : i + 2], ' '))
                       END AS wh
                FROM pos),
            rk AS (
                SELECT doc_id, s, e,
                       count(*) OVER (PARTITION BY wh) AS cnt,
                       row_number() OVER (PARTITION BY wh
                                          ORDER BY doc_id, s) AS rn
                FROM e),
            mask AS (SELECT doc_id, s, e FROM rk WHERE cnt >= 2 AND rn > 1),
            isl AS (
                SELECT doc_id, s, e,
                       CASE WHEN s > coalesce(
                                max(e) OVER (PARTITION BY doc_id
                                             ORDER BY s, e
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING), 0) + 1
                            THEN 1 ELSE 0 END AS b
                FROM mask),
            isl2 AS (
                SELECT doc_id, s, e,
                       sum(b) OVER (PARTITION BY doc_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS island
                FROM isl),
            spans AS (
                SELECT doc_id, min(s) AS s, max(e) AS e
                FROM isl2 GROUP BY doc_id, island),
            tokpos AS (
                SELECT doc_id, unnest(w) AS tok,
                       generate_subscripts(w, 1) AS p
                FROM c WHERE text IS NOT NULL),
            agg AS (
                SELECT tp.doc_id,
                       string_agg(tp.tok, ' ' ORDER BY tp.p) AS clean_text
                FROM tokpos tp
                WHERE NOT EXISTS (
                    SELECT 1 FROM spans sp
                    WHERE sp.doc_id = tp.doc_id
                      AND tp.p BETWEEN sp.s AND sp.e)
                GROUP BY 1),
            rem AS (
                SELECT doc_id, sum(e - s + 1) AS n_removed
                FROM spans GROUP BY doc_id)
            SELECT c.doc_id,
                   CASE WHEN c.text IS NULL THEN NULL
                        ELSE coalesce(a.clean_text, '') END AS clean_text,
                   CASE WHEN c.text IS NULL THEN NULL
                        ELSE len(c.w) END::BIGINT AS n_tokens,
                   (CASE WHEN c.text IS NULL THEN 0
                         ELSE coalesce(r.n_removed, 0) END)::BIGINT
                       AS n_removed
            FROM c
            LEFT JOIN agg a USING (doc_id)
            LEFT JOIN rem r USING (doc_id)
        """, bench=True, hostile="documents")
def q_dup_passage_scrub(spark, sf_dir):
    # win=3 so the 31-word-vocab corpus actually has duplicated
    # windows at sf0.01 (win=20 would make the rewrite a no-op)
    return _longify(
        TS.dup_passage_scrub(_tbl(spark, sf_dir, "documents"), win=3))


@_gate("decontaminate", lambda: f"""
            WITH c AS (
                SELECT doc_id, string_split({_CANON}, ' ') AS w
                FROM documents),
            g AS (
                SELECT doc_id,
                       NOT (len(w) = 1 AND w[1] = '') AS nonempty,
                       CASE WHEN len(w) < 13
                            THEN [md5(array_to_string(w, ' '))]
                            ELSE [md5(array_to_string(w[i : i + 12], ' '))
                                  FOR i IN range(1, len(w) - 11)]
                       END AS hs
                FROM c),
            ev AS (SELECT DISTINCT unnest(hs) AS gh FROM g
                   WHERE doc_id % 37 = 0 AND nonempty),
            e AS (SELECT doc_id, unnest(hs) AS gh FROM g),
            h AS (SELECT e.doc_id, count(*) AS n_hits
                  FROM e JOIN ev USING (gh) GROUP BY 1)
            SELECT g.doc_id, len(g.hs)::BIGINT AS n_grams,
                   coalesce(h.n_hits, 0)::BIGINT AS n_hits,
                   (coalesce(h.n_hits, 0) > 0)::BIGINT AS contaminated
            FROM g LEFT JOIN h USING (doc_id)
        """, bench=True, hostile="documents")
def q_decontaminate(spark, sf_dir):
    # Eval set = every 37th document — drawn from the corpus itself,
    # so contamination is guaranteed (those docs plus their
    # near-duplicate cluster mates share 13-grams).
    docs = _tbl(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 37 == 0)
    return _longify(
        DC.decontaminate(docs, ev, n=13)
        .withColumn("contaminated", F.col("contaminated").cast("long")))


@_gate("contamination_spans", lambda: f"""
            WITH c AS (
                SELECT doc_id, string_split({_CANON}, ' ') AS w
                FROM documents),
            g AS (
                SELECT doc_id, len(w) AS nt,
                       NOT (len(w) = 1 AND w[1] = '') AS nonempty,
                       CASE WHEN len(w) < 13
                            THEN [struct_pack(p := 1,
                                  gh := md5(array_to_string(w, ' ')))]
                            ELSE [struct_pack(p := i,
                                  gh := md5(array_to_string(w[i : i + 12],
                                                            ' ')))
                                  FOR i IN range(1, len(w) - 11)]
                       END AS hs
                FROM c),
            ev AS (SELECT DISTINCT u.gh AS gh
                   FROM (SELECT unnest(hs) AS u FROM g
                         WHERE doc_id % 37 = 0 AND nonempty)),
            e AS (SELECT doc_id, nt, unnest(hs) AS u FROM g),
            h AS (SELECT e.doc_id, e.u.p AS w_start,
                         least(e.u.p + 12, e.nt) AS w_end
                  FROM e JOIN ev ON ev.gh = e.u.gh),
            i AS (SELECT doc_id, w_start, w_end,
                         CASE WHEN w_start > coalesce(
                                  max(w_end) OVER (
                                      PARTITION BY doc_id
                                      ORDER BY w_start, w_end
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) + 1
                              THEN 1 ELSE 0 END AS b
                  FROM h),
            s AS (SELECT doc_id, w_start, w_end,
                         sum(b) OVER (PARTITION BY doc_id
                                      ORDER BY w_start, w_end
                                      ROWS UNBOUNDED PRECEDING) AS island
                  FROM i)
            SELECT doc_id, min(w_start)::BIGINT AS tok_start,
                   max(w_end)::BIGINT AS tok_end,
                   count(*)::BIGINT AS n_windows
            FROM s GROUP BY doc_id, island
        """, bench=True, hostile="documents")
def q_contamination_spans(spark, sf_dir):
    docs = _tbl(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 37 == 0)
    return _longify(DC.contamination_spans(docs, ev, n=13))


@_gate("conv_fingerprints", lambda: f"""
            SELECT conv_id,
                   md5(string_agg(md5(coalesce(text, '')), ''
                                  ORDER BY turn_idx)) AS fp,
                   count(*)::BIGINT AS n_turns
            FROM read_parquet('{transcripts_path(ORACLE_SF)}/*.parquet')
            GROUP BY conv_id
        """)
def q_conv_fingerprints(spark, sf_dir):
    return _longify(CS.conv_fingerprint(_transcripts(spark, sf_dir)))


@_gate("conv_dup_groups", lambda: f"""
            WITH fps AS (
                SELECT conv_id,
                       md5(string_agg(md5(coalesce(text, '')), ''
                                      ORDER BY turn_idx)) AS fp,
                       count(*)::BIGINT AS n_turns
                FROM read_parquet('{transcripts_path(ORACLE_SF)}/*.parquet')
                GROUP BY conv_id)
            SELECT fp, count(*)::BIGINT AS n_convs,
                   min(conv_id) AS keep_conv_id,
                   max(n_turns)::BIGINT AS n_turns
            FROM fps GROUP BY fp
        """, bench=True)
def q_conv_dup_groups(spark, sf_dir):
    return _longify(CS.conv_exact_dup_groups(_transcripts(spark, sf_dir)))


# conversation-grain NEAR-dup readiness: the document MinHash stack
# composed onto the north-rule table — conversations concatenated by
# the skew-safe two-stage merge, then per-conversation MinHash
# signatures (the LSH banding/pair machinery applies unchanged with
# id_col='conv_id'; this corpus has no near-dup conversations, so the
# signature relation is the value-checkable surface)
@_gate("conv_minhash_sigs", lambda: f"""
            WITH conv_docs AS (
                SELECT conv_id,
                       string_agg(text, chr(10) ORDER BY turn_idx) AS text
                FROM read_parquet('{transcripts_path(ORACLE_SF)}/*.parquet')
                WHERE turn_idx < 40
                GROUP BY conv_id),
            canon AS (
                SELECT conv_id, string_split({_CANON}, ' ') AS toks
                FROM conv_docs),
            grams AS (
                SELECT conv_id,
                       CASE WHEN len(toks) < 3
                            THEN [array_to_string(toks, ' ')]
                            ELSE [array_to_string(toks[i:i+2], ' ')
                                  FOR i IN range(1, len(toks) - 1)]
                       END AS gs
                FROM canon),
            sh AS MATERIALIZED (SELECT DISTINCT conv_id, md5(unnest(gs)) AS sh FROM grams)
            SELECT conv_id, seed::BIGINT AS seed,
                   min(md5(sh || '#' || seed)) AS minhash
            FROM sh, (SELECT unnest(range(0, 8)) AS seed) s
            GROUP BY conv_id, seed
        """)
def q_conv_minhash_sigs(spark, sf_dir):
    from pdf_parser_spark.operators.reassemble import (
        reassemble_conversations)
    # gate-only turn cap: the sf0.01 mega-conversation concatenates to
    # a ~10^5-token doc whose shingle stream costs the ORACLE minutes
    # (DuckDB evaluates the gram comprehension single-threaded); the
    # cap bounds doc length without changing what the gate checks
    conv_docs = reassemble_conversations(
        _transcripts(spark, sf_dir).filter(F.col("turn_idx") < 40),
        text_col="text", sep="\n")
    return _longify(D.minhash_signatures(
        conv_docs, id_col="conv_id", text_col="doc"))


# conversation-grain near-dedup END TO END: the full LSH → Jaccard →
# components → keep-min pipeline with id_col='conv_id'. Gate scope:
# a deterministic ~1/16 conversation subset (md5(conv_id) starts
# with '0' — engine-neutral selector) with turn_idx < 40; the full
# corpus repeats turn text across conversations by construction, so
# an unrestricted gate near-dups almost EVERYTHING into one giant
# component and the oracle's candidate×shingle join goes quadratic
# in single-threaded DuckDB. Every subset conversation gets a
# '_dup'-suffixed clone with a 3-token tail appended (Jaccard ≈ 1);
# the pipeline must drop every clone (original wins: 'x' < 'x_dup')
# plus any natural near-dup losers — value-hashed against the
# recursive-CTE component oracle.
@_gate("conv_near_dedup_keep", lambda: f"""
            WITH RECURSIVE base AS (
                SELECT conv_id,
                       string_agg(text, chr(10) ORDER BY turn_idx) AS text
                FROM read_parquet('{transcripts_path(ORACLE_SF)}/*.parquet')
                WHERE turn_idx < 40
                GROUP BY conv_id),
            sub AS (SELECT * FROM base WHERE md5(conv_id) LIKE '0%'),
            documents AS (
                SELECT conv_id AS doc_id, text FROM sub
                UNION ALL
                SELECT conv_id || '_dup', text || ' dup marker tail'
                FROM sub),
            {_SHINGLE_CTES},
            {_MINHASH_CTES},
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT p.id_a, p.id_b, count(*) AS i
                FROM mh_pairs p
                JOIN sh a ON a.doc_id = p.id_a
                JOIN sh b ON b.doc_id = p.id_b AND b.sh = a.sh
                GROUP BY 1, 2),
            jac AS (
                SELECT p.id_a, p.id_b
                FROM mh_pairs p
                LEFT JOIN inter ON inter.id_a = p.id_a AND inter.id_b = p.id_b
                JOIN sizes sa ON sa.doc_id = p.id_a
                JOIN sizes sb ON sb.doc_id = p.id_b
                WHERE round(coalesce(i, 0)::DOUBLE
                            / (sa.sz + sb.sz - coalesce(i, 0)), 4)
                      >= {JACCARD_THRESHOLD}),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM jac
                UNION
                SELECT id_b, id_a FROM jac),
            reach(src, dst) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
            losers AS (
                SELECT src AS doc_id FROM reach
                GROUP BY src HAVING min(dst) < src)
            SELECT d.doc_id AS conv_id, length(d.text)::BIGINT AS n_chars
            FROM documents d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
        """)
def q_conv_near_dedup(spark, sf_dir):
    from pdf_parser_spark.operators.reassemble import (
        reassemble_conversations)
    base = reassemble_conversations(
        _transcripts(spark, sf_dir).filter(F.col("turn_idx") < 40),
        text_col="text", sep="\n").select("conv_id", "doc") \
        .where(F.md5("conv_id").startswith("0"))
    planted = base.select(
        F.concat(F.col("conv_id"), F.lit("_dup")).alias("conv_id"),
        F.concat(F.col("doc"), F.lit(" dup marker tail")).alias("doc"))
    corpus = base.unionByName(planted)
    kept = D.near_dedup_keep_docs(
        corpus, threshold=JACCARD_THRESHOLD,
        id_col="conv_id", text_col="doc")
    return kept.select(
        "conv_id", F.length("doc").cast("long").alias("n_chars"))


# ============================================================ textstats


_MARKER_SQL = {
    lang: ", ".join(f"'{w}'" for w in words)
    for lang, words in TS.LANG_MARKERS.items()
}
_STOP_SQL = ", ".join(f"'{w}'" for w in TS.STOPWORDS)

# deterministic stand-in weights for the quality-classifier apply gate
# (a real deployment fits these driver-side over a labeled sample)
QMODEL_W = [round(((i * 37) % 21 - 10) / 10, 2) for i in range(64)]
_QMODEL_SQL = ", ".join(repr(float(w)) for w in QMODEL_W)

_SURPRISAL_CTES = f"""
            toks AS (
                SELECT doc_id, unnest(string_split({_CANON}, ' ')) AS tok
                FROM documents),
            tf AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
            tot AS (SELECT sum(cnt)::DOUBLE AS total FROM tf),
            vocab AS (SELECT tok, cnt FROM tf
                      ORDER BY cnt DESC, tok ASC LIMIT 16)"""


def _bow_ctes(src: str, idc: str) -> str:
    """Hashed bag-of-words CTE chain over ``src`` (a (id, txt)
    relation with txt already canonical): md5-bucket counts →
    dense 64-dim vector → 6dp-rounded unit embedding, mirroring
    `textstats.hashed_bow_embeddings` term for term."""
    return f"""
            btoks AS (
                SELECT {idc}, unnest(string_split(txt, ' ')) AS tok
                FROM {src}),
            bcnt AS (
                SELECT {idc},
                       (('0x' || substr(md5(tok), 1, 8))::UBIGINT
                        % 64)::BIGINT AS b,
                       count(*)::BIGINT AS c
                FROM btoks GROUP BY 1, 2),
            bvecs AS (
                SELECT {idc}, list(b ORDER BY b) AS bs,
                       list(c ORDER BY b) AS cs
                FROM bcnt GROUP BY 1),
            braw AS (
                SELECT {idc},
                       [coalesce(cs[list_position(bs, d)], 0)::DOUBLE
                        FOR d IN range(0, 64)] AS r
                FROM bvecs),
            bemb AS (
                SELECT {idc},
                       [round(x / sqrt(list_inner_product(r, r)), 6)
                        FOR x IN r] AS embedding
                FROM braw)"""


# C4/Gopher rule feature chain -> feats(doc_id, n_tokens,
# stopword_ratio, top2_char_frac, dup3_frac); shared by the
# quality_filter_keep gate and the probe-trainer twins.
_QRULE_CTES = f"""c AS (
                SELECT doc_id, {_CANON} AS t,
                       length({_CANON}) AS nc,
                       string_split({_CANON}, ' ') AS w
                FROM documents),
            qs AS (
                SELECT doc_id,
                       len(string_split(text, ' ')) AS n_tokens,
                       round(len(list_filter(string_split(lower(text), ' '),
                                             x -> x IN ({_STOP_SQL})))::DOUBLE
                             / greatest(len(string_split(text, ' ')), 1), 4)
                           AS stopword_ratio
                FROM documents),
            e2 AS (
                SELECT doc_id,
                       unnest([w[i] || ' ' || w[i + 1]
                               FOR i IN range(1, len(w))]) AS gram
                FROM c WHERE len(w) >= 2),
            c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM e2
                   GROUP BY 1, 2),
            t2 AS (
                SELECT doc_id, gram, cnt,
                       row_number() OVER (
                           PARTITION BY doc_id
                           ORDER BY cnt DESC, gram DESC) AS rn
                FROM c2),
            e3 AS (
                SELECT doc_id,
                       unnest([w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
                               FOR i IN range(1, len(w) - 1)]) AS gram
                FROM c WHERE len(w) >= 3),
            c3 AS (SELECT doc_id, gram, count(*) AS cnt FROM e3
                   GROUP BY 1, 2),
            a3 AS (
                SELECT doc_id, sum(cnt) AS n3,
                       sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dup
                FROM c3 GROUP BY doc_id),
            feats AS (
                SELECT c.doc_id,
                       qs.n_tokens, qs.stopword_ratio,
                       round(coalesce(t2.cnt * length(t2.gram), 0)
                             / greatest(c.nc, 1), 4) AS top2_char_frac,
                       round(coalesce(a3.dup, 0)
                             / greatest(coalesce(a3.n3, 0), 1), 4)
                           AS dup3_frac
                FROM c
                JOIN qs ON qs.doc_id = c.doc_id
                LEFT JOIN t2 ON t2.doc_id = c.doc_id AND t2.rn = 1
                LEFT JOIN a3 ON a3.doc_id = c.doc_id)"""


_PROBE_ITERS = 2
_PROBE_LR = 0.5
_PROBE_SCALE = 16.0


def _probe_iter(i: int) -> str:
    """One unrolled probe GD step over the long-form features `x`:
    margin = exact 1e-9 integer-unit dot + bias units, fast-sigmoid
    squash at 6dp, per-dim gradient unit sums, 6dp weight update —
    textstats.train_quality_probe's arithmetic, relationally."""
    return f"""
            zu{i} AS (
                SELECT x.doc_id, x.y,
                       sum(CAST(floor(x.xv * w.w * 1e9 + 0.5) AS BIGINT))
                           AS zu
                FROM x JOIN w{i - 1} w USING (dim) GROUP BY 1, 2),
            z{i} AS (
                SELECT doc_id, y,
                       floor((zu + (SELECT CAST(floor(b * 1e9 + 0.5)
                                                AS BIGINT)
                                    FROM b{i - 1}))
                             / 1e9 * 1e6 + 0.5) / 1e6 AS z
                FROM zu{i}),
            p{i} AS MATERIALIZED (
                SELECT doc_id, y,
                       floor(0.5 * (1.0 + z / (1.0 + abs(z))) * 1e6 + 0.5)
                           / 1e6 AS p
                FROM z{i}),
            g{i} AS (
                SELECT x.dim,
                       sum(CAST(floor((p.p - x.y) * x.xv * 1e9 + 0.5)
                                AS BIGINT)) AS gu
                FROM x JOIN p{i} p USING (doc_id) GROUP BY 1),
            gb{i} AS (
                SELECT sum(CAST(floor((p - y) * 1e9 + 0.5) AS BIGINT))
                           AS gu
                FROM p{i}),
            w{i} AS MATERIALIZED (
                SELECT w.dim,
                       floor((w.w - {_PROBE_LR!r} * (g.gu / 1e9) / n)
                             * 1e6 + 0.5) / 1e6 AS w
                FROM w{i - 1} w JOIN g{i} g USING (dim), nst),
            b{i} AS MATERIALIZED (
                SELECT floor((b.b - {_PROBE_LR!r} * (gu / 1e9) / n)
                             * 1e6 + 0.5) / 1e6 AS b
                FROM b{i - 1} b, gb{i}, nst)"""


# The probe's UDF-free codegen feature block — mirrors
# `textstats.quality_codegen_features` term for term: raw-split
# token count + stop ratio (the rule's conventions), canonical-text
# word grams, saturating squashes at 6dp, fractions at 4dp.
_CG_CTES = f"""cgw AS (
                SELECT doc_id,
                       len(string_split(text, ' ')) AS nt,
                       round(len(list_filter(string_split(lower(text), ' '),
                                             x -> x IN ({_STOP_SQL})))::DOUBLE
                             / greatest(len(string_split(text, ' ')), 1), 4)
                           AS stop_r,
                       length({_CANON}) AS nc,
                       string_split({_CANON}, ' ') AS w
                FROM documents),
            cgm AS (
                SELECT doc_id, nt, stop_r, w,
                       (nc - (len(w) - 1)) / len(w) AS mwl
                FROM cgw),
            cgf AS (
                SELECT doc_id,
                       floor(nt / (nt + 100.0) * 1e6 + 0.5) / 1e6 AS len_sq,
                       stop_r,
                       floor(mwl / (mwl + 10.0) * 1e6 + 0.5) / 1e6
                           AS mwl_sq,
                       round(len(list_distinct(w)) / len(w)::DOUBLE, 4)
                           AS uniq1_r,
                       CASE WHEN len(w) >= 2 THEN
                            round(len(list_distinct(
                                [w[i] || ' ' || w[i + 1]
                                 FOR i IN range(1, len(w))]))
                                  / (len(w) - 1)::DOUBLE, 4)
                       ELSE 1.0 END AS uniq2_r,
                       CASE WHEN len(w) >= 3 THEN
                            round(len(list_distinct(
                                [w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
                                 FOR i IN range(1, len(w) - 1)]))
                                  / (len(w) - 2)::DOUBLE, 4)
                       ELSE 1.0 END AS uniq3_r
                FROM cgm)"""


_PFE_RULE = """pfe AS (
                SELECT b.doc_id,
                       list_concat(b.embedding,
                           [floor(f.n_tokens / (f.n_tokens + 100.0)
                                  * 1e6 + 0.5) / 1e6,
                            f.stopword_ratio, f.top2_char_frac,
                            f.dup3_frac]) AS e
                FROM bemb b JOIN feats f USING (doc_id))"""


_PFE_CG = """pfe AS (
                SELECT b.doc_id,
                       list_concat(b.embedding,
                           [g.len_sq, g.stop_r, g.mwl_sq,
                            g.uniq1_r, g.uniq2_r, g.uniq3_r]) AS e
                FROM bemb b JOIN cgf g USING (doc_id))"""


def _probe_train_sql(iters: int, head: str) -> str:
    """Full relational training twin for `train_quality_probe`
    (class-centroid init + `iters` unrolled GD steps), with the
    feature block selected by ``head`` — 'rule' appends the 4
    teacher-rule features, 'codegen' the 6 UDF-free ones. Weak
    labels always come from the teacher rule (qkeep)."""
    extra = f"{_CG_CTES},\n            " if head == "codegen" else ""
    pfe = _PFE_CG if head == "codegen" else _PFE_RULE
    return (
        f"""src AS (SELECT doc_id, {_CANON} AS txt FROM documents),
            {_bow_ctes("src", "doc_id")},
            {_QRULE_CTES},
            qkeep AS (
                SELECT doc_id FROM feats
                WHERE n_tokens >= 10 AND stopword_ratio >= 0.0001
                  AND top2_char_frac <= 0.20 AND dup3_frac <= 0.55),
            {extra}{pfe},
            lab AS MATERIALIZED (
                SELECT p.doc_id, p.e,
                       CASE WHEN k.doc_id IS NULL THEN 0.0 ELSE 1.0 END
                           AS y
                FROM pfe p LEFT JOIN qkeep k USING (doc_id)),
            nst AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM lab),
            xl AS (SELECT doc_id, y, unnest(range(1, len(e) + 1)) AS i, e
                   FROM lab),
            x AS MATERIALIZED (
                SELECT doc_id, y, (i - 1)::BIGINT AS dim, e[i] AS xv
                  FROM xl),
            cls AS (
                SELECT y, dim,
                       sum(CAST(floor(xv * 1e9 + 0.5) AS BIGINT)) AS su,
                       count(*) AS cn
                FROM x GROUP BY 1, 2),
            cm1 AS (SELECT dim, floor(su / 1e9 / cn * 1e6 + 0.5) / 1e6
                               AS m
                    FROM cls WHERE y = 1.0),
            cm0 AS (SELECT dim, floor(su / 1e9 / cn * 1e6 + 0.5) / 1e6
                               AS m
                    FROM cls WHERE y = 0.0),
            ddom AS (SELECT DISTINCT dim FROM x),
            c1n AS (SELECT count(*) AS k FROM cm1),
            c0n AS (SELECT count(*) AS k FROM cm0),
            w0 AS MATERIALIZED (SELECT d.dim,
                          CASE WHEN c1n.k = 0 OR c0n.k = 0 THEN 0.0
                               ELSE floor((m1.m - m0.m) * {_PROBE_SCALE!r}
                                          * 1e6 + 0.5) / 1e6 END AS w
                   FROM ddom d
                   LEFT JOIN cm1 m1 USING (dim)
                   LEFT JOIN cm0 m0 USING (dim), c1n, c0n),
            mid AS (SELECT d.dim,
                           floor((coalesce(m1.m, 0.0) + coalesce(m0.m, 0.0))
                                 / 2.0 * 1e6 + 0.5) / 1e6 AS mv
                    FROM ddom d
                    LEFT JOIN cm1 m1 USING (dim)
                    LEFT JOIN cm0 m0 USING (dim)),
            b0 AS MATERIALIZED (SELECT CASE WHEN (SELECT k FROM c1n) = 0
                                 OR (SELECT k FROM c0n) = 0 THEN 0.0
                          ELSE floor(-(sum(CAST(floor(w0.w * mid.mv * 1e9
                                                       + 0.5) AS BIGINT))
                                        / 1e9) * 1e6 + 0.5) / 1e6 END AS b
                   FROM w0 JOIN mid USING (dim)),"""
        + ",".join(_probe_iter(i) for i in range(1, iters + 1)))


_PROBE_TRAIN_CTES = _probe_train_sql(_PROBE_ITERS, "rule")
_PROBE_CG_ITERS = 4
_PROBE_CG_TRAIN_CTES = _probe_train_sql(_PROBE_CG_ITERS, "codegen")

_CHUNK_CTES = f"""
            ct AS (
                SELECT doc_id, string_split({_CANON}, ' ') AS toks,
                       len(string_split({_CANON}, ' ')) AS n
                FROM documents),
            cc AS (
                SELECT doc_id, toks, n,
                       CASE WHEN n <= 32 THEN 1
                            ELSE (n - 32 + 23) // 24 + 1 END AS n_chunks
                FROM ct),
            chunks AS (
                SELECT doc_id, ch['chunk_idx'] AS chunk_idx,
                       ch['chunk_text'] AS chunk_text
                FROM (
                    SELECT doc_id,
                           unnest([{{'chunk_idx': i,
                                     'chunk_text': array_to_string(
                                         toks[i * 24 + 1 : i * 24 + 32],
                                         ' ')}}
                                   FOR i IN range(0, n_chunks)]) AS ch
                    FROM cc))"""


_LANG_SCORES = ",\n".join(
    f"len(list_filter(string_split(lower(text), ' '), w -> w IN ({_MARKER_SQL[lang]})))::BIGINT AS score_{lang}"
    for lang in TS.LANG_ORDER)
_LANG_CASE = (
    "CASE WHEN greatest(score_en, score_es, score_de, score_fr) <= 0 THEN 'und' "
    + " ".join(
        f"WHEN score_{lang} = greatest(score_en, score_es, score_de, score_fr) THEN '{lang}'"
        for lang in TS.LANG_ORDER)
    + " END")


@_gate("text_quality_scores", lambda: f"""
            SELECT doc_id,
                   length(text)::BIGINT AS n_chars,
                   len(string_split(text, ' '))::BIGINT AS n_tokens,
                   round(length(text)::DOUBLE
                         / greatest(len(string_split(text, ' ')), 1), 4) AS mean_token_len,
                   round(len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]'))::DOUBLE
                         / greatest(length(text), 1), 4) AS punct_ratio,
                   round(len(regexp_extract_all(text, '[0-9]'))::DOUBLE
                         / greatest(length(text), 1), 4) AS digit_ratio,
                   round(len(list_filter(string_split(lower(text), ' '),
                                         w -> w IN ({_STOP_SQL})))::DOUBLE
                         / greatest(len(string_split(text, ' ')), 1), 4) AS stopword_ratio
            FROM documents
        """, bench=True, hostile="documents")
def q_quality(spark, sf_dir):
    return _longify(TS.quality_scores(_tbl(spark, sf_dir, "documents")))


@_gate("lang_id", lambda: f"""
            WITH scored AS (
                SELECT doc_id,
                       {_LANG_SCORES}
                FROM documents)
            SELECT doc_id, {_LANG_CASE} AS pred_lang,
                   score_en, score_es, score_de, score_fr
            FROM scored
        """, hostile="documents")
def q_lang(spark, sf_dir):
    out = TS.lang_id(_tbl(spark, sf_dir, "documents"))
    return _longify(out.select("doc_id", "pred_lang",
                               *[f"score_{lang}" for lang in TS.LANG_ORDER]))


@_gate("token_count", lambda: """
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+'))::BIGINT AS ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]'))::BIGINT AS bpe_tokens
            FROM documents
        """, hostile="documents")
def q_tokens(spark, sf_dir):
    return _longify(TS.token_counts(_tbl(spark, sf_dir, "documents")))


@_gate("token_df_stats", lambda: f"""
            WITH toks AS (
                SELECT DISTINCT doc_id,
                       unnest(string_split(lower(text), ' ')) AS tok
                FROM documents),
            dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok)
            SELECT t.doc_id,
                   count(*)::BIGINT AS n_distinct_tokens,
                   min(d.df)::BIGINT AS min_df,
                   max(d.df)::BIGINT AS max_df,
                   sum(d.df)::BIGINT AS sum_df
            FROM toks t JOIN dfreq d ON t.tok = d.tok
            GROUP BY t.doc_id
        """, hostile="documents")
def q_df_stats(spark, sf_dir):
    return _longify(TS.token_df_stats(_tbl(spark, sf_dir, "documents")))


@_gate("topk_terms", lambda: """
            WITH toks AS (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                   GROUP BY 1, 2),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            ranked AS (
                SELECT t.doc_id, t.term, t.tf, d.df,
                       row_number() OVER (
                           PARTITION BY t.doc_id
                           ORDER BY t.tf DESC, d.df ASC, t.term ASC) AS rank
                FROM tf t JOIN dfreq d ON d.term = t.term)
            SELECT doc_id, term, tf::BIGINT AS tf, df::BIGINT AS df,
                   rank::BIGINT AS rank
            FROM ranked WHERE rank <= 5
        """, bench=True, hostile="documents")
def q_topk_terms(spark, sf_dir):
    return _longify(TS.topk_terms(_tbl(spark, sf_dir, "documents")))


@_gate("repetition_stats", lambda: f"""
            WITH c AS (
                SELECT doc_id, {_CANON} AS t,
                       length({_CANON}) AS nc,
                       string_split({_CANON}, ' ') AS w
                FROM documents),
            e2 AS (
                SELECT doc_id,
                       unnest([w[i] || ' ' || w[i + 1]
                               FOR i IN range(1, len(w))]) AS gram
                FROM c WHERE len(w) >= 2),
            c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM e2
                   GROUP BY 1, 2),
            t2 AS (
                SELECT doc_id, gram, cnt,
                       sum(cnt) OVER (PARTITION BY doc_id) AS n2,
                       row_number() OVER (
                           PARTITION BY doc_id
                           ORDER BY cnt DESC, gram DESC) AS rn
                FROM c2),
            e3 AS (
                SELECT doc_id,
                       unnest([w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
                               FOR i IN range(1, len(w) - 1)]) AS gram
                FROM c WHERE len(w) >= 3),
            c3 AS (SELECT doc_id, gram, count(*) AS cnt FROM e3
                   GROUP BY 1, 2),
            a3 AS (
                SELECT doc_id, sum(cnt) AS n3,
                       sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dup
                FROM c3 GROUP BY doc_id)
            SELECT c.doc_id,
                   coalesce(t2.n2, 0)::BIGINT AS n_2grams,
                   coalesce(t2.cnt, 0)::BIGINT AS top2_cnt,
                   coalesce(t2.gram, '') AS top2_gram,
                   round(coalesce(t2.cnt * length(t2.gram), 0)
                         / greatest(c.nc, 1), 4) AS top2_char_frac,
                   coalesce(a3.n3, 0)::BIGINT AS n_3grams,
                   coalesce(a3.dup, 0)::BIGINT AS dup3_occ,
                   round(coalesce(a3.dup, 0)
                         / greatest(coalesce(a3.n3, 0), 1), 4) AS dup3_frac
            FROM c
            LEFT JOIN t2 ON t2.doc_id = c.doc_id AND t2.rn = 1
            LEFT JOIN a3 ON a3.doc_id = c.doc_id
        """, bench=True, hostile="documents")
def q_repetition(spark, sf_dir):
    return _longify(TS.repetition_stats(_tbl(spark, sf_dir, "documents")))


@_gate("unigram_surprisal", lambda: f"""
            WITH {_SURPRISAL_CTES}
            SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
                   round(avg(CASE WHEN v.cnt IS NULL
                                  THEN 1.0 ELSE 0.0 END), 4) AS oov_frac,
                   round(avg(log2((SELECT total FROM tot))
                             - log2(coalesce(v.cnt, 1)::DOUBLE)), 4)
                       AS mean_bits
            FROM toks t LEFT JOIN vocab v USING (tok)
            GROUP BY 1
        """, bench=True, hostile="documents")
def q_unigram_surprisal(spark, sf_dir):
    # vocab_size=16 < the corpus's 31 distinct tokens, so the OOV
    # floor path is exercised, not vacuous.
    return _longify(TS.unigram_surprisal(
        _tbl(spark, sf_dir, "documents"), vocab_size=16))


@_gate("bigram_surprisal",
       # bigram stupid backoff: in-model pair = log2(c1) - log2(c12),
       # backoff pair = log2(T) - log2(cnt2 floored 1) - log2(0.4);
       # model caps deterministic via (count DESC, gram ASC) limits.
       lambda: f"""
            WITH c AS (SELECT doc_id, string_split({_CANON}, ' ') AS w
                       FROM documents),
            toks AS (SELECT doc_id, unnest(w) AS tok FROM c),
            tf AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
            tot AS (SELECT sum(cnt)::DOUBLE AS total FROM tf),
            vocab AS (SELECT tok, cnt FROM tf
                      ORDER BY cnt DESC, tok ASC LIMIT 16),
            pp AS (SELECT doc_id,
                          unnest([{{'w1': w[i], 'w2': w[i + 1]}}
                                  FOR i IN range(1, len(w))]) AS p
                   FROM c WHERE len(w) >= 2),
            pr AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM pp),
            bf AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY 1, 2),
            btop AS (SELECT w1, w2, c12 FROM bf
                     ORDER BY c12 DESC, w1 ASC, w2 ASC LIMIT 64),
            bm AS (SELECT b.w1, b.w2, b.c12, t.cnt AS c1
                   FROM btop b JOIN tf t ON t.tok = b.w1),
            sc AS (SELECT pr.doc_id,
                          CASE WHEN bm.c12 IS NOT NULL
                               THEN log2(bm.c1::DOUBLE)
                                    - log2(bm.c12::DOUBLE)
                               ELSE log2((SELECT total FROM tot))
                                    - log2(coalesce(v.cnt, 1)::DOUBLE)
                                    - log2(0.4)
                          END AS bits,
                          CASE WHEN bm.c12 IS NULL THEN 1.0 ELSE 0.0 END
                              AS bo
                   FROM pr
                   LEFT JOIN bm ON bm.w1 = pr.w1 AND bm.w2 = pr.w2
                   LEFT JOIN vocab v ON v.tok = pr.w2)
            SELECT doc_id, count(*)::BIGINT AS n_pairs,
                   round(avg(bo), 4) AS backoff_frac,
                   round(avg(bits), 4) AS mean_bits
            FROM sc GROUP BY doc_id
        """, bench=True, hostile="documents")
def q_bigram_surprisal(spark, sf_dir):
    # bigram_size=64 sits far below the corpus's distinct bigram
    # count and vocab_size=16 below its vocabulary, so the stupid-
    # backoff path AND the model-cap tie-break are both exercised
    return _longify(TS.bigram_surprisal(
        _tbl(spark, sf_dir, "documents"), vocab_size=16,
        bigram_size=64))


@_gate("curriculum_bins",
       # equal-population tiers over the 4dp surprisal scores:
       # quantile_cont ≡ Spark's exact percentile (linear interp),
       # thresholds rounded 4dp, strict-less bin rule.
       lambda: f"""
            WITH {_SURPRISAL_CTES},
            sc AS (
                SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
                       round(avg(log2((SELECT total FROM tot))
                                 - log2(coalesce(v.cnt, 1)::DOUBLE)), 4)
                           AS mean_bits
                FROM toks t LEFT JOIN vocab v USING (tok)
                GROUP BY 1),
            th AS (
                SELECT [round(x, 4) FOR x IN
                        quantile_cont(mean_bits, [0.25, 0.5, 0.75])] AS q
                FROM sc)
            SELECT doc_id, n_tokens, mean_bits,
                   len([t FOR t IN q IF t < mean_bits])::BIGINT AS bin
            FROM sc, th
        """, bench=True)
def q_curriculum_bins(spark, sf_dir):
    return _longify(TS.curriculum_bins(
        _tbl(spark, sf_dir, "documents"), n_bins=4, vocab_size=16))


@_gate("pmi_cooccurrence",
       # PMI over forward window-2 pairs: exact integer counts, one ln
       # rounded 6dp BEFORE the deterministic (pmi, x, y) top-100 cut.
       lambda: f"""
            WITH d AS (SELECT doc_id, string_split({_CANON}, ' ') AS w
                       FROM documents),
            t AS (SELECT unnest(w) AS tok FROM d),
            tot AS (SELECT count(*)::BIGINT AS t FROM t),
            tp AS (SELECT doc_id, unnest(w) AS tok,
                          unnest([i FOR i IN range(0, len(w))]) AS pos
                   FROM d),
            pairs AS (SELECT a.tok AS x, b.tok AS y
                      FROM tp a JOIN tp b
                        ON a.doc_id = b.doc_id
                       AND b.pos > a.pos AND b.pos <= a.pos + 2),
            ptot AS (SELECT count(*)::BIGINT AS p FROM pairs),
            cxy AS (SELECT x, y, count(*)::BIGINT AS c_xy
                    FROM pairs GROUP BY 1, 2),
            ct AS (SELECT tok, count(*)::BIGINT AS c FROM t GROUP BY 1),
            scored AS (
                SELECT cxy.x, cxy.y, cxy.c_xy,
                       round(ln((cxy.c_xy::DOUBLE
                                 * (SELECT t FROM tot)
                                 * (SELECT t FROM tot))
                                / ((SELECT p FROM ptot)
                                   * cx.c::DOUBLE * cy.c::DOUBLE)), 6)
                           AS pmi
                FROM cxy JOIN ct cx ON cx.tok = cxy.x
                         JOIN ct cy ON cy.tok = cxy.y
                WHERE cxy.c_xy >= 5)
            SELECT x, y, c_xy, pmi, rank::BIGINT AS rank
            FROM (SELECT *, row_number() OVER (
                      ORDER BY pmi DESC, x ASC, y ASC) AS rank
                  FROM scored)
            WHERE rank <= 100
        """, bench=True, hostile="documents")
def q_pmi_cooc(spark, sf_dir):
    return _longify(TS.pmi_cooccurrence(
        _tbl(spark, sf_dir, "documents"),
        window=2, min_count=5, top=100))


@_gate("dsir_weights", lambda: f"""
            WITH toks AS (
                SELECT doc_id, lang,
                       unnest(string_split({_CANON}, ' ')) AS tok
                FROM documents),
            feats AS (
                SELECT doc_id, (lang = 'en')::BIGINT AS is_t,
                       ('0x' || substr(md5(tok), 1, 8))::UBIGINT % 1024 AS b
                FROM toks),
            model AS (SELECT b, count(*)::DOUBLE AS rc,
                             sum(is_t)::DOUBLE AS tc
                      FROM feats GROUP BY 1),
            tot AS (SELECT sum(rc) AS R, sum(tc) AS T FROM model),
            ratio AS (
                SELECT b,
                       log2((tc + 1) / ((SELECT T FROM tot) + 1024))
                       - log2((rc + 1) / ((SELECT R FROM tot) + 1024))
                           AS llr
                FROM model)
            SELECT f.doc_id, count(*)::BIGINT AS n_tokens,
                   round(avg(llr), 4) AS dsir_logratio
            FROM feats f JOIN ratio USING (b)
            GROUP BY 1
        """, bench=True)
def q_dsir_weights(spark, sf_dir):
    return _longify(TS.dsir_weights(_tbl(spark, sf_dir, "documents")))


@_gate("quality_filter_keep", lambda: f"""
            WITH {_QRULE_CTES}
            SELECT d.doc_id, d.lang, d.source, d.n_chars
            FROM documents d JOIN feats f ON f.doc_id = d.doc_id
            WHERE f.n_tokens >= 10
              AND f.stopword_ratio >= 0.0001
              AND f.top2_char_frac <= 0.20
              AND f.dup3_frac <= 0.55
        """, bench=True, hostile="documents")
def q_quality_keep(spark, sf_dir):
    return _longify(
        TS.quality_filter_keep(_tbl(spark, sf_dir, "documents")))


@_gate("quality_by_source", lambda: """
            SELECT source,
                   count(*)::BIGINT AS n_docs,
                   sum(length(text))::BIGINT AS sum_chars,
                   sum(len(string_split(text, ' ')))::BIGINT AS sum_tokens,
                   sum(len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]')))::BIGINT AS sum_punct,
                   round(sum(len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]')))::DOUBLE
                         / sum(length(text)), 6) AS punct_ratio
            FROM documents GROUP BY source
        """, hostile="documents")
def q_quality_by_source(spark, sf_dir):
    docs = _tbl(spark, sf_dir, "documents")
    n_punct = F.regexp_count(F.col("text"), F.lit(TS.PUNCT_RE))
    n_tok = F.size(F.split(F.col("text"), " "))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("sum_chars"),
            F.sum(n_tok).alias("sum_tokens"),
            F.sum(n_punct).alias("sum_punct"),
        )
        .select(
            "source", "n_docs", "sum_chars", "sum_tokens", "sum_punct",
            F.round(F.col("sum_punct") / F.col("sum_chars"), 6)
            .alias("punct_ratio"),
        )
    )


@_gate("quality_model_score",
       # Quality-classifier apply: literal weights, list_inner_product
       # == the Spark fold, sigmoid's exp rounded 6dp.
       lambda: f"""
            WITH src AS (SELECT doc_id, {_CANON} AS txt FROM documents),
            {_bow_ctes("src", "doc_id")}
            SELECT doc_id,
                   round(1.0 / (1.0 + exp(-(list_inner_product(
                       embedding, [{_QMODEL_SQL}]) + -0.1))), 6)
                       AS quality_score
            FROM bemb
        """, bench=True, hostile="documents")
def q_quality_model_score(spark, sf_dir):
    return _longify(TS.linear_quality_score(
        _tbl(spark, sf_dir, "documents"), QMODEL_W, bias=-0.1))


# in-engine rule distillation: class-centroid init + 2 exact GD
# steps over hashed-BoW + rule features; the twin re-derives the
# whole training loop relationally (no literals cross engines)
@_gate("quality_probe_weights",
       # Probe trainer twins: the ENTIRE training loop is relational —
       # class-centroid init (w0/b0 from per-class integer-unit sums),
       # then `iters` unrolled GD steps where each weight update joins
       # the previous weight RELATION (no literals smuggled from the
       # engine). Every float step quantizes to 1e-9/1e-6 units with
       # floor(x*k + 0.5) round-half-up, mirroring textstats._r6 /
       # _probe_z_units term for term.
       lambda: f"""
            WITH {_PROBE_TRAIN_CTES}
            SELECT dim, w AS weight FROM w{_PROBE_ITERS}
            UNION ALL
            SELECT CAST(-1 AS BIGINT) AS dim, b AS weight
            FROM b{_PROBE_ITERS}
        """, bench=True, hostile="documents")
def q_probe_weights(spark, sf_dir):
    return _longify(TS.quality_probe_weights_df(
        _tbl(spark, sf_dir, "documents"), head="rule"))


@_gate("quality_probe_agreement", lambda: f"""
            WITH {_PROBE_TRAIN_CTES},
            zuf AS (
                SELECT x.doc_id, x.y,
                       sum(CAST(floor(x.xv * w.w * 1e9 + 0.5) AS BIGINT))
                           AS zu
                FROM x JOIN w{_PROBE_ITERS} w USING (dim)
                GROUP BY 1, 2),
            dec AS (
                SELECT doc_id,
                       CASE WHEN y = 1.0 THEN 1 ELSE 0 END AS yk,
                       CASE WHEN zu + (SELECT CAST(floor(b * 1e9 + 0.5)
                                                   AS BIGINT)
                                       FROM b{_PROBE_ITERS}) > 0
                            THEN 1 ELSE 0 END AS pk
                FROM zuf)
            SELECT count(*)::BIGINT AS n_docs,
                   sum(yk)::BIGINT AS n_rule_keep,
                   sum(pk)::BIGINT AS n_probe_keep,
                   sum(CASE WHEN yk = pk THEN 1 ELSE 0 END)::BIGINT
                       AS n_agree
            FROM dec
        """, hostile="documents")
def q_probe_agreement(spark, sf_dir):
    return _longify(TS.quality_probe_agreement(
        _tbl(spark, sf_dir, "documents"), head="rule"))


# the deployable codegen head: the UDF-free feature block itself,
# and the full train→publish path (train with codegen feats at the
# measured-best 4 iters, then score the corpus with that exact
# model — the relation jobs/probe_job.py writes as scores/)
@_gate("quality_codegen_features", lambda: f"""
            WITH {_CG_CTES}
            SELECT doc_id, len_sq, stop_r, mwl_sq,
                   uniq1_r, uniq2_r, uniq3_r
            FROM cgf
        """)
def q_codegen_features(spark, sf_dir):
    return _longify(TS.quality_codegen_features(
        _tbl(spark, sf_dir, "documents")))


@_gate("quality_probe_scores",
       # train→publish twin for the codegen head: the 4-iteration
       # relational training loop, then per-doc exact integer-unit
       # margin → fast sigmoid at 6dp — the scores/ relation
       # jobs/probe_job.py publishes, re-derived end to end.
       lambda: f"""
            WITH {_PROBE_CG_TRAIN_CTES},
            szu AS (
                SELECT x.doc_id,
                       sum(CAST(floor(x.xv * w.w * 1e9 + 0.5) AS BIGINT))
                           AS zu
                FROM x JOIN w{_PROBE_CG_ITERS} w USING (dim)
                GROUP BY 1),
            stot AS (
                SELECT doc_id,
                       zu + (SELECT CAST(floor(b * 1e9 + 0.5) AS BIGINT)
                             FROM b{_PROBE_CG_ITERS}) AS zt
                FROM szu),
            sz AS (SELECT doc_id,
                          floor(zt / 1e9 * 1e6 + 0.5) / 1e6 AS z, zt
                   FROM stot)
            SELECT doc_id,
                   floor(0.5 * (1.0 + z / (1.0 + abs(z))) * 1e6 + 0.5)
                       / 1e6 AS quality_score,
                   CASE WHEN zt > 0 THEN 1 ELSE 0 END AS probe_keep
            FROM sz
        """, bench=True)
def q_probe_scores_cg(spark, sf_dir):
    docs = _tbl(spark, sf_dir, "documents")
    w, b, _ = TS.train_quality_probe(docs, iters=4, head="codegen")
    return _longify(TS.quality_probe_scores(docs, w, b, head="codegen"))


@_gate("pii_scrub", lambda: f"""
            WITH aug AS (
                SELECT doc_id,
                       text || ' reach user' || doc_id
                            || '@example.com at 10.0.' || (doc_id % 256)
                            || '.7 tel +12 555-01'
                            || lpad((doc_id % 100)::VARCHAR, 2, '0') AS t
                FROM documents),
            s1 AS (
                SELECT doc_id,
                       len(regexp_extract_all(t, '{SC.EMAIL_RE}'))::BIGINT
                           AS n_emails,
                       regexp_replace(t, '{SC.EMAIL_RE}',
                                      '{SC.EMAIL_TOKEN}', 'g') AS t1
                FROM aug),
            s2 AS (
                SELECT doc_id, n_emails,
                       len(regexp_extract_all(t1, '{SC.IPV4_RE}'))::BIGINT
                           AS n_ips,
                       regexp_replace(t1, '{SC.IPV4_RE}',
                                      '{SC.IPV4_TOKEN}', 'g') AS t2
                FROM s1)
            SELECT doc_id,
                   regexp_replace(t2, '{SC.PHONE_RE}',
                                  '{SC.PHONE_TOKEN}', 'g') AS text,
                   n_emails, n_ips,
                   len(regexp_extract_all(t2, '{SC.PHONE_RE}'))::BIGINT
                       AS n_phones
            FROM s2
        """, bench=True, hostile="documents")
def q_pii_scrub(spark, sf_dir):
    # The synthetic corpus carries no PII, so the gate plants a
    # deterministic email/IP/phone per doc (identically in the SQL
    # twin) — otherwise the scrubber would be tested only on its
    # no-op path.
    aug = _tbl(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" reach user"), F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel +12 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0")))
    return _longify(SC.pii_scrub(aug).select(
        "doc_id", "text", "n_emails", "n_ips", "n_phones"))


@_gate("stratified_sample", lambda: f"""
            SELECT doc_id, lang, source
            FROM documents
            WHERE ('0x' || substr(md5(doc_id || ':'), 1, 8))::UBIGINT
                  < CASE lang
                        WHEN 'en' THEN {int(0.5 * 2 ** 32)}
                        WHEN 'de' THEN {int(0.25 * 2 ** 32)}
                        WHEN 'fr' THEN {int(0.1 * 2 ** 32)}
                        ELSE {int(0.05 * 2 ** 32)}
                    END
        """, bench=True, hostile="documents")
def q_stratified_sample(spark, sf_dir):
    return _longify(SC.stratified_sample(
        _tbl(spark, sf_dir, "documents"),
        {"en": 0.5, "de": 0.25, "fr": 0.1},
        default_fraction=0.05).select("doc_id", "lang", "source"))


@_gate("mixture_sample",
       # Mirrors the pinned double-op order exactly: masses/budget in
       # int64, then floor(least(1, floor(share*B)/tok_s) * 2^32) —
       # IEEE-identical across engines. DuckDB parses 0.5 as DECIMAL,
       # so shares are forced ::DOUBLE to match Spark's lit(double).
       lambda: f"""
            WITH c AS (
                SELECT doc_id, lang,
                       len(string_split({_CANON}, ' '))::BIGINT
                           AS n_tokens
                FROM documents),
            m AS (SELECT lang, sum(n_tokens)::BIGINT AS tok_s
                  FROM c GROUP BY 1),
            b AS (SELECT floor(0.25::DOUBLE * sum(tok_s))::BIGINT AS B
                  FROM m),
            thr AS (
                SELECT lang,
                       floor(least(1.0,
                                   floor(CASE lang
                                             WHEN 'en' THEN 0.5::DOUBLE
                                             WHEN 'de' THEN 0.25::DOUBLE
                                             WHEN 'fr' THEN 0.125::DOUBLE
                                             ELSE 0.0::DOUBLE
                                         END * B) / tok_s)
                             * 4294967296.0)::BIGINT AS thr
                FROM m, b)
            SELECT c.doc_id, c.lang, c.n_tokens
            FROM c JOIN thr USING (lang)
            WHERE ('0x' || substr(md5(c.doc_id || ':mix'), 1, 8))::UBIGINT
                  < thr.thr
        """, bench=True, hostile="documents")
def q_mixture_sample(spark, sf_dir):
    # budget = 25% of total token mass, targets 1/2 en : 1/4 de :
    # 1/8 fr (binary fractions so share*B is float-exact in both
    # engines). 'es'/'zh' absent from shares -> kept count 0.
    return _longify(SC.mixture_sample(
        _tbl(spark, sf_dir, "documents"),
        {"en": 0.5, "de": 0.25, "fr": 0.125}, budget_frac=0.25)
        .select("doc_id", "lang", "n_tokens"))


@_gate("weighted_sample",
       # Efraimidis-Spirakis weighted sample: u exact (52-bit md5 prefix
       # fits the double mantissa; /2^52 is a power-of-two division),
       # es key rounded 9dp out of ln, doc_id tiebreak.
       lambda: """
            WITH w AS (
                SELECT doc_id,
                       round(-ln((('0x' || substr(md5(doc_id || ':ws'),
                                                  1, 13))::UBIGINT + 1.0)
                                 / 4503599627370496.0)
                             / n_chars::DOUBLE, 9) AS es_key
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars > 0)
            SELECT doc_id, es_key FROM w
            ORDER BY es_key ASC, doc_id ASC LIMIT 50
        """, bench=True, hostile="documents")
def q_weighted_sample(spark, sf_dir):
    return _longify(SC.weighted_sample(
        _tbl(spark, sf_dir, "documents"), "n_chars", k=50)
        .select("doc_id", "es_key"))


@_gate("temperature_mixture",
       # Temperature mixture upsampling: one exp(tau*ln p) rounded 9dp,
       # factors 6dp, normalizer in exact 1e-9 units, fractional coin
       # = integer u vs floor(frac * 2^32).
       lambda: f"""
            WITH d AS (SELECT doc_id, lang,
                              len(string_split({_CANON}, ' '))::BIGINT
                                  AS nt
                       FROM documents),
            g AS (SELECT lang AS s, sum(nt)::BIGINT AS m
                  FROM d GROUP BY 1),
            tot AS (SELECT sum(m)::BIGINT AS mt FROM g),
            wts AS (SELECT s, m,
                           round(exp(0.7 * ln(m::DOUBLE
                                              / (SELECT mt FROM tot))),
                                 9) AS w
                    FROM g),
            ww AS (SELECT sum(CAST(round(w * 1e9) AS BIGINT)) AS wu
                   FROM wts),
            fac AS (SELECT s,
                           round((w / ((SELECT wu FROM ww)::DOUBLE
                                       / 1e9))
                                 / (m::DOUBLE / (SELECT mt FROM tot)),
                                 6) AS f
                    FROM wts),
            r AS (SELECT d.doc_id, d.lang,
                         (floor(f)::BIGINT
                          + CASE WHEN ('0x' || substr(
                                    md5(d.doc_id || ':temp'), 1, 8))
                                    ::UBIGINT
                                    < floor((f - floor(f))
                                            * 4294967296.0)::BIGINT
                                 THEN 1 ELSE 0 END) AS repeats
                  FROM d JOIN fac ON fac.s = d.lang)
            SELECT doc_id, lang, repeats,
                   unnest([c FOR c IN range(1, repeats + 1)])::BIGINT
                       AS copy_idx
            FROM r WHERE repeats >= 1
        """, bench=True, hostile="documents")
def q_temperature_mixture(spark, sf_dir):
    return _longify(SC.temperature_mixture(
        _tbl(spark, sf_dir, "documents"), tau=0.7))


@_gate("split_assign", lambda: f"""
            SELECT doc_id, lang,
                   CASE WHEN ('0x' || substr(md5(doc_id || ':split'), 1, 8))
                             ::UBIGINT < {int(0.1 * 2 ** 32)} THEN 'val'
                        WHEN ('0x' || substr(md5(doc_id || ':split'), 1, 8))
                             ::UBIGINT < {int(0.2 * 2 ** 32)} THEN 'test'
                        ELSE 'train' END AS split
            FROM documents
        """, bench=True, hostile="documents")
def q_split_assign(spark, sf_dir):
    return _longify(SC.split_assign(
        _tbl(spark, sf_dir, "documents"), 0.1, 0.1)
        .select("doc_id", "lang", "split"))


@_gate("pack_sequences", lambda: f"""
            WITH c AS (
                SELECT doc_id,
                       ('0x' || substr(md5(doc_id || ':pack'), 1, 8))::UBIGINT
                           AS k,
                       len(string_split({_CANON}, ' '))::BIGINT AS n_tokens
                FROM documents),
            s AS (
                SELECT doc_id, (k % 8)::BIGINT AS bucket, n_tokens,
                       (sum(n_tokens) OVER (
                            PARTITION BY k % 8 ORDER BY k, doc_id
                            ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT
                           AS tok_start
                FROM c)
            SELECT doc_id, bucket, n_tokens, tok_start,
                   (tok_start // 256)::BIGINT AS seq_id,
                   ((tok_start + n_tokens - 1) // 256
                    - tok_start // 256 + 1)::BIGINT AS n_seqs
            FROM s
        """, bench=True, hostile="documents")
def q_pack_sequences(spark, sf_dir):
    return _longify(PK.pack_sequences(
        _tbl(spark, sf_dir, "documents"), budget=256, n_buckets=8))


@_gate("chunk_documents",
       # stride = size - overlap = 24; expected chunk starts/lengths
       # and the chunk TEXT itself (list slice clamps at the tail in
       # both engines) — content equality, not just counts.
       lambda: f"""
            WITH t AS (
                SELECT doc_id, string_split({_CANON}, ' ') AS toks,
                       len(string_split({_CANON}, ' ')) AS n
                FROM documents),
            c AS (
                SELECT doc_id, toks, n,
                       CASE WHEN n <= 32 THEN 1
                            ELSE (n - 32 + 23) // 24 + 1 END AS n_chunks
                FROM t)
            SELECT doc_id, ch['chunk_idx']::BIGINT AS chunk_idx,
                   ch['tok_start']::BIGINT AS tok_start,
                   ch['chunk_tokens']::BIGINT AS chunk_tokens,
                   ch['chunk_text'] AS chunk_text
            FROM (
                SELECT doc_id,
                       unnest([{{'chunk_idx': i, 'tok_start': i * 24,
                                 'chunk_tokens': least(32, n - i * 24),
                                 'chunk_text': array_to_string(
                                     toks[i * 24 + 1 : i * 24 + 32], ' ')}}
                               FOR i IN range(0, n_chunks)]) AS ch
                FROM c)
        """, bench=True, hostile="documents")
def q_chunk_documents(spark, sf_dir):
    return _longify(PK.chunk_documents(
        _tbl(spark, sf_dir, "documents"), size=32, overlap=8))


# ============================================================ similarity


_VEC_CTES = """
    v AS (SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS e FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) > 0),
    nrm0 AS (SELECT vec_id, e,
                    sqrt(list_inner_product(e, e)) AS norm FROM v),
    nrm AS (SELECT * FROM nrm0 WHERE norm > 0)
"""

_LSH_CTES = """
    comp AS (
        SELECT vec_id, unnest(range(1, len(e) + 1)) AS d, e
        FROM v),
    sgn AS (
        SELECT c.vec_id, c.d - 1 AS dim, c.e[c.d]::DOUBLE AS val, p.plane,
               CASE WHEN substr(md5('p' || p.plane || 'd' || (c.d - 1)), 1, 1)
                        IN ('0','1','2','3','4','5','6','7')
                    THEN 1.0 ELSE -1.0 END AS sg
        FROM comp c, (SELECT unnest(range(0, 8)) AS plane) p),
    proj AS (
        SELECT vec_id, plane, sum(val * sg) AS proj
        FROM sgn GROUP BY vec_id, plane),
    buckets AS (
        SELECT vec_id,
               sum(CASE WHEN proj > 0 THEN (1::BIGINT << plane) ELSE 0 END)::BIGINT AS bucket
        FROM proj GROUP BY vec_id)
"""

# fixed BM25 query set (one dup token, one out-of-vocabulary term)
BM25_QUERIES = [(0, "spark join window"),
                (1, "customer query fast fast"),
                (2, "vector scan zzz")]
_BM25_VALUES = ", ".join(f"({i}, '{s}')" for i, s in BM25_QUERIES)

# The synthetic embeddings have no true near-duplicates (max pairwise
# cosine ~0.51 at sf0.01), so the demo threshold sits below that; a real
# dedup run would use ~0.95.
COSINE_DUP_THRESHOLD = 0.3


def _refine_iter(i: int, prev: str) -> str:
    """One unrolled Lloyd iteration over the `nrm` relation: 6dp
    fold-dot assignment with lower-id ties, 6dp per-dim means,
    renormalize over the rounded means in dim order (the exact
    `kmeans_refine` contract). Empty / zero-norm-mean cells keep
    the previous centroid."""
    return f"""
            s{i} AS (
                SELECT n.vec_id, c.centroid_id,
                       round(list_inner_product([x / norm FOR x IN e],
                                                c.cvec), 6) AS sc
                FROM nrm n, {prev} c),
            a{i} AS (
                SELECT vec_id, centroid_id FROM (
                    SELECT vec_id, centroid_id,
                           row_number() OVER (
                               PARTITION BY vec_id
                               ORDER BY sc DESC, centroid_id ASC) AS rn
                    FROM s{i}) WHERE rn = 1),
            m{i} AS (
                SELECT a.centroid_id, ds.d AS dim,
                       round(avg(n.e[ds.d] / n.norm), 6) AS m,
                       count(*) AS cnt
                FROM a{i} a JOIN nrm n USING (vec_id),
                     (SELECT unnest(range(1, 65)) AS d) ds
                GROUP BY 1, 2),
            g{i} AS (
                SELECT centroid_id, list(m ORDER BY dim) AS marr,
                       max(cnt) AS cnt
                FROM m{i} GROUP BY 1),
            c{i} AS (
                SELECT p.centroid_id,
                       CASE WHEN g.centroid_id IS NULL
                                 OR list_inner_product(g.marr, g.marr)
                                    <= 0
                            THEN p.cvec
                            ELSE [round(mv / sqrt(
                                      list_inner_product(g.marr,
                                                         g.marr)), 6)
                                  FOR mv IN g.marr] END AS cvec,
                       coalesce(g.cnt, 0) AS cnt
                FROM {prev} p LEFT JOIN g{i} g USING (centroid_id))"""


def ivf_oracle_sql(cent_values: str) -> dict[str, str]:
    """The DuckDB oracles of the six gates that assign IVF cells, over
    the codebook ``cent_values``: a `(VALUES ...) AS t(centroid_id,
    cvec)` literal from `tools.annoracle.centroid_values_sql`. Each
    scorable vector (`nrm`) goes to its highest 6dp-rounded cosine, ties
    to the lower centroid_id, as `similarity._ivf_parts` assigns it; a
    probe ranks the cells against the query as `_ivf_probe_candidates`
    does. `oracle_sql` feeds it the sf0.01 codebook, the hostile-table
    test the codebook of its own table."""
    cells = f"""
            WITH {_VEC_CTES},
            cents AS (
                SELECT centroid_id, cvec,
                       sqrt(list_inner_product(cvec, cvec)) AS cnorm
                FROM {cent_values}),
            scored AS (
                SELECT n.vec_id, c.centroid_id,
                       round(list_inner_product(n.e, c.cvec)
                             / (n.norm * c.cnorm), 6) AS cscore
                FROM nrm n, cents c),
            best AS (
                SELECT vec_id, centroid_id,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cscore DESC, centroid_id ASC) AS rn
                FROM scored),
            assign AS (SELECT vec_id, centroid_id FROM best WHERE rn = 1)"""

    def probed(n_probe: int) -> str:
        # `cand`: the vectors in the n_probe cells closest to query 0
        return f"""{cells},
            q AS (SELECT e AS qe, norm AS qn FROM nrm WHERE vec_id = 0),
            qprobe AS (
                SELECT c.centroid_id
                FROM cents c, q
                ORDER BY round(list_inner_product(c.cvec, q.qe)
                               / (c.cnorm * q.qn), 6) DESC, c.centroid_id ASC
                LIMIT {n_probe}),
            cand AS (
                SELECT n.vec_id, n.e, n.norm
                FROM nrm n
                JOIN assign a ON n.vec_id = a.vec_id
                JOIN qprobe p ON a.centroid_id = p.centroid_id)"""

    exact_top10 = """
            SELECT vec_id,
                   round(list_inner_product(e, qe) / (norm * qn), 4) AS score
            FROM cand, q
            WHERE vec_id <> 0
            ORDER BY score DESC, vec_id ASC
            LIMIT 10
        """
    # within-cell pairs at or above the semdedup threshold
    dup_pairs = f"""{cells},
            sided AS (
                SELECT n.vec_id, n.e, n.norm, a.centroid_id
                FROM nrm n JOIN assign a ON n.vec_id = a.vec_id),
            scored_pairs AS (
                SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                       round(list_inner_product(x.e, y.e)
                             / (x.norm * y.norm), 4) AS score
                FROM sided x JOIN sided y
                  ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id),
            pairs AS (SELECT * FROM scored_pairs
                      WHERE score >= {COSINE_DUP_THRESHOLD})"""
    return {
        "ann_ivf_kmeans_assign": f"""{cells}
            SELECT vec_id, centroid_id::BIGINT AS centroid_id FROM assign
        """,
        "ann_ivf_topk": probed(1) + exact_top10,
        "ann_ivf_kmeans_topk": probed(2) + exact_top10,
        # the probe-1 cell's members scored by SQ8: the floor(x + 0.5)
        # codes and fold-dot contracts of the full-scan sq8 gates
        "ann_ivf_sq8_topk": probed(1) + """,
            ccodes AS (
                SELECT vec_id,
                       [floor(x / norm * 127.0 + 0.5)::DOUBLE FOR x IN e]
                           AS cd
                FROM cand),
            qu AS (SELECT [x / qn FOR x IN qe] AS qv FROM q)
            SELECT vec_id,
                   round(list_inner_product(cd, qv) / 127.0, 6) AS score
            FROM ccodes, qu
            WHERE vec_id <> 0
            ORDER BY score DESC, vec_id ASC
            LIMIT 10
        """,
        "semdedup_pairs": f"""{dup_pairs}
            SELECT id_a, id_b, score FROM pairs
        """,
        "semdedup_keep": f"""{dup_pairs}
            SELECT e.vec_id, e.label
            FROM embeddings e ANTI JOIN pairs d ON e.vec_id = d.id_b
        """,
    }


@_gate("bm25_topk",
       # BM25: idf rounded 6dp out of ln(), score rounded 4dp BEFORE
       # ranking, doc_id tiebreak — the float-stage-boundary protocol.
       # Constant arithmetic mirrors the engine's association exactly:
       # (1.2 + 1.0), ((1.0 - 0.75) + (0.75 * dl) / avgdl).
       lambda: f"""
            WITH q(query_id, query) AS (VALUES {_BM25_VALUES}),
            qt AS (SELECT DISTINCT query_id,
                          unnest(string_split(trim(regexp_replace(
                              lower(query), '[ \\t\\n\\x0b\\f\\r]+', ' ',
                              'g')), ' ')) AS term
                   FROM q),
            d AS (SELECT doc_id, string_split({_CANON}, ' ') AS w
                  FROM documents),
            st AS (SELECT count(*)::BIGINT AS n,
                          (sum(len(w))::DOUBLE / count(*)) AS avgdl
                   FROM d),
            t AS (SELECT doc_id, len(w)::DOUBLE AS dl, unnest(w) AS term
                  FROM d),
            tf AS (SELECT doc_id, term, max(dl) AS dl,
                          count(*)::DOUBLE AS tf
                   FROM t WHERE term IN (SELECT term FROM qt)
                   GROUP BY 1, 2),
            tfd AS (SELECT *,
                           (count(*) OVER (PARTITION BY term))::DOUBLE
                               AS dfr
                    FROM tf),
            sc AS (SELECT qt.query_id, tfd.doc_id,
                          round(sum(
                              round(ln(((SELECT n FROM st) - dfr + 0.5)
                                       / (dfr + 0.5) + 1.0), 6)
                              * (tf * (1.2 + 1.0)
                                 / (tf + 1.2 * ((1.0 - 0.75)
                                    + (0.75 * dl)
                                      / (SELECT avgdl FROM st))))), 4)
                              AS score
                   FROM tfd JOIN qt USING (term) GROUP BY 1, 2)
            SELECT query_id, doc_id, score, rank::BIGINT AS rank
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY score DESC, doc_id ASC) AS rank
                  FROM sc)
            WHERE rank <= 10
        """, bench=True, hostile="documents")
def q_bm25_topk(spark, sf_dir):
    qs = spark.createDataFrame(BM25_QUERIES, "query_id long, query string")
    return _longify(TS.bm25_topk(
        _tbl(spark, sf_dir, "documents"), qs, k=10))


@_gate("hybrid_rrf_topk",
       # Hybrid RRF: BM25 arm (rank_lex, the bm25_topk chain at k=20) +
       # cosine arm over the SAME hashed-BoW space (query ids offset by
       # 2^40 in the union so the bow CTE chain runs once), fused as
       # sum of 1/(60+rank) — exact IEEE division of small ints, no libm.
       lambda: f"""
            WITH q(query_id, query) AS (VALUES {_BM25_VALUES}),
            qt AS (SELECT DISTINCT query_id,
                          unnest(string_split(trim(regexp_replace(
                              lower(query), '[ \\t\\n\\x0b\\f\\r]+', ' ',
                              'g')), ' ')) AS term
                   FROM q),
            d AS (SELECT doc_id, string_split({_CANON}, ' ') AS w
                  FROM documents),
            st AS (SELECT count(*)::BIGINT AS n,
                          (sum(len(w))::DOUBLE / count(*)) AS avgdl
                   FROM d),
            t AS (SELECT doc_id, len(w)::DOUBLE AS dl, unnest(w) AS term
                  FROM d),
            tf AS (SELECT doc_id, term, max(dl) AS dl,
                          count(*)::DOUBLE AS tf
                   FROM t WHERE term IN (SELECT term FROM qt)
                   GROUP BY 1, 2),
            tfd AS (SELECT *,
                           (count(*) OVER (PARTITION BY term))::DOUBLE
                               AS dfr
                    FROM tf),
            bsc AS (SELECT qt.query_id, tfd.doc_id,
                           round(sum(
                               round(ln(((SELECT n FROM st) - dfr + 0.5)
                                        / (dfr + 0.5) + 1.0), 6)
                               * (tf * (1.2 + 1.0)
                                  / (tf + 1.2 * ((1.0 - 0.75)
                                     + (0.75 * dl)
                                       / (SELECT avgdl FROM st))))), 4)
                               AS score
                    FROM tfd JOIN qt USING (term) GROUP BY 1, 2),
            lex AS (SELECT query_id, doc_id, rank_lex
                    FROM (SELECT *, row_number() OVER (
                              PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC)
                              AS rank_lex
                          FROM bsc)
                    WHERE rank_lex <= 20),
            src AS (SELECT doc_id AS bid, {_CANON} AS txt FROM documents
                    UNION ALL
                    SELECT query_id + 1099511627776,
                           trim(regexp_replace(lower(query),
                               '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))
                    FROM q),
            {_bow_ctes("src", "bid")},
            bnrm AS (SELECT bid, embedding AS e,
                            sqrt(list_inner_product(embedding, embedding))
                                AS norm
                     FROM bemb
                     WHERE len(embedding) > 0
                       AND sqrt(list_inner_product(
                               embedding, embedding)) > 0),
            dv AS (SELECT bid AS doc_id, e, norm FROM bnrm
                   WHERE bid < 1099511627776),
            qv AS (SELECT bid - 1099511627776 AS query_id,
                          e AS qe, norm AS qn
                   FROM bnrm WHERE bid >= 1099511627776),
            ssc AS (SELECT qv.query_id, dv.doc_id,
                           round(list_inner_product(e, qe)
                                 / (norm * qn), 4) AS score
                    FROM dv, qv),
            sem AS (SELECT query_id, doc_id, rank_sem
                    FROM (SELECT *, row_number() OVER (
                              PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC)
                              AS rank_sem
                          FROM ssc)
                    WHERE rank_sem <= 20),
            fused AS (
                SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
                       coalesce(lex.doc_id, sem.doc_id) AS doc_id,
                       round(coalesce(1.0 / (rank_lex + 60.0), 0.0)
                             + coalesce(1.0 / (rank_sem + 60.0), 0.0), 9)
                           AS rrf
                FROM lex FULL OUTER JOIN sem
                  ON lex.query_id = sem.query_id
                 AND lex.doc_id = sem.doc_id)
            SELECT query_id, doc_id, rrf, rank::BIGINT AS rank
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY rrf DESC, doc_id ASC) AS rank
                  FROM fused)
            WHERE rank <= 10
        """, bench=True, hostile="documents")
def q_hybrid_rrf(spark, sf_dir):
    qs = spark.createDataFrame(BM25_QUERIES, "query_id long, query string")
    return _longify(TS.hybrid_rrf_topk(
        _tbl(spark, sf_dir, "documents"), qs, k=10, k_arm=20))


@_gate("hashed_bow", lambda: f"""
            WITH src AS (SELECT doc_id, {_CANON} AS txt FROM documents),
            {_bow_ctes("src", "doc_id")},
            bl AS (SELECT doc_id,
                          unnest(range(1, len(embedding) + 1)) AS i,
                          embedding AS e
                   FROM bemb)
            SELECT doc_id, (i - 1)::BIGINT AS dim, e[i] AS val FROM bl
        """, bench=True, hostile="documents")
def q_hashed_bow(spark, sf_dir):
    return _longify(_vec_long(TS.hashed_bow_embeddings(
        _tbl(spark, sf_dir, "documents")), "embedding"))


@_gate("rag_chunk_topk",
       # three composed operators under one oracle: the chunk layout,
       # the hashed-BoW featurizer, and exact cosine top-k — scored on
       # the ROUNDED unit embeddings with their own fold norms, exactly
       # as brute_topk does over any embedding relation.
       lambda: f"""
            WITH {_CHUNK_CTES},
            src AS (SELECT doc_id * 1000 + chunk_idx AS cid,
                           chunk_text AS txt
                    FROM chunks),
            {_bow_ctes("src", "cid")},
            nrm2 AS (
                SELECT cid, embedding AS e,
                       sqrt(list_inner_product(embedding, embedding))
                           AS norm
                FROM bemb
                WHERE len(embedding) > 0
                  AND sqrt(list_inner_product(embedding, embedding)) > 0),
            q2 AS (SELECT e AS qe, norm AS qn FROM nrm2 WHERE cid = 7000)
            SELECT cid,
                   round(list_inner_product(e, qe) / (norm * qn), 4)
                       AS score
            FROM nrm2, q2
            WHERE cid <> 7000
            ORDER BY score DESC, cid ASC
            LIMIT 10
        """, bench=True, hostile="documents")
def q_rag_chunk_topk(spark, sf_dir):
    # end-to-end in-engine retrieval: chunk -> feature-hash embed ->
    # exact cosine top-k, three operators composed under one full
    # value-hash oracle; chunk uid = doc_id*1000 + chunk_idx.
    ch = PK.chunk_documents(
        _tbl(spark, sf_dir, "documents"), size=32, overlap=8).select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("cid"),
        "chunk_text")
    bow = TS.hashed_bow_embeddings(ch, dims=64, id_col="cid",
                                   text_col="chunk_text")
    return _longify(S.brute_topk(bow, query_id=7000, k=10,
                                 id_col="cid"))


@_gate("ann_topk_cosine", lambda: f"""
            WITH {_VEC_CTES},
            q AS (SELECT e AS qe, norm AS qn FROM nrm WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_inner_product(e, qe) / (norm * qn), 4) AS score
            FROM nrm, q
            WHERE vec_id <> 0
            ORDER BY score DESC, vec_id ASC
            LIMIT 10
        """, hostile="embeddings")
def q_ann(spark, sf_dir):
    return _longify(S.brute_topk(_tbl(spark, sf_dir, "embeddings"), k=10))


@_gate("ann_batch_topk", lambda: f"""
            WITH {_VEC_CTES},
            q AS (SELECT vec_id AS query_id, e AS qe, norm AS qn
                  FROM nrm WHERE vec_id < 20),
            scored AS (
                SELECT q.query_id, n.vec_id,
                       round(list_inner_product(n.e, q.qe)
                             / (n.norm * q.qn), 4) AS score
                FROM nrm n, q
                WHERE n.vec_id <> q.query_id),
            r AS (SELECT query_id, vec_id, score,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY score DESC, vec_id ASC)
                             AS rn
                  FROM scored)
            SELECT query_id, vec_id, score FROM r WHERE rn <= 10
        """, bench=True, hostile="embeddings")
def q_batch_topk(spark, sf_dir):
    embs = _tbl(spark, sf_dir, "embeddings")
    return _longify(S.batch_topk(
        embs, embs.filter(F.col("vec_id") < 20), k=10))


@_gate("ann_lsh_buckets", lambda: f"""
            WITH {_VEC_CTES},
            {_LSH_CTES}
            SELECT vec_id, bucket FROM buckets
        """, hostile="embeddings")
def q_lsh_buckets(spark, sf_dir):
    return _longify(S.lsh_buckets(_tbl(spark, sf_dir, "embeddings")))


@_gate("ann_sq8_encode",
       # floor(x + 0.5) is the SQ8 tie contract (round() forks:
       # Spark half-away vs DuckDB half-even); the ADC dot runs over
       # the codes list in order (list_inner_product ≡ the Spark fold).
       lambda: f"""
            WITH {_VEC_CTES},
            sl AS (SELECT vec_id, unnest(range(1, len(e) + 1)) AS i,
                          e, norm
                   FROM nrm)
            SELECT vec_id, (i - 1)::BIGINT AS dim,
                   floor(e[i] / norm * 127.0 + 0.5)::BIGINT AS val
            FROM sl
        """, hostile="embeddings")
def q_sq8_encode(spark, sf_dir):
    return _longify(_vec_long(
        S.sq8_encode(_tbl(spark, sf_dir, "embeddings")), "codes"))


@_gate("ann_sq8_topk", lambda: f"""
            WITH {_VEC_CTES},
            codes AS (
                SELECT vec_id,
                       [floor(x / norm * 127.0 + 0.5)::DOUBLE FOR x IN e]
                           AS cd
                FROM nrm),
            q AS (SELECT [x / norm FOR x IN e] AS qv
                  FROM nrm WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_inner_product(cd, qv) / 127.0, 6) AS score
            FROM codes, q
            WHERE vec_id <> 0
            ORDER BY score DESC, vec_id ASC
            LIMIT 10
        """, bench=True, hostile="embeddings")
def q_sq8_topk(spark, sf_dir):
    return _longify(S.sq8_topk(_tbl(spark, sf_dir, "embeddings"),
                               k=10))


@_gate("ann_kmeans_refine",
       # two UNROLLED distributed-Lloyd iterations from the same
       # annoracle-reproduced seed codebook kmeans_refine_df uses;
       # the 6dp rounding at every stage boundary is the shared
       # contract that makes the iterative state engine-portable.
       lambda: f"""
            WITH {_VEC_CTES},
            c0 AS (SELECT centroid_id, cvec FROM {_kmeans_codebook()}),
            {_refine_iter(1, "c0")},
            {_refine_iter(2, "c1")},
            cl AS (SELECT centroid_id, cnt,
                          unnest(range(1, len(cvec) + 1)) AS i, cvec
                   FROM c2)
            SELECT centroid_id, cnt::BIGINT AS n_members,
                   (i - 1)::BIGINT AS dim, cvec[i] AS val
            FROM cl
        """, bench=True)  # no hostile suite: the oracle embeds sf0.01 literals
def q_kmeans_refine(spark, sf_dir):
    return _longify(_vec_long(S.kmeans_refine_df(
        _tbl(spark, sf_dir, "embeddings"), iters=2), "centroid"))


# IVF over the sampled k-means codebook: ann_ivf_topk and
# ann_ivf_sq8_topk run the default codebook, the ann_ivf_kmeans_*
# gates pass it explicitly. Every oracle rebuilds the codebook
# without Spark (tools/annoracle.py), see ivf_oracle_sql.
@_gate("ann_ivf_topk", ivf_oracle_sql, hostile="ivf")
def q_ivf_topk(spark, sf_dir):
    return _longify(S.ivf_topk(_tbl(spark, sf_dir, "embeddings"), k=10))


@_gate("ann_ivf_kmeans_assign", ivf_oracle_sql, hostile="ivf")
def q_ivf_kmeans_assign(spark, sf_dir):
    embs = _tbl(spark, sf_dir, "embeddings")
    cb = S.kmeans_codebook(embs)
    return _longify(S.ivf_assign(embs, codebook=cb))


@_gate("ann_ivf_kmeans_topk", ivf_oracle_sql, hostile="ivf")
def q_ivf_kmeans_topk(spark, sf_dir):
    embs = _tbl(spark, sf_dir, "embeddings")
    cb = S.kmeans_codebook(embs)
    return _longify(S.ivf_topk(embs, k=10, n_probe=2, codebook=cb))


@_gate("ann_ivf_sq8_topk", ivf_oracle_sql, hostile="ivf")
def q_ivf_sq8_topk(spark, sf_dir):
    return _longify(S.ivf_sq8_topk(
        _tbl(spark, sf_dir, "embeddings"), k=10, n_probe=1))


@_gate("centroid_by_label", lambda: """
            WITH v AS (
                SELECT label, [x::DOUBLE FOR x IN embedding] AS e
                FROM embeddings
                WHERE embedding IS NOT NULL AND len(embedding) > 0),
            d AS (
                SELECT label, unnest(range(1, len(e) + 1)) AS i, e
                FROM v),
            a AS (
                SELECT label, i - 1 AS dim, avg(e[i]) AS m,
                       count(*) AS cnt
                FROM d GROUP BY 1, 2)
            SELECT label, cnt::BIGINT AS n_vecs, dim::BIGINT AS dim,
                   round(m, 6) AS val
            FROM a
        """, bench=True, hostile="embeddings")
def q_centroid_by_label(spark, sf_dir):
    return _longify(_vec_long(S.centroid_by_label(
        _tbl(spark, sf_dir, "embeddings")), "centroid"))


@_gate("embedding_cosine_dups", lambda: f"""
            WITH {_VEC_CTES},
            {_LSH_CTES}
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_inner_product(a.e, b.e) / (a.norm * b.norm), 4) AS score
            FROM nrm a
            JOIN buckets ba ON a.vec_id = ba.vec_id
            JOIN buckets bb ON ba.bucket = bb.bucket
            JOIN nrm b ON b.vec_id = bb.vec_id
            WHERE a.vec_id < b.vec_id
              AND round(list_inner_product(a.e, b.e) / (a.norm * b.norm), 4)
                  >= {COSINE_DUP_THRESHOLD}
        """, hostile="embeddings")
def q_cos_dups(spark, sf_dir):
    return _longify(S.cosine_dup_pairs(
        _tbl(spark, sf_dir, "embeddings"),
        threshold=COSINE_DUP_THRESHOLD, use_lsh=True))


# SemDeDup (Abbas et al. 2023): embedding dedup inside k-means cells
# — runs the PRODUCTION sampled-k-means codebook; the oracle
# reproduces it sparklessly (tools/annoracle.py) and embeds the
# centroids as SQL literals, so both gates are full value-hash checks.
@_gate("semdedup_pairs", ivf_oracle_sql, hostile="ivf")
def q_semdedup_pairs(spark, sf_dir):
    embs = _tbl(spark, sf_dir, "embeddings")
    cb = S.kmeans_codebook(embs)
    return _longify(S.semdedup_pairs(
        embs, threshold=COSINE_DUP_THRESHOLD, codebook=cb))


@_gate("semdedup_keep", ivf_oracle_sql, bench=True, hostile="ivf")
def q_semdedup_keep(spark, sf_dir):
    embs = _tbl(spark, sf_dir, "embeddings")
    # production config: cells scale with the corpus (auto == 16 up
    # to 4,800 vectors, so the oracle's 16-cell codebook still holds)
    cb = S.kmeans_codebook(embs, n_centroids=S.auto_centroids(embs))
    return _longify(S.semdedup_keep(
        embs, threshold=COSINE_DUP_THRESHOLD, codebook=cb)
        .select("vec_id", "label"))


@_gate("semantic_decontam",
       # embedding-space decontamination: max cosine of each non-eval
       # vector vs the eval subset (vec_id % 50 = 0 AND vec_id < 2000),
       # 4dp-rounded before the max so both engines reduce identical numbers
       lambda: f"""
            WITH {_VEC_CTES},
            ev AS (SELECT e AS qe, norm AS qn
                   FROM nrm WHERE vec_id % 50 = 0 AND vec_id < 2000)
            SELECT n.vec_id,
                   max(round(list_inner_product(n.e, ev.qe)
                             / (n.norm * ev.qn), 4)) AS max_eval_cos,
                   CASE WHEN max(round(list_inner_product(n.e, ev.qe)
                                       / (n.norm * ev.qn), 4)) < 0.25
                        THEN 1 ELSE 0 END AS keep
            FROM nrm n, ev
            WHERE NOT (n.vec_id % 50 = 0 AND n.vec_id < 2000)
            GROUP BY n.vec_id
        """, bench=True)
def q_semantic_decontam(spark, sf_dir):
    # embedding-space eval-overlap: eval set = vec_id % 50 == 0 AND
    # vec_id < 2000 (a fixed cap, so replicated fixtures grow only
    # the corpus side), corpus = the rest; per-doc max cosine vs the
    # eval set + the keep decision at a fixture-calibrated threshold
    # (max observed cos on this fixture is 0.453, so 0.25 is strongly
    # non-vacuous: 120 of 490 rows drop)
    embs = _tbl(spark, sf_dir, "embeddings")
    is_eval = (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000)
    ev = embs.filter(is_eval)
    corpus = embs.filter(~is_eval)
    return (S.semantic_contamination(corpus, ev)
            .withColumn("keep",
                        (F.col("max_eval_cos") < F.lit(0.25))
                        .cast("int")))


# ============================================================ graph


# PageRank, 2 iterations UNROLLED (the kmeans_refine protocol):
# ranks rounded 9dp at every boundary; the dangling mass is a sum of
# exact 1e-9 integer units so it cannot drift ulps. One CTE chain
# serves both the ranks gate and the deltas gate.
def _pr_edge_ctes() -> str:
    return f"""e AS (
                SELECT conv_id AS src,
                       unnest(regexp_extract_all(text,
                           '<a href="([^"]*)">([^<]*)</a>', 1)) AS dst
                FROM read_parquet(
                    '{transcripts_path(ORACLE_SF)}/*.parquet')
                WHERE tool = 'html/v1'),
            nd AS (SELECT src AS node FROM e
                   UNION SELECT dst FROM e),
            cnt AS (SELECT count(*)::BIGINT AS n FROM nd),
            deg AS (SELECT src AS node, count(*)::BIGINT AS outdeg
                    FROM e GROUP BY 1),
            r0 AS (SELECT node,
                          round(1.0 / (SELECT n FROM cnt), 9) AS r
                   FROM nd),
            d1 AS (SELECT coalesce(sum(CAST(round(r * 1e9) AS BIGINT)),
                                   0) AS u
                   FROM r0 LEFT JOIN deg USING (node)
                   WHERE outdeg IS NULL),
            c1 AS (SELECT e.dst AS node, sum(r0.r / deg.outdeg) AS s
                   FROM e JOIN r0 ON r0.node = e.src
                          JOIN deg ON deg.node = e.src
                   GROUP BY 1),
            r1 AS (SELECT nd.node,
                          round((((1.0 - 0.85) / (SELECT n FROM cnt))
                                 + (0.85 * (((SELECT u FROM d1)::DOUBLE
                                             / 1e9)
                                            / (SELECT n FROM cnt))))
                                + 0.85 * coalesce(c1.s, 0.0), 9) AS r
                   FROM nd LEFT JOIN c1 ON c1.node = nd.node),
            d2 AS (SELECT coalesce(sum(CAST(round(r * 1e9) AS BIGINT)),
                                   0) AS u
                   FROM r1 LEFT JOIN deg USING (node)
                   WHERE outdeg IS NULL),
            c2 AS (SELECT e.dst AS node, sum(r1.r / deg.outdeg) AS s
                   FROM e JOIN r1 ON r1.node = e.src
                          JOIN deg ON deg.node = e.src
                   GROUP BY 1),
            r2 AS (SELECT nd.node,
                          round((((1.0 - 0.85) / (SELECT n FROM cnt))
                                 + (0.85 * (((SELECT u FROM d2)::DOUBLE
                                             / 1e9)
                                            / (SELECT n FROM cnt))))
                                + 0.85 * coalesce(c2.s, 0.0), 9) AS r
                   FROM nd LEFT JOIN c2 ON c2.node = nd.node)"""


# URL canonicalization / registrable-domain chain, shared by the
# three domain-curation oracles. Mirrors links.url_canonicalize
# step for step; DuckDB needs the explicit 'g' flag where Spark's
# regexp_replace is always global, and '\\1' where Spark says '$1'.
def _url_ctes(rel: str) -> str:
    return f"""cu AS (
                SELECT *, regexp_replace(href, '#.*$', '') AS u
                FROM {rel}),
            cb AS (
                SELECT *,
                       coalesce(regexp_extract(u, '^([^?]*)', 1), '')
                           AS base,
                       regexp_replace(
                           regexp_replace(
                               '&' || coalesce(regexp_extract(u,
                                   '^[^?]*[?](.*)$', 1), ''),
                               '&utm_[^&]*', '', 'g'),
                           '^&', '') AS q
                FROM cu),
            hp AS (
                SELECT *,
                       coalesce(regexp_extract(base,
                           '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1),
                           '') AS head
                FROM cb),
            h2 AS (
                SELECT *,
                       regexp_replace(
                           regexp_replace(lower(head),
                               '^(http://[^:/]+):80$', '\\1'),
                           '^(https://[^:/]+):443$', '\\1') AS headc,
                       substr(base, length(head) + 1) AS pth,
                       CASE WHEN q = '' THEN '' ELSE '?' || q END AS qs
                FROM hp),
            canon AS (
                SELECT *,
                       headc || (CASE WHEN pth = '' THEN '/'
                                      ELSE regexp_replace(pth,
                                               '(.)/+$', '\\1')
                                 END) || qs AS url_canon
                FROM h2),
            dom AS (
                SELECT *,
                       string_split(coalesce(regexp_extract(url_canon,
                           '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1), ''),
                           '.') AS lb,
                       coalesce(regexp_extract(url_canon,
                           '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1), '')
                           AS host
                FROM canon),
            rdd AS (
                SELECT *,
                       CASE WHEN len(lb) >= 3
                                 AND lb[-2] IN ('co', 'com', 'net',
                                                'org', 'gov', 'ac',
                                                'edu')
                            THEN lb[-3] || '.' || lb[-2] || '.'
                                 || lb[-1]
                            WHEN len(lb) >= 2
                            THEN lb[-2] || '.' || lb[-1]
                            ELSE host END AS domain
                FROM dom)"""


# The absolute-href links of the html/v1 turns -> la(conv_id, turn_idx,
# lsu, link_idx, href, anchor): the source rows of the URL chain.
def _abs_links() -> str:
    return f"""h AS (
                SELECT conv_id, turn_idx,
                       len(string_split(text, ' ')) AS nt,
                       regexp_extract_all(text,
                           '<a href="([^"]*)">([^<]*)</a>', 1) AS hs,
                       regexp_extract_all(text,
                           '<a href="([^"]*)">([^<]*)</a>', 2) AS ans
                FROM read_parquet(
                    '{transcripts_path(ORACLE_SF)}/*.parquet')
                WHERE tool = 'html/v1'),
            lx AS (
                SELECT conv_id, turn_idx::BIGINT AS turn_idx,
                       CAST(floor(nt / (nt + 100.0) * 1e6 + 0.5)
                            AS BIGINT) AS lsu,
                       unnest([i FOR i IN range(0, len(hs))])::BIGINT
                           AS link_idx,
                       unnest(hs) AS href, unnest(ans) AS anchor
                FROM h),
            la AS (SELECT * FROM lx
                   WHERE regexp_matches(href, '(?i)^https?://'))"""


@_gate("link_extract",
       # Hyperlink edge extraction: one regexp pass, lockstep unnest of
       # the two capture groups with their ordinal.
       lambda: f"""
            WITH h AS (
                SELECT conv_id, turn_idx,
                       regexp_extract_all(text,
                           '<a href="([^"]*)">([^<]*)</a>', 1) AS hs,
                       regexp_extract_all(text,
                           '<a href="([^"]*)">([^<]*)</a>', 2) AS ans
                FROM read_parquet(
                    '{transcripts_path(ORACLE_SF)}/*.parquet')
                WHERE tool = 'html/v1')
            SELECT conv_id, turn_idx::BIGINT AS turn_idx,
                   unnest([i FOR i IN range(0, len(hs))])::BIGINT
                       AS link_idx,
                   unnest(hs) AS href, unnest(ans) AS anchor
            FROM h
        """)
def q_link_extract(spark, sf_dir):
    from pdf_parser_spark.corpus import links as LK
    tr = _transcripts(spark, sf_dir).filter(F.col("tool") == "html/v1")
    return _longify(LK.extract_links(tr))


# Graph gates: tol=0.0 makes the converged loop run exactly
# max_iters iterations, so pagerank_converged(max_iters=2) must
# hash-match the unrolled 2-iteration oracle, and the delta
# sequence itself becomes a scalar relation the oracle re-derives
# in exact 1e-9 units.
@_gate("link_pagerank_converged",
       # pagerank_converged(max_iters=2, tol=0.0) runs exactly two rounds
       lambda: f"""
            WITH {_pr_edge_ctes()}
            SELECT node, r FROM r2
        """, bench=True)
def q_link_pagerank_converged(spark, sf_dir):
    from pdf_parser_spark.corpus import links as LK
    tr = _transcripts(spark, sf_dir).filter(F.col("tool") == "html/v1")
    edges = LK.extract_links(tr).select(
        F.col("conv_id").alias("src"), F.col("href").alias("dst"))
    ranks, _ = LK.pagerank_converged(edges, max_iters=2, tol=0.0)
    return _longify(ranks)


@_gate("link_pagerank_deltas",
       # the delta sequence re-derived relationally: per iteration the L1
       # distance of the 9dp rank state in exact 1e-9 integer units — the
       # same scalar the engine's convergence loop computes per round
       lambda: f"""
            WITH {_pr_edge_ctes()}
            SELECT 1::BIGINT AS iter,
                   sum(abs(CAST(round(a.r * 1e9) AS BIGINT)
                           - CAST(round(b.r * 1e9) AS BIGINT)))::DOUBLE
                       / 1e9 AS delta
            FROM r1 a JOIN r0 b USING (node)
            UNION ALL
            SELECT 2::BIGINT,
                   sum(abs(CAST(round(a.r * 1e9) AS BIGINT)
                           - CAST(round(b.r * 1e9) AS BIGINT)))::DOUBLE
                       / 1e9
            FROM r2 a JOIN r1 b USING (node)
        """)
def q_link_pagerank_deltas(spark, sf_dir):
    from pdf_parser_spark.corpus import links as LK
    tr = _transcripts(spark, sf_dir).filter(F.col("tool") == "html/v1")
    edges = LK.extract_links(tr).select(
        F.col("conv_id").alias("src"), F.col("href").alias("dst"))
    _, deltas = LK.pagerank_converged(edges, max_iters=2, tol=0.0)
    return spark.createDataFrame(
        [(i + 1, d) for i, d in enumerate(deltas)],
        "iter long, delta double")


@_gate("link_hits_converged",
       # HITS hubs/authorities, one iteration unrolled from the
       # L1-normalized start (hub0 = 1/N), each half-step rounded 9dp then
       # normalized by an exact integer-unit sum
       lambda: f"""
            WITH e AS (
                SELECT conv_id AS src,
                       unnest(regexp_extract_all(text,
                           '<a href="([^"]*)">([^<]*)</a>', 1)) AS dst
                FROM read_parquet(
                    '{transcripts_path(ORACLE_SF)}/*.parquet')
                WHERE tool = 'html/v1'),
            nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            cnt AS (SELECT count(*)::BIGINT AS n FROM nd),
            h0 AS (SELECT node,
                          round(1.0 / (SELECT n FROM cnt), 9) AS hub
                   FROM nd),
            ar AS (SELECT e.dst AS node, sum(h0.hub) AS raw
                   FROM e JOIN h0 ON h0.node = e.src GROUP BY 1),
            a9 AS (SELECT nd.node, round(coalesce(ar.raw, 0.0), 9)
                          AS auth
                   FROM nd LEFT JOIN ar USING (node)),
            ua AS (SELECT sum(CAST(round(auth * 1e9) AS BIGINT)) AS u
                   FROM a9),
            a1 AS (SELECT node,
                          round(auth / ((SELECT u FROM ua)::DOUBLE
                                        / 1e9), 9) AS auth
                   FROM a9),
            hr AS (SELECT e.src AS node, sum(a1.auth) AS raw
                   FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1),
            h9 AS (SELECT nd.node, round(coalesce(hr.raw, 0.0), 9)
                          AS hub
                   FROM nd LEFT JOIN hr USING (node)),
            uh AS (SELECT sum(CAST(round(hub * 1e9) AS BIGINT)) AS u
                   FROM h9),
            h1 AS (SELECT node,
                          round(hub / ((SELECT u FROM uh)::DOUBLE
                                       / 1e9), 9) AS hub
                   FROM h9)
            SELECT h1.node, h1.hub, a1.auth
            FROM h1 JOIN a1 USING (node)
        """, bench=True)
def q_link_hits_converged(spark, sf_dir):
    from pdf_parser_spark.corpus import links as LK
    tr = _transcripts(spark, sf_dir).filter(F.col("tool") == "html/v1")
    edges = LK.extract_links(tr).select(
        F.col("conv_id").alias("src"), F.col("href").alias("dst"))
    scores, _ = LK.hits_converged(edges, max_iters=1, tol=0.0)
    return _longify(scores)


@_gate("url_canonicalize", lambda: f"""
            WITH {_abs_links()},
            {_url_ctes("la")}
            SELECT conv_id, turn_idx, link_idx, href, url_canon, domain
            FROM rdd
        """)
def q_url_canonicalize(spark, sf_dir):
    from pdf_parser_spark.corpus import links as LK
    tr = _transcripts(spark, sf_dir).filter(F.col("tool") == "html/v1")
    links = LK.extract_links(tr).filter(
        F.col("href").rlike(LK.ABS_HTTP_RE))
    canon = LK.url_canonicalize(F.col("href"))
    return _longify(links.select(
        "conv_id", "turn_idx", "link_idx", "href",
        canon.alias("url_canon"),
        LK.registrable_domain(LK.url_host(canon)).alias("domain")))


# Domain-level curation (round-4 verdict #5): canonicalize → eTLD+1
# → one partial-agg profile; blocklist as a zero-shuffle codegen
# exists() over the href array.
@_gate("domain_stats", lambda: f"""
            WITH {_abs_links()},
            {_url_ctes("la")},
            agg AS (
                SELECT domain,
                       count(*)::BIGINT AS n_links,
                       count(DISTINCT url_canon)::BIGINT AS n_urls,
                       count(DISTINCT conv_id)::BIGINT AS n_src_convs,
                       sum(len(string_split(anchor, ' ')))::BIGINT
                           AS sum_a_tok,
                       sum(lsu)::BIGINT AS sum_lsu
                FROM rdd GROUP BY 1)
            SELECT domain, n_links, n_urls, n_src_convs,
                   floor((1.0 - n_urls::DOUBLE / n_links) * 1e4 + 0.5)
                       / 1e4 AS dup_link_rate,
                   floor(sum_a_tok::DOUBLE / n_links * 1e4 + 0.5) / 1e4
                       AS avg_anchor_tokens,
                   floor(sum_lsu::DOUBLE / n_links + 0.5) / 1e6
                       AS avg_src_len_sq
            FROM agg
        """, bench=True)
def q_domain_stats(spark, sf_dir):
    from pdf_parser_spark.corpus import links as LK
    tr = _transcripts(spark, sf_dir).filter(F.col("tool") == "html/v1")
    return _longify(LK.domain_stats(tr))


@_gate("blocklist_filter", lambda: f"""
            WITH {_abs_links()},
            {_url_ctes("la")},
            bad AS (SELECT DISTINCT conv_id, turn_idx FROM rdd
                    WHERE domain IN ('ads.io', 'example.co.uk'))
            SELECT t.conv_id, t.turn_idx::BIGINT AS turn_idx
            FROM read_parquet(
                '{transcripts_path(ORACLE_SF)}/*.parquet') t
            LEFT JOIN bad b
              ON b.conv_id = t.conv_id
             AND b.turn_idx = t.turn_idx::BIGINT
            WHERE t.tool = 'html/v1' AND b.conv_id IS NULL
        """, bench=True)
def q_blocklist_filter(spark, sf_dir):
    from pdf_parser_spark.corpus import links as LK
    tr = _transcripts(spark, sf_dir).filter(F.col("tool") == "html/v1")
    kept = LK.blocklist_filter(tr, blocked=["ads.io", "example.co.uk"])
    return _longify(kept.select("conv_id", "turn_idx"))


# ============================================================ relational


# A003 footer keyword list verbatim (/root/reference/A003_colored_footer.py:204-205)
_KW = ["page", "copyright", "©", "®", "www.", ".com", ".org",
       "all rights reserved", "confidential"]
_KW_CLAUSE = " OR ".join(
    f"contains(lower(text), '{k}')" for k in _KW)
_ZORDER_SQL = _zvalue_sql("zx", "zy", bits=8)


@_gate("region_classify_case", lambda: """
            SELECT CASE WHEN (event_id * 37) % 792 < 792 * 0.15 THEN 'header'
                        WHEN (event_id * 37) % 792 > 792 * 0.90 THEN 'footer'
                        WHEN (event_id * 53) % 612 < 306 THEN 'left_column'
                        ELSE 'right_column' END AS region,
                   count(*)::BIGINT AS n_blocks
            FROM events GROUP BY 1
        """)
def q_region_classify(spark, sf_dir):
    return (
        _tbl(spark, sf_dir, "events")
        .withColumn("cy", (F.col("event_id") * 37) % 792)
        .withColumn("cx", (F.col("event_id") * 53) % 612)
        .withColumn(
            "region",
            F.when(F.col("cy") < 792 * 0.15, "header")
            .when(F.col("cy") > 792 * 0.90, "footer")
            .when(F.col("cx") < 306, "left_column")
            .otherwise("right_column"))
        .groupBy("region")
        .agg(F.count(F.lit(1)).alias("n_blocks"))
    )


@_gate("separator_grid_search", lambda: """
            WITH blocks AS (
                SELECT l_orderkey AS page_id,
                       ((l_partkey * 7) % 460) + 50 AS x0,
                       ((l_partkey * 7) % 460) + 110 AS x1
                FROM lineitem),
            pages AS (SELECT DISTINCT page_id FROM blocks),
            hits AS (
                SELECT b.page_id, c.c
                FROM blocks b, (SELECT unnest(range(183, 433, 10)) AS c) c
                GROUP BY b.page_id, c.c
                HAVING sum(CASE WHEN b.x1 < c.c THEN 1 ELSE 0 END) > 0
                   AND sum(CASE WHEN b.x0 > c.c THEN 1 ELSE 0 END) > 0),
            firsts AS (SELECT page_id, min(c) AS sep FROM hits GROUP BY page_id)
            SELECT p.page_id, coalesce(f.sep, 306)::DOUBLE AS separator_x
            FROM pages p LEFT JOIN firsts f USING (page_id)
        """)
def q_grid_sep(spark, sf_dir):
    blocks = (
        _tbl(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("page_id"),
            (((F.col("l_partkey") * 7) % 460) + 50).alias("x0"))
        .withColumn("x1", F.col("x0") + 60)
    )
    pages = blocks.select("page_id").distinct()
    cands = spark.range(1).select(
        F.explode(F.sequence(F.lit(183), F.lit(423), F.lit(10))).alias("c"))
    hits = (
        blocks.crossJoin(F.broadcast(cands))
        .groupBy("page_id", "c")
        .agg(
            F.sum((F.col("x1") < F.col("c")).cast("int")).alias("nl"),
            F.sum((F.col("x0") > F.col("c")).cast("int")).alias("nr"))
        .filter((F.col("nl") > 0) & (F.col("nr") > 0))
        .groupBy("page_id")
        .agg(F.min("c").alias("sep")))
    return (
        pages.join(hits, "page_id", "left")
        .select("page_id",
                F.coalesce(F.col("sep"), F.lit(306)).cast("double")
                .alias("separator_x"))
    )


@_gate("footer_keyword_filter", lambda: f"""
            SELECT doc_id,
                   ({_KW_CLAUSE})::BIGINT AS kw_hit,
                   (length(trim(text)) < 50 AND regexp_matches(text, '[0-9]'))::BIGINT AS short_digit,
                   (({_KW_CLAUSE}) OR (length(trim(text)) < 50
                        AND regexp_matches(text, '[0-9]')))::BIGINT AS is_footer_text
            FROM documents
        """, hostile="documents")
def q_footer_kw(spark, sf_dir):
    docs = _tbl(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    kw = F.lit(False)
    for k in _KW:
        kw = kw | low.contains(k)
    short_digit = (F.length(F.trim("text")) < 50) & F.col("text").rlike("[0-9]")
    return docs.select(
        "doc_id",
        kw.cast("long").alias("kw_hit"),
        short_digit.cast("long").alias("short_digit"),
        (kw | short_digit).cast("long").alias("is_footer_text"),
    )


@_gate("whitespace_normalize", lambda: """
            SELECT doc_id,
                   trim(array_to_string(
                       list_transform(string_split(text, chr(10)), x -> trim(x)),
                       chr(10))) AS norm_text
            FROM documents
        """, hostile="documents")
def q_norm_ws(spark, sf_dir):
    from pdf_parser_spark.plans.normalize import normalize_text_col

    docs = _tbl(spark, sf_dir, "documents")
    return docs.select("doc_id", normalize_text_col("text").alias("norm_text"))


@_gate("pricing_summary", lambda: """
            WITH l AS (
                SELECT l_returnflag, l_linestatus,
                       round(l_quantity)::BIGINT AS qty,
                       round(l_extendedprice * 100)::BIGINT AS pc,
                       round(l_discount * 100)::BIGINT AS dp,
                       round(l_tax * 100)::BIGINT AS tp
                FROM lineitem
                WHERE l_shipdate <= TIMESTAMP '1998-12-01')
            SELECT l_returnflag, l_linestatus,
                   sum(qty)::BIGINT AS sum_qty,
                   round(sum(pc) / 100, 2) AS sum_base_price,
                   round(sum(pc * (100 - dp)) / 10000, 2) AS sum_disc_price,
                   round(sum(pc * (100 - dp) * (100 + tp)) / 1000000, 2)
                       AS sum_charge,
                   round(sum(qty) / count(*), 4) AS avg_qty,
                   round(sum(pc) / count(*) / 100, 4) AS avg_price,
                   round(sum(pc * (100 - dp)) / count(*) / 10000, 4)
                       AS avg_disc_price,
                   count(*)::BIGINT AS count_order
            FROM l GROUP BY 1, 2
        """, bench=True)
def q_pricing_summary(spark, sf_dir):
    return _longify(R.pricing_summary(_tbl(spark, sf_dir, "lineitem")))


@_gate("top_revenue_orders", lambda: """
            WITH items AS (
                SELECT l_orderkey,
                       round(l_extendedprice * 100)::BIGINT
                           * (100 - round(l_discount * 100)::BIGINT) AS rev
                FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-01-01'),
            j AS (
                SELECT o_orderkey, o_orderdate, o_orderpriority,
                       sum(rev) AS rev
                FROM orders
                JOIN customer ON o_custkey = c_custkey
                             AND c_mktsegment = 'BUILDING'
                JOIN items ON l_orderkey = o_orderkey
                WHERE o_orderdate < TIMESTAMP '1998-01-01'
                GROUP BY 1, 2, 3)
            SELECT o_orderkey, round(rev / 10000, 2) AS revenue,
                   epoch_us(o_orderdate)::BIGINT AS odate_us,
                   o_orderpriority
            FROM j
            ORDER BY rev DESC, o_orderdate ASC, o_orderkey ASC LIMIT 10
        """)
def q_top_revenue_orders(spark, sf_dir):
    return _longify(R.top_revenue_orders(
        _tbl(spark, sf_dir, "customer"), _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem")))


@_gate("local_supplier_volume", lambda: """
            WITH nat AS (
                SELECT n_nationkey, n_name
                FROM nation JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'ASIA'),
            cust AS (
                SELECT c_custkey, c_nationkey, n_name
                FROM customer JOIN nat ON c_nationkey = n_nationkey),
            supp AS (
                SELECT s_suppkey, s_nationkey
                FROM supplier JOIN nat ON s_nationkey = n_nationkey),
            ords AS (
                SELECT o_orderkey, o_custkey FROM orders
                WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                  AND o_orderdate < TIMESTAMP '1997-01-01'),
            items AS (
                SELECT l_orderkey, s_nationkey,
                       round(l_extendedprice * 100)::BIGINT
                       * (100 - round(l_discount * 100)::BIGINT)
                           AS rev_c2
                FROM lineitem JOIN supp ON l_suppkey = s_suppkey)
            SELECT n_name,
                   round(sum(rev_c2) / 10000, 2) AS revenue
            FROM ords
            JOIN cust ON o_custkey = c_custkey
            JOIN items ON o_orderkey = l_orderkey
                      AND c_nationkey = s_nationkey
            GROUP BY n_name
            ORDER BY revenue DESC, n_name ASC
        """, bench=True)
def q_local_supplier_volume(spark, sf_dir):
    return _longify(R.local_supplier_volume(
        _tbl(spark, sf_dir, "region"), _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem")))


@_gate("bloom_prune_join",
       # Q5: same integer-cents² revenue policy as the Spark side
       lambda: """
            WITH l AS (
                SELECT l_orderkey, l_returnflag,
                       round(l_extendedprice * 100)::BIGINT AS pc,
                       round(l_discount * 100)::BIGINT AS dp
                FROM lineitem)
            SELECT l_returnflag,
                   count(*)::BIGINT AS n_items,
                   round(sum(pc * (100 - dp)) / 10000, 2) AS revenue
            FROM l JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '1-URGENT'
            GROUP BY l_returnflag
        """, bench=True)
def q_bloom_prune_join(spark, sf_dir):
    lineitem = _tbl(spark, sf_dir, "lineitem")
    urgent = _tbl(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    joined = BJ.bloom_prune_join(
        lineitem, urgent, "l_orderkey", "o_orderkey")
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    dp = F.round(F.col("l_discount") * 100).cast("long")
    return _longify(
        joined.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.sum(pc * (100 - dp)).alias("rc"))
        .select("l_returnflag", "n_items",
                F.round(F.col("rc") / 10000, 2).alias("revenue")))


@_gate("sales_cube", lambda: """
            WITH l AS (
                SELECT l_returnflag, l_linestatus,
                       round(l_quantity)::BIGINT AS qty,
                       round(l_extendedprice * 100)::BIGINT AS pc
                FROM lineitem)
            SELECT l_returnflag, l_linestatus,
                   sum(qty)::BIGINT AS sum_qty,
                   round(sum(pc) / 100, 2) AS sum_base_price,
                   count(*)::BIGINT AS n_items,
                   grouping(l_returnflag, l_linestatus)::BIGINT AS gid
            FROM l GROUP BY CUBE(l_returnflag, l_linestatus)
        """)
def q_sales_cube(spark, sf_dir):
    return _longify(R.sales_cube(_tbl(spark, sf_dir, "lineitem")))


@_gate("table_stats",
       # One-pass ANALYZE: per-column rows/nulls/exact-ndv, long format.
       lambda: """
            WITH s AS (SELECT count(*) AS n_rows FROM documents)
            SELECT c.column, s.n_rows::BIGINT AS n_rows,
                   c.n_null::BIGINT AS n_null, c.ndv::BIGINT AS ndv
            FROM s, (
                SELECT 'doc_id' AS column,
                       count(CASE WHEN doc_id IS NULL THEN 1 END) AS n_null,
                       count(DISTINCT doc_id) AS ndv FROM documents
                UNION ALL
                SELECT 'text',
                       count(CASE WHEN text IS NULL THEN 1 END),
                       count(DISTINCT text) FROM documents
                UNION ALL
                SELECT 'lang',
                       count(CASE WHEN lang IS NULL THEN 1 END),
                       count(DISTINCT lang) FROM documents
                UNION ALL
                SELECT 'source',
                       count(CASE WHEN source IS NULL THEN 1 END),
                       count(DISTINCT source) FROM documents
                UNION ALL
                SELECT 'n_chars',
                       count(CASE WHEN n_chars IS NULL THEN 1 END),
                       count(DISTINCT n_chars) FROM documents) c
        """, bench=True, hostile="documents")
def q_table_stats(spark, sf_dir):
    from pdf_parser_spark.plans import stats as ST
    return _longify(ST.table_stats(
        _tbl(spark, sf_dir, "documents"),
        ["doc_id", "text", "lang", "source", "n_chars"]))


@_gate("skew_report",
       # Skew diagnosis: top-10 heaviest keys, integer ppm share,
       # NULL reported as a key, tie-break NULLS FIRST pinned.
       lambda: """
            WITH c AS (SELECT user_id AS key, count(*)::BIGINT AS cnt
                       FROM events GROUP BY 1),
            t AS (SELECT count(*)::BIGINT AS total FROM events),
            r AS (SELECT key, cnt,
                         (cnt * 1000000) // (SELECT total FROM t) AS ppm,
                         row_number() OVER (
                             ORDER BY cnt DESC, key ASC NULLS FIRST)
                             AS rank
                  FROM c)
            SELECT key::VARCHAR AS key, cnt, ppm::BIGINT AS ppm,
                   rank::BIGINT AS rank
            FROM r WHERE rank <= 10
        """, bench=True, hostile="events")
def q_skew_report(spark, sf_dir):
    from pdf_parser_spark.plans import stats as ST
    return _longify(ST.skew_report(
        _tbl(spark, sf_dir, "events"), "user_id", top=10))


@_gate("zorder_key",
       # Morton z-value for the z-order layout: pure integer bit
       # interleave, generated by the SAME code (layout.zvalue_sql) that
       # the engine's zvalue mirrors — the two cannot drift. least()
       # skips NULL in both engines (the mixture_sample fork note);
       # a NULL user_id nulls the whole z on both sides.
       lambda: f"""
            SELECT event_id,
                   {_ZORDER_SQL} AS z
            FROM (SELECT event_id, user_id AS zx,
                         least(floor(value / 2), 255)::BIGINT AS zy
                  FROM events)
        """, hostile="events")
def q_zorder_key(spark, sf_dir):
    from pdf_parser_spark.plans import layout as LY
    ev = _tbl(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").alias("zx"),
        F.least(F.floor(F.col("value") / 2), F.lit(255))
        .cast("long").alias("zy"))
    return _longify(ev.select(
        "event_id", LY.zvalue("zx", "zy", bits=8).alias("z")))


@_gate("distinct_kmv",
       # fused single-window form, mirroring the engine: no
       # exact⋈sketch join (USING on a nullable group drops the NULL
       # group — hostile-suite finding), and null KEYS are excluded
       # per the count-distinct contract
       lambda: f"""
            WITH pairs AS (
                SELECT DISTINCT event_type,
                       ('0x' || substr(md5(user_id::VARCHAR || ':kmv'),
                                       1, 15))::UBIGINT AS h
                FROM events WHERE user_id IS NOT NULL),
            km AS (SELECT event_type, h,
                          row_number() OVER (PARTITION BY event_type
                                             ORDER BY h) AS rn,
                          count(*) OVER (PARTITION BY event_type)
                              AS n_exact
                   FROM pairs)
            SELECT event_type, n_exact::BIGINT AS n_exact,
                   round(CASE WHEN n_exact < 64 THEN n_exact::DOUBLE
                              ELSE {float(63 * (1 << 60))!r}
                                   / max(h)::DOUBLE
                         END, 2) AS kmv_est
            FROM km WHERE rn <= 64
            GROUP BY event_type, n_exact
        """, bench=True, hostile="events")
def q_distinct_kmv(spark, sf_dir):
    return _longify(SK.distinct_kmv(
        _tbl(spark, sf_dir, "events"), "event_type", "user_id"))


@_gate("cms_heavy_hitters",
       # CMS frequency estimates for the exact top-20 tokens; the min
       # over 4 md5-hashed rows of 256 cells — pure integers, so the
       # gate is exact. est >= exact by construction (CMS overcounts).
       lambda: f"""
            WITH toks AS (
                SELECT unnest(string_split({_CANON}, ' ')) AS term
                FROM documents),
            tf AS (SELECT term, count(*)::BIGINT AS exact
                   FROM toks GROUP BY 1),
            top AS (SELECT term, exact FROM tf
                    ORDER BY exact DESC, term ASC LIMIT 20),
            cells AS (
                SELECT term, exact, r,
                       ('0x' || substr(md5(term || ':cms:' || r),
                                       1, 8))::UBIGINT % 256 AS cell
                FROM tf CROSS JOIN range(4) t(r)),
            sk AS (SELECT r, cell, sum(exact)::BIGINT AS cnt
                   FROM cells GROUP BY 1, 2),
            pr AS (
                SELECT term, r,
                       ('0x' || substr(md5(term || ':cms:' || r),
                                       1, 8))::UBIGINT % 256 AS cell
                FROM top CROSS JOIN range(4) t(r)),
            est AS (SELECT pr.term,
                           min(coalesce(sk.cnt, 0))::BIGINT AS cms_est
                    FROM pr LEFT JOIN sk ON sk.r = pr.r
                                        AND sk.cell = pr.cell
                    GROUP BY 1)
            SELECT top.term, top.exact, est.cms_est
            FROM top JOIN est USING (term)
        """, bench=True, hostile="documents")
def q_cms_heavy(spark, sf_dir):
    docs = _tbl(spark, sf_dir, "documents")
    toks = docs.select(F.explode(D.canonical_tokens("text")).alias("term"))
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact"))
    top = tf.orderBy(F.col("exact").desc(), F.col("term").asc()) \
        .limit(20)
    sk = SK.cms_sketch(tf, "term", weight_col="exact")
    est = SK.cms_estimate(sk, top.select("term"), "term")
    return _longify(top.join(est, "term")
                    .select("term", "exact", "cms_est"))


@_gate("hist_quantiles",
       # Equi-width histogram quantiles: bin rule + interpolation are
       # plain IEEE arithmetic both engines replay; p cast DOUBLE
       # explicitly (a bare 0.5 literal is DECIMAL in DuckDB and its
       # decimal multiply forks the target rank).
       lambda: """
            WITH s AS (SELECT min(value) AS lo, max(value) AS hi,
                              count(value)::BIGINT AS n
                       FROM events),
            p AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS p),
            bc AS (SELECT least(floor((value - (SELECT lo FROM s))
                                      / ((SELECT hi FROM s)
                                         - (SELECT lo FROM s)) * 128),
                                127)::BIGINT AS bin,
                          count(*)::BIGINT AS cnt
                   FROM events WHERE value IS NOT NULL GROUP BY 1),
            h AS (SELECT bin, cnt,
                         sum(cnt) OVER (ORDER BY bin
                                        ROWS UNBOUNDED PRECEDING)::BIGINT
                             AS cum
                  FROM bc),
            j AS (SELECT p.p, h.bin, h.cnt, h.cum,
                         row_number() OVER (PARTITION BY p.p
                                            ORDER BY h.bin) AS rn
                  FROM p JOIN h ON h.cum >= p.p * (SELECT n FROM s))
            SELECT p,
                   round((SELECT lo FROM s)
                         + bin * (((SELECT hi FROM s)
                                   - (SELECT lo FROM s)) / 128)
                         + (p * (SELECT n FROM s) - (cum - cnt)) / cnt
                           * (((SELECT hi FROM s)
                               - (SELECT lo FROM s)) / 128), 6) AS est
            FROM j WHERE rn = 1
        """, hostile="events")
def q_hist_quantiles(spark, sf_dir):
    from pdf_parser_spark.plans import stats as ST
    return _longify(ST.histogram_quantiles(
        _tbl(spark, sf_dir, "events"), "value",
        ps=(0.5, 0.9, 0.99), bins=128))


@_gate("hist_quantiles_by_type",
       # trailing moments are INTEGER sums; mean/var derive in the
       # same pinned double-op order as the Spark side
       # Per-group histogram quantiles: group stats fully in-plan,
       # group joins NULL-SAFE (IS NOT DISTINCT FROM) so the NULL
       # type's rows survive; degenerate groups return their constant.
       lambda: """
            WITH base AS (SELECT event_type AS g, value::DOUBLE AS v
                          FROM events WHERE value IS NOT NULL),
            gs AS (SELECT g, min(v) AS lo, max(v) AS hi,
                          count(*)::BIGINT AS n
                   FROM base GROUP BY 1),
            cells AS (
                SELECT base.g,
                       (CASE WHEN hi = lo THEN 0
                             ELSE least(floor((v - lo) / (hi - lo) * 64),
                                        63) END)::BIGINT AS bin,
                       count(*)::BIGINT AS cnt
                FROM base JOIN gs ON base.g IS NOT DISTINCT FROM gs.g
                GROUP BY 1, 2),
            hist AS (
                SELECT c.g, c.bin, c.cnt,
                       sum(c.cnt) OVER (PARTITION BY c.g ORDER BY c.bin
                                        ROWS UNBOUNDED PRECEDING)::BIGINT
                           AS cum,
                       gs.lo, gs.hi, gs.n
                FROM cells c JOIN gs ON c.g IS NOT DISTINCT FROM gs.g),
            p AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS p),
            j AS (SELECT hist.*, p.p,
                         row_number() OVER (
                             PARTITION BY hist.g, p.p
                             ORDER BY hist.bin) AS rn
                  FROM hist JOIN p ON hist.cum >= p.p * hist.n)
            SELECT g AS event_type, p,
                   round(CASE WHEN hi = lo THEN lo
                              ELSE lo + bin * ((hi - lo) / 64)
                                   + (p * n - (cum - cnt)) / cnt
                                     * ((hi - lo) / 64) END, 6) AS est
            FROM j WHERE rn = 1
        """, hostile="events")
def q_hist_quantiles_by(spark, sf_dir):
    from pdf_parser_spark.plans import stats as ST
    return _longify(ST.histogram_quantiles_by(
        _tbl(spark, sf_dir, "events"), "event_type", "value",
        ps=(0.5, 0.9, 0.99), bins=64))


@_gate("value_percentiles", lambda: """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(quantile_cont(value, 0.99), 4) AS p99
            FROM events GROUP BY 1
        """, hostile="events")
def q_value_percentiles(spark, sf_dir):
    return _longify(FN.value_percentiles(_tbl(spark, sf_dir, "events")))


@_gate("json_props_rollup",
       # Semi-structured rollup: one lazy JSONPath + TRY_CAST (malformed
       # JSON / missing field / wrong type -> NULL, counted, never
       # failures), NULL group kept; integers only.
       lambda: """
            SELECT event_type,
                   count(*)::BIGINT AS n_events,
                   count(k)::BIGINT AS n_with_field,
                   sum(k)::BIGINT AS sum_k,
                   min(k)::BIGINT AS min_k,
                   max(k)::BIGINT AS max_k
            FROM (SELECT event_type,
                         CASE WHEN props IS NOT NULL
                                   AND json_valid(props)
                              THEN try_cast(
                                  json_extract_string(props, '$.k')
                                  AS BIGINT)
                         END AS k
                  FROM events)
            GROUP BY 1
        """, hostile="events")
def q_json_props_rollup(spark, sf_dir):
    return _longify(FN.json_props_rollup(
        _tbl(spark, sf_dir, "events")))


def _orders_changeset(orders):
    # CDC changeset synthesized from orders, exercising every merge
    # rule: %10<3 upserted (the %10==0 keys ALSO get an older upsert
    # that must lose to latest-wins), %10==3 deleted, %10==4 gets a
    # same-instant upsert+delete (delete wins). Shared by the
    # merge_upsert (snapshot) and scd2_history (version history)
    # gates; each oracle derives ITS expected output independently.
    k = F.col("o_orderkey")
    day1 = F.col("o_orderdate") + F.expr("interval 1 day")

    def chg(pred, op, ts, **sets):
        df = orders.filter(pred)
        for col, val in sets.items():
            df = df.withColumn(col, val)
        return df.withColumn("op", F.lit(op)).withColumn(
            "change_ts", ts)

    return (
        chg(k % 10 < 3, "u", day1,
            o_totalprice=F.col("o_totalprice") + 1,
            o_orderstatus=F.lit("U"))
        .unionByName(chg(k % 10 == 0, "u", F.col("o_orderdate"),
                         o_totalprice=F.lit(0.0)))
        .unionByName(chg(k % 10 == 3, "d", day1))
        .unionByName(chg(k % 10 == 4, "u", F.col("o_orderdate"),
                         o_totalprice=F.lit(1.0)))
        .unionByName(chg(k % 10 == 4, "d", F.col("o_orderdate"))))


def _merged_orders_oracle() -> str:
    # Independent derivation of the expected post-merge snapshot
    # (CASE/WHERE over the base), NOT a mirror of the merge
    # algorithm — latest-wins, delete, and tie rules each show up
    # as a hash mismatch if broken. The streaming merge must converge
    # to the SAME snapshot, whatever the micro-batch split, so both
    # merge gates share this oracle.
    return """
            SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 10 < 3 THEN 'U'
                        ELSE o_orderstatus END AS o_orderstatus,
                   CASE WHEN o_orderkey % 10 < 3 THEN o_totalprice + 1
                        ELSE o_totalprice END AS o_totalprice,
                   epoch_us(o_orderdate)::BIGINT AS odate_us,
                   o_orderpriority
            FROM orders
            WHERE o_orderkey % 10 NOT IN (3, 4)
        """


@_gate("merge_upsert", _merged_orders_oracle, hostile="order")
def q_merge_upsert(spark, sf_dir):
    # The oracle derives the expected snapshot independently
    # (CASE/WHERE over base), so any broken merge rule shows as a
    # hash mismatch.
    orders = _tbl(spark, sf_dir, "orders")
    changes = _orders_changeset(orders)
    out = R.apply_changeset(orders, changes, "o_orderkey", "change_ts")
    return _longify(out.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        FN._epoch_us("o_orderdate").alias("odate_us"),
        "o_orderpriority"))


@_gate("scd2_history",
       # Expected SCD2 history written out version-by-version per key
       # group — NOT a replay of the union+lead algorithm. Groups (see
       # _orders_changeset): %10==0 base zero-length + price-0 version
       # + open day1 version; %10 in (1,2) base closed at day1 + open
       # day1 version; %10==3 base closed at day1 by the delete;
       # %10==4 base and the price-1 upsert both zero-length (same-
       # instant delete); %10>=5 base open.
       lambda: """
            WITH d AS (
                SELECT o_orderkey AS k, o_orderstatus AS st,
                       o_totalprice AS pr,
                       epoch_us(o_orderdate)::BIGINT AS d0,
                       epoch_us(o_orderdate + INTERVAL 1 DAY)::BIGINT
                           AS d1
                FROM orders)
            SELECT k AS o_orderkey, st AS o_orderstatus,
                   pr AS o_totalprice, d0 AS valid_from_us,
                   CASE WHEN k % 10 IN (0, 4) THEN d0
                        WHEN k % 10 IN (1, 2, 3) THEN d1
                        ELSE NULL END AS valid_to_us,
                   CASE WHEN k % 10 >= 5 THEN 1 ELSE 0 END AS is_current
            FROM d
            UNION ALL
            SELECT k, st, 0.0, d0, d1, 0 FROM d WHERE k % 10 = 0
            UNION ALL
            SELECT k, 'U', pr + 1, d1, NULL, 1 FROM d WHERE k % 10 < 3
            UNION ALL
            SELECT k, st, 1.0, d0, d0, 0 FROM d WHERE k % 10 = 4
        """, hostile="order")
def q_scd2_history(spark, sf_dir):
    # Same changeset, full SCD2 version history. The oracle writes
    # out every expected version row group-by-group (UNION ALL of
    # CASE-free SELECTs over base), an independent derivation of
    # the version/interval rules — zero-length versions, the
    # base<upsert<delete same-instant order, delete-closes-only —
    # so any broken rule is a row or hash mismatch.
    orders = _tbl(spark, sf_dir, "orders")
    changes = _orders_changeset(orders)
    out = R.scd2_history(orders, changes, "o_orderkey",
                         "change_ts", "o_orderdate")
    return _longify(out.select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "valid_from_us", "valid_to_us", "is_current"))


# ============================================================ temporal


@_gate("line_sessionize", lambda: """
            WITH e AS (
                SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
            marked AS (
                SELECT user_id, event_id, us,
                       CASE WHEN lag(us) OVER w IS NULL
                                 OR us - lag(us) OVER w >= 600000000
                            THEN 1 ELSE 0 END AS new_s
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            sess AS (
                SELECT user_id, event_id,
                       sum(new_s) OVER (PARTITION BY user_id
                                        ORDER BY us, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_id
                FROM marked),
            per_sess AS (
                SELECT user_id, session_id, count(*) AS n
                FROM sess GROUP BY user_id, session_id)
            SELECT user_id, count(*)::BIGINT AS n_sessions,
                   max(n)::BIGINT AS max_session_len,
                   sum(n)::BIGINT AS n_events
            FROM per_sess GROUP BY user_id
        """)
def q_sessionize(spark, sf_dir):
    _tbl(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql("""
        WITH e AS (
            -- timestampdiff on TIMESTAMP_NTZ: epoch micros independent
            -- of the session timezone (parquet loads ts as NTZ; a
            -- cast-to-timestamp would shift by the session zone)
            SELECT user_id, event_id,
                   timestampdiff(MICROSECOND,
                       to_timestamp_ntz('1970-01-01 00:00:00'), ts) AS us
            FROM events),
        marked AS (
            SELECT user_id, event_id, us,
                   CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w >= 600000000
                        THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        sess AS (
            SELECT user_id, event_id,
                   sum(new_s) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
            FROM marked),
        per_sess AS (
            SELECT user_id, session_id, count(*) AS n
            FROM sess GROUP BY user_id, session_id)
        SELECT user_id, count(*) AS n_sessions,
               max(n) AS max_session_len, sum(n) AS n_events
        FROM per_sess GROUP BY user_id
    """)


@_gate("tumbling_window_counts", lambda: """
            SELECT epoch_us(date_trunc('hour', ts)) AS ws_us, event_type,
                   count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2
        """)
def q_window_counts(spark, sf_dir):
    return (
        _tbl(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            # session-timezone independent epoch micros of the NTZ
            # window start (see line_sessionize note)
            F.expr("timestampdiff(MICROSECOND, "
                   "to_timestamp_ntz('1970-01-01 00:00:00'), w.start)")
            .alias("ws_us"),
            "event_type", "n")
    )


@_gate("asof_join_latest",
       # DuckDB's native ASOF LEFT JOIN is the semantic spec the Spark
       # union-and-window formulation must reproduce (inclusive on ties).
       lambda: """
            WITH p AS (SELECT event_id, user_id,
                              epoch_us(ts)::BIGINT AS t_us
                       FROM events WHERE event_type = 'purchase'),
                 c AS (SELECT user_id, epoch_us(ts)::BIGINT AS t_us
                       FROM events WHERE event_type = 'click')
            SELECT p.event_id, p.user_id, p.t_us,
                   c.t_us AS asof_t_us, p.t_us - c.t_us AS gap_us
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.t_us >= c.t_us
        """, bench=True, hostile="events")
def q_asof_join(spark, sf_dir):
    return _longify(TP.asof_join_latest(_tbl(spark, sf_dir, "events")))


@_gate("interval_join_events", lambda: """
            WITH hb AS (
                SELECT epoch_us(ts)::BIGINT // 3600000000 AS b,
                       count(*) AS cnt
                FROM events GROUP BY 1),
            hot AS (SELECT b FROM hb WHERE cnt >= 20),
            isl AS (SELECT b, b - row_number() OVER (ORDER BY b) AS g
                    FROM hot),
            win AS (SELECT min(b) * 3600000000 AS win_start_us,
                           (max(b) + 1) * 3600000000 AS win_end_us
                    FROM isl GROUP BY g),
            pts AS (SELECT event_id, epoch_us(ts)::BIGINT AS t_us
                    FROM events WHERE event_type = 'error')
            SELECT event_id, t_us, win_start_us, win_end_us
            FROM pts JOIN win
              ON t_us >= win_start_us AND t_us < win_end_us
        """, hostile="events")
def q_interval_join(spark, sf_dir):
    return _longify(TP.interval_join_events(
        _tbl(spark, sf_dir, "events")))


@_gate("rate_anomaly", lambda: """
            WITH counts AS (
                SELECT event_type,
                       floor(epoch_us(ts) / 3600000000.0)::BIGINT
                           AS bucket,
                       count(*)::BIGINT AS c
                FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
            stats AS (
                SELECT event_type, bucket, c,
                       count(*) OVER w AS n,
                       sum(c) OVER w AS s,
                       sum(c * c) OVER w AS q
                FROM counts
                WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
            SELECT event_type, bucket, c,
                   round(s / n, 4) AS trailing_mean,
                   CASE WHEN (q - s * s / n) / (n - 1) > 0
                        THEN round((c - s / n)
                                   / sqrt((q - s * s / n) / (n - 1)), 4)
                   END AS z
            FROM stats WHERE n >= 12
        """, bench=True, hostile="events")
def q_rate_anomaly(spark, sf_dir):
    return _longify(TP.rate_anomaly(_tbl(spark, sf_dir, "events")))


@_gate("ewma_hourly",
       # EWMA over the trailing 24 observed buckets: list() over the
       # ordered frame -> list_reduce replays Spark's aggregate() fold
       # seeded with the first element; constants cast DOUBLE (bare
       # 0.1 is DECIMAL here and decimal arithmetic would fork).
       lambda: """
            WITH counts AS (
                SELECT event_type,
                       floor(epoch_us(ts) / 3600000000.0)::BIGINT
                           AS bucket,
                       count(*)::BIGINT AS c
                FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
            arrs AS (
                SELECT event_type, bucket, c,
                       list(c::DOUBLE) OVER (
                           PARTITION BY event_type ORDER BY bucket
                           ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
                           AS arr
                FROM counts)
            SELECT event_type, bucket, c,
                   len(arr)::BIGINT AS n_window,
                   round(list_reduce(arr,
                       (a, x) -> 0.1::DOUBLE * x + 0.9::DOUBLE * a), 6)
                       AS ewma
            FROM arrs
        """, hostile="events")
def q_ewma_hourly(spark, sf_dir):
    return _longify(TP.ewma_hourly(
        _tbl(spark, sf_dir, "events"), alpha=0.1, window=24))


@_gate("hyper_rollup", lambda: """
            WITH e AS (
                SELECT epoch_us(ts)::BIGINT // 86400000000 AS day_idx,
                       event_type, round(value * 100)::BIGINT AS vc
                FROM events)
            SELECT day_idx, event_type, count(*)::BIGINT AS n_events,
                   round(sum(vc) / 100, 2) AS sum_value,
                   grouping(day_idx, event_type)::BIGINT AS gid
            FROM e GROUP BY ROLLUP(day_idx, event_type)
        """, bench=True, hostile="events")
def q_hyper_rollup(spark, sf_dir):
    return _longify(TP.hyper_rollup(_tbl(spark, sf_dir, "events")))


@_gate("funnel_stages", lambda: """
            WITH e AS (
                SELECT user_id, event_type, epoch_us(ts)::BIGINT AS t
                FROM events
                WHERE event_type IN ('signup', 'view', 'purchase')),
            s1 AS (SELECT user_id, min(t) AS t1 FROM e
                   WHERE event_type = 'signup' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(t) AS t2 FROM e
                   JOIN s1 USING (user_id)
                   WHERE event_type = 'view' AND t > s1.t1 GROUP BY 1),
            s3 AS (SELECT e.user_id, min(t) AS t3 FROM e
                   JOIN s2 USING (user_id)
                   WHERE event_type = 'purchase' AND t > s2.t2 GROUP BY 1),
            u AS (SELECT DISTINCT user_id FROM e)
            SELECT u.user_id, s1.t1, s2.t2, s3.t3,
                   (CASE WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END
                    + CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END
                    + CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                       AS max_stage
            FROM u
            LEFT JOIN s1 USING (user_id)
            LEFT JOIN s2 USING (user_id)
            LEFT JOIN s3 USING (user_id)
        """, bench=True, hostile="events")
def q_funnel_stages(spark, sf_dir):
    return _longify(FN.funnel_stages(_tbl(spark, sf_dir, "events")))


@_gate("funnel_counts", lambda: """
            WITH e AS (
                SELECT user_id, event_type, epoch_us(ts)::BIGINT AS t
                FROM events
                WHERE event_type IN ('signup', 'view', 'purchase')),
            s1 AS (SELECT user_id, min(t) AS t1 FROM e
                   WHERE event_type = 'signup' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(t) AS t2 FROM e
                   JOIN s1 USING (user_id)
                   WHERE event_type = 'view' AND t > s1.t1 GROUP BY 1),
            s3 AS (SELECT e.user_id, min(t) AS t3 FROM e
                   JOIN s2 USING (user_id)
                   WHERE event_type = 'purchase' AND t > s2.t2 GROUP BY 1)
            SELECT (SELECT count(*) FROM s1)::BIGINT AS reached_signup,
                   (SELECT count(*) FROM s2)::BIGINT AS reached_view,
                   (SELECT count(*) FROM s3)::BIGINT AS reached_purchase
        """, hostile="events")
def q_funnel_counts(spark, sf_dir):
    return _longify(FN.funnel_counts(_tbl(spark, sf_dir, "events")))


@_gate("retention_cohorts", lambda: """
            WITH act AS (
                SELECT DISTINCT user_id,
                       (epoch_us(ts) // 86400000000)::BIGINT AS day
                FROM events),
            cohort AS (SELECT user_id, min(day) AS cohort_day FROM act
                       GROUP BY 1)
            SELECT c.cohort_day, (a.day - c.cohort_day)::BIGINT AS day_offset,
                   count(*)::BIGINT AS n_users
            FROM act a JOIN cohort c USING (user_id)
            GROUP BY 1, 2
        """, bench=True, hostile="events")
def q_retention_cohorts(spark, sf_dir):
    return _longify(FN.retention_cohorts(_tbl(spark, sf_dir, "events")))


def _aug_tr(spark, sf_dir):
    # The generator's turn gap is a constant 37 s and roles alternate
    # perfectly, so the conversation-health gates plant deterministic
    # jitter (identically in the SQL twin): quadratic-hash seconds
    # onto ts (creates idle gaps AND inversions) and a role flip on
    # every (turn_idx*7 % 11 == 0) turn (creates repeats).
    tr = _transcripts(spark, sf_dir)
    ti = F.col("turn_idx").cast("long")
    es2 = (F.col("ts").cast("timestamp_ltz").cast("long")
           + (ti * ti * 997) % 7200)
    role2 = F.when((ti * 7) % 11 == 0, F.lit("user")) \
        .otherwise(F.col("role"))
    return tr.select(
        "conv_id", "turn_idx", role2.alias("role"), "text", "tool",
        es2.cast("timestamp").alias("ts"))


@_gate("conv_stats", lambda: f"""
            WITH a AS (
                SELECT conv_id, turn_idx,
                       CASE WHEN (turn_idx::BIGINT * 7) % 11 = 0
                            THEN 'user' ELSE role END AS role,
                       tool, length(text) AS n_chars,
                       epoch(ts)::BIGINT
                           + (turn_idx::BIGINT * turn_idx * 997) % 7200
                           AS es
                FROM read_parquet('{transcripts_path(ORACLE_SF)}/*.parquet')),
            l AS (
                SELECT conv_id, role, tool, n_chars, es,
                       (role = lag(role) OVER w) AS rr,
                       (es < lag(es) OVER w) AS ti
                FROM a WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
            SELECT conv_id, count(*)::BIGINT AS n_turns,
                   sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)::BIGINT
                       AS n_user,
                   sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)::BIGINT
                       AS n_assistant,
                   sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_tool_calls,
                   sum(n_chars)::BIGINT AS n_chars,
                   (max(es) - min(es))::BIGINT AS duration_s,
                   sum(CASE WHEN rr THEN 1 ELSE 0 END)::BIGINT
                       AS n_role_repeats,
                   sum(CASE WHEN ti THEN 1 ELSE 0 END)::BIGINT
                       AS n_ts_inversions
            FROM l GROUP BY 1
        """, bench=True)
def q_conv_stats(spark, sf_dir):
    return _longify(CS.conv_stats(_aug_tr(spark, sf_dir)))


@_gate("conv_sessionize", lambda: f"""
            WITH a AS (
                SELECT conv_id, turn_idx,
                       CASE WHEN (turn_idx::BIGINT * 7) % 11 = 0
                            THEN 'user' ELSE role END AS role,
                       epoch(ts)::BIGINT
                           + (turn_idx::BIGINT * turn_idx * 997) % 7200
                           AS es
                FROM read_parquet('{transcripts_path(ORACLE_SF)}/*.parquet')),
            b AS (
                SELECT conv_id, turn_idx, role,
                       coalesce(es - lag(es) OVER w, 0)::BIGINT AS gap_s_prev
                FROM a WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
            SELECT conv_id, turn_idx::BIGINT AS turn_idx, role, gap_s_prev,
                   sum(CASE WHEN gap_s_prev > 3600 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY conv_id ORDER BY turn_idx
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
            FROM b
        """)
def q_conv_sessionize(spark, sf_dir):
    return _longify(CS.conv_sessionize(_aug_tr(spark, sf_dir),
                                       gap_s=3600))


@_gate("session_stats", lambda: f"""
            WITH a AS (
                SELECT conv_id, turn_idx,
                       epoch(ts)::BIGINT
                           + (turn_idx::BIGINT * turn_idx * 997) % 7200
                           AS es
                FROM read_parquet('{transcripts_path(ORACLE_SF)}/*.parquet')),
            b AS (
                SELECT conv_id, turn_idx, es,
                       coalesce(es - lag(es) OVER w, 0)::BIGINT AS gap
                FROM a WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
            s AS (
                SELECT conv_id, es,
                       sum(CASE WHEN gap > 3600 THEN 1 ELSE 0 END)
                           OVER (PARTITION BY conv_id ORDER BY turn_idx
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
                FROM b)
            SELECT conv_id, session_idx::BIGINT AS session_idx,
                   count(*)::BIGINT AS n_turns,
                   (max(es) - min(es))::BIGINT AS span_s
            FROM s GROUP BY 1, 2
        """, bench=True)
def q_session_stats(spark, sf_dir):
    return _longify(CS.session_stats(_aug_tr(spark, sf_dir),
                                     gap_s=3600))


# ============================================================ streaming


@_gate("stream_dedup_fps", lambda: f"""
            SELECT DISTINCT md5({_CANON}) AS fp
            FROM read_parquet('{transcripts_path(ORACLE_SF)}/*.parquet')
        """)
def q_stream_dedup(spark, sf_dir):
    # a REAL streaming query (memory sink, availableNow): with the
    # dedup horizon wider than the fixture's timestamp span (file
    # order is not ts order, so a short horizon would drop old rows
    # of later micro-batches as late data), the survivors carry
    # exactly one row per distinct canonical fingerprint — that set
    # is deterministic even though which arrival survives is not
    from pdf_parser_spark.streaming.pipeline import (
        read_transcript_stream,
        stream_dedup_turns,
    )

    name = "gate_stream_dedup"
    spark.catalog.dropTempView(name)
    qy = (stream_dedup_turns(
            read_transcript_stream(spark, transcripts_path(sf_from_dir(sf_dir))),
            watermark="3650 days")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(availableNow=True).start())
    _drain_or_die(qy)
    return (spark.table(name)
            .select(F.md5(D.canonical_text("text")).alias("fp"))
            .distinct())


@_gate("stream_conv_progress", lambda: f"""
            WITH t AS (
                SELECT conv_id, turn_idx,
                       row_number() OVER (PARTITION BY conv_id
                                          ORDER BY turn_idx) - 1 AS rn
                FROM read_parquet('{transcripts_path(ORACLE_SF)}/*.parquet'))
            SELECT conv_id,
                   count(*)::BIGINT AS turns_seen,
                   max(turn_idx)::BIGINT AS max_turn_idx,
                   count(*) FILTER (turn_idx = rn)::BIGINT AS contiguous_upto
            FROM t GROUP BY conv_id
        """)
def q_stream_progress(spark, sf_dir):
    # applyInPandasWithState under a REAL streaming query: per-batch
    # update rows are batching-dependent, but each conversation's
    # FINAL state (max turns_seen row) is deterministic
    from pdf_parser_spark.streaming.pipeline import read_transcript_stream
    from pdf_parser_spark.streaming.stateful import conversation_progress

    name = "gate_stream_progress"
    spark.catalog.dropTempView(name)
    qy = (conversation_progress(
            read_transcript_stream(spark, transcripts_path(sf_from_dir(sf_dir))))
          .writeStream.format("memory").queryName(name)
          .outputMode("update").trigger(availableNow=True).start())
    _drain_or_die(qy)
    return (
        spark.table(name)
        .groupBy("conv_id")
        .agg(F.max(F.struct(
            "turns_seen", "max_turn_idx", "contiguous_upto")).alias("s"))
        .select("conv_id", "s.turns_seen", "s.max_turn_idx",
                "s.contiguous_upto")
    )


@_gate("stream_session_windows", lambda: f"""
            WITH a AS (
                SELECT conv_id,
                       epoch(ts)::BIGINT
                           + (turn_idx::BIGINT * turn_idx * 997) % 7200
                           AS es
                FROM read_parquet('{transcripts_path(ORACLE_SF)}/*.parquet')),
            b AS (
                SELECT conv_id, es,
                       CASE WHEN es - lag(es) OVER w > 1800
                            THEN 1 ELSE 0 END AS boundary
                FROM a WINDOW w AS (PARTITION BY conv_id ORDER BY es)),
            s AS (
                SELECT conv_id, es,
                       sum(boundary) OVER (PARTITION BY conv_id ORDER BY es
                                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM b)
            SELECT conv_id, min(es)::BIGINT AS ws_s,
                   (max(es) + 1800)::BIGINT AS we_s,
                   count(*)::BIGINT AS n_turns
            FROM s GROUP BY conv_id, sid
        """)
def q_stream_sessions(spark, sf_dir):
    # native session_window under a REAL streaming query (complete
    # mode + availableNow converges to the batch result regardless
    # of file/micro-batch order); ts jittered as in the conv gates
    # because the generator's constant 37 s gap never splits
    from pdf_parser_spark.streaming.pipeline import (
        read_transcript_stream,
        session_window_counts,
    )

    ti = F.col("turn_idx").cast("long")
    jit = (read_transcript_stream(
               spark, transcripts_path(sf_from_dir(sf_dir)))
           .withColumn("ts",
                       (F.col("ts").cast("timestamp_ltz").cast("long")
                        + (ti * ti * 997) % 7200).cast("timestamp")))
    name = "gate_stream_sessions"
    spark.catalog.dropTempView(name)
    qy = (session_window_counts(jit, gap="30 minutes",
                                watermark="3650 days")
          .writeStream.format("memory").queryName(name)
          .outputMode("complete").trigger(availableNow=True).start())
    _drain_or_die(qy)
    return spark.table(name)


@_gate("stream_contamination_turns", lambda: f"""
            WITH t AS (
                SELECT conv_id, turn_idx,
                       string_split(trim(regexp_replace(lower(text),
                                    '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), ' ') AS w
                FROM read_parquet('{transcripts_path(ORACLE_SF)}/*.parquet')),
            g AS (
                SELECT conv_id, turn_idx,
                       NOT (len(w) = 1 AND w[1] = '') AS nonempty,
                       CASE WHEN len(w) < 13
                            THEN [md5(array_to_string(w, ' '))]
                            ELSE [md5(array_to_string(w[i : i + 12], ' '))
                                  FOR i IN range(1, len(w) - 11)]
                       END AS hs
                FROM t),
            ev AS (SELECT DISTINCT unnest(hs) AS gh FROM g
                   WHERE regexp_matches(conv_id, '00$') AND nonempty),
            e AS (SELECT conv_id, turn_idx, unnest(hs) AS gh FROM g)
            SELECT DISTINCT e.conv_id, e.turn_idx::BIGINT AS turn_idx
            FROM e JOIN ev USING (gh)
        """)
def q_stream_contamination(spark, sf_dir):
    # stateless stream-static broadcast semi-join: eval grams come
    # from every conversation whose id ends in "00" (a deterministic
    # ~1% subset); the hit stream dedups to (conv, turn) in batch.
    from pdf_parser_spark.corpus.decontam import eval_gram_set
    from pdf_parser_spark.streaming.pipeline import (
        read_transcript_stream,
        stream_contamination_hits,
    )

    tr_path = transcripts_path(sf_from_dir(sf_dir))
    evset = eval_gram_set(
        spark.read.parquet(tr_path)
        .filter(F.col("conv_id").rlike("00$")).select("text"))
    name = "gate_stream_contamination"
    spark.catalog.dropTempView(name)
    qy = (stream_contamination_hits(
              read_transcript_stream(spark, tr_path), evset)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(availableNow=True).start())
    _drain_or_die(qy)
    return (spark.table(name)
            .select("conv_id", F.col("turn_idx").cast("long")
                    .alias("turn_idx"))
            .distinct())


@_gate("stream_merge_upsert", _merged_orders_oracle)
def q_stream_merge(spark, sf_dir):
    # the SAME changeset, applied as a LIVE CDC stream split across
    # micro-batches (maxFilesPerTrigger=1 over a multi-file source,
    # so cross-batch latest-wins/tombstone rules really execute);
    # the final snapshot must equal the batch merge_upsert oracle.
    import tempfile

    from pdf_parser_spark.streaming.pipeline import (
        merged_snapshot, stream_merge_changes,
    )

    orders = _tbl(spark, sf_dir, "orders")
    changes = _orders_changeset(orders)
    root = tempfile.mkdtemp(prefix="stream_merge_")
    src = os.path.join(root, "changes")
    changes.repartition(4).write.mode("overwrite").parquet(src)
    sch = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(sch)
              .option("maxFilesPerTrigger", 1).parquet(src))
    qy = stream_merge_changes(
        stream, orders,
        state_dir=os.path.join(root, "state"),
        checkpoint_dir=os.path.join(root, "ckpt"),
        key_col="o_orderkey", ts_col="change_ts")
    _drain_or_die(qy)
    # the scratch root stays on disk until the OS tmp reaper runs:
    # the returned frame reads the state files lazily, after this
    # callable has returned.
    snap = merged_snapshot(spark, os.path.join(root, "state"))
    return _longify(snap.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        FN._epoch_us("o_orderdate").alias("odate_us"),
        "o_orderpriority"))


@_gate("stream_click_attribution", lambda: """
            SELECT p.event_id AS purchase_id, c.event_id AS click_id,
                   p.user_id,
                   epoch_us(p.ts)::BIGINT AS p_us,
                   epoch_us(c.ts)::BIGINT AS c_us
            FROM events p JOIN events c
              ON p.user_id = c.user_id
             AND c.ts <= p.ts
             AND c.ts >= p.ts - INTERVAL 6 HOURS
            WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        """)
def q_stream_attrib(spark, sf_dir):
    # stream-stream time-interval join under a REAL streaming query:
    # both sides of the attribution join are live streams over the
    # same event source; availableNow + an effectively-infinite
    # watermark makes the append-mode result deterministic.
    from pdf_parser_spark.streaming.pipeline import (
        stream_click_attribution,
    )

    path = os.path.join(sf_dir, "events.parquet")
    sch = spark.read.parquet(path).schema
    # watermarks require TIMESTAMP (ltz); the op casts back to ntz
    # on output, so the session-tz shift cancels exactly and the
    # emitted epochs are tz-independent (driver_sim-proof).
    # the streaming file source requires a DIRECTORY; the driver's
    # tables are single read-only files, so stream via a scratch
    # dir holding a symlink (no data copy)
    import tempfile

    d = os.path.join(tempfile.gettempdir(),
                     "stream_attrib_src_"
                     + os.path.basename(os.path.normpath(sf_dir)))
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    src = (spark.readStream.schema(sch).parquet(d)
           .withColumn("ts", F.col("ts").cast("timestamp")))
    out = stream_click_attribution(
        src.filter(F.col("event_type") == "purchase"),
        src.filter(F.col("event_type") == "click"),
        max_gap="6 hours", watermark="3650 days")
    name = "gate_stream_attrib"
    spark.catalog.dropTempView(name)
    qy = (out.writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(availableNow=True).start())
    _drain_or_die(qy)
    t = spark.table(name)

    def _es(c):
        return F.expr(
            "timestampdiff(MICROSECOND, "
            f"to_timestamp_ntz('1970-01-01 00:00:00'), {c})")

    return _longify(t.select(
        "purchase_id", "click_id", "user_id",
        _es("p_ts").alias("p_us"), _es("c_ts").alias("c_us")))


# ------------------------------------------------------ driver interface


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: g.query for name, g in GATES.items()}


def _kmeans_codebook() -> str:
    """The sf0.01 k-means codebook as a `(VALUES ...)` literal,
    reproduced WITHOUT Spark (pandas read + pure-Python xxhash64 sample
    order + the same lloyd_spherical; see tools/annoracle.py). Embedded
    in the k-means ANN oracles, it makes those gates full value-hash
    checks instead of rows-only ones."""
    from tools.annoracle import centroid_values_sql, kmeans_centroids

    return centroid_values_sql(kmeans_centroids(
        f"/root/testdata/sf{ORACLE_SF}/embeddings.parquet"))


def oracle_sql() -> dict[str, str]:
    ensure_goldens(ORACLE_SF)
    ivf = ivf_oracle_sql(_kmeans_codebook())
    return {name: ivf[name] if g.oracle is ivf_oracle_sql else g.oracle()
            for name, g in GATES.items()}


# The gates bench.py times at $SPARK_GRAFT_SF_DIR, in registration order:
# the bench runs these registered queries themselves, so a timed row is
# always the checked query. layout_extract_a003 is the turns/sec headline.
BENCH = tuple(name for name, g in GATES.items() if g.bench)
