"""Question-span extraction (F1/D8/O6): layouts -> exploded question rows.

The reference's two-phase question pipeline
(/root/reference/A004_Vision_2025.py:369-407): per page, run the regex span
extractor over the left column then the right column (reading order,
:386-392), flatten, then sort globally by question number (:404-405 — the
one true cross-page shuffle in the reference's semantics).

``re.finditer`` is required because the span *offsets* are part of the
output contract (A004:346-356) and no built-in Spark regex function yields
match positions — so this is a legitimate Pandas-UDF boundary. The UDF is
Arrow-batched and returns one exploded row per question; everything around
it (explode ordering, the global sort) is relational.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.pyworker import python_task

# Pattern verbatim from /root/reference/A004_Vision_2025.py:341.
QUESTION_PATTERN = re.compile(r"(?:^|\n)\s*(?:Q\.?\s*)?(\d+)[\.\)]\s+", re.MULTILINE)

QUESTIONS_SCHEMA = (
    "conv_id string, turn_idx long, page_number long, question_number long, "
    "question_text string, col_side string, start_offset long, end_offset long"
)


def _spans_for_column(text: str) -> list:
    """[(qnum, stripped_text, start, end)] per A004:346-356."""
    if not text:
        return []
    matches = list(QUESTION_PATTERN.finditer(text))
    out = []
    for i, m in enumerate(matches):
        start = m.start()
        end = matches[i + 1].start() if i + 1 < len(matches) else len(text)
        out.append((int(m.group(1)), text[start:end].strip(), start, end))
    return out


@python_task
def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        recs = []
        for conv_id, turn_idx, page_number, left, right in pdf[
            ["conv_id", "turn_idx", "page_number", "left_column", "right_column"]
        ].itertuples(index=False):
            for col_side, text in (("left", left), ("right", right)):
                for qnum, qtext, start, end in _spans_for_column(text):
                    recs.append(
                        (conv_id, int(turn_idx), int(page_number), qnum,
                         qtext, col_side, start, end)
                    )
        yield pd.DataFrame(
            recs,
            columns=["conv_id", "turn_idx", "page_number", "question_number",
                     "question_text", "col_side", "start_offset", "end_offset"],
        )


def extract_questions(layouts: DataFrame) -> DataFrame:
    """Layouts -> question rows, globally ordered by question number
    (A004:404-405). Left-column spans precede right-column spans within a
    turn by construction (emit order), and the final orderBy is the global
    shuffle the reference semantics demand."""
    spans = layouts.select(
        "conv_id", "turn_idx", "page_number", "left_column", "right_column"
    ).mapInPandas(_extract_batches, schema=QUESTIONS_SCHEMA)
    # A global sort samples its child to compute range boundaries, which
    # would re-run the whole extract+span UDF chain a second time (and the
    # range shuffle a third). localCheckpoint (lazy) materializes the spans
    # once on first action; both the sampling pass and the sort read the
    # materialized blocks. Trade-off: checkpoint blocks are executor-local,
    # so an executor loss during the sort recomputes from the checkpointing
    # stage on a cluster with external shuffle — acceptable for a
    # query-final sort (measured 2.4x faster than sorting the live chain).
    spans = spans.localCheckpoint(eager=False)
    return spans.orderBy("question_number", "conv_id", "turn_idx", "col_side")


def questions_per_page(questions: DataFrame) -> DataFrame:
    """G3 reporting aggregate (A004:490-497)."""
    return questions.groupBy("conv_id", "page_number").agg(
        F.count(F.lit(1)).alias("n_questions")
    )


def question_markdown_col() -> F.Column:
    """S11: one question's markdown section (A004:431-443 — ``## Question
    N``, text, italic page/column footer line, ``---`` separator)."""
    return F.concat(
        F.lit("## Question "), F.col("question_number").cast("string"),
        F.lit("\n\n"), F.col("question_text"),
        F.lit("\n\n*Page: "), F.col("page_number").cast("string"),
        F.lit(", Column: "), F.col("col_side"), F.lit("*\n\n---\n"),
    )


def questions_to_markdown(questions: DataFrame) -> DataFrame:
    """S11: one markdown document per conversation — header with source +
    total count, then per-question sections in question-number order
    (A004:431-443; conv_id stands in for pdf_path)."""
    per_q = questions.withColumn("q_md", question_markdown_col())
    return (
        per_q.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("total_questions"),
            F.expr(
                # start_offset completes a unique sort key (duplicate
                # question numbers can occur within a column), so document
                # order is fully deterministic
                "array_join(transform(array_sort(collect_list(struct("
                "question_number, turn_idx, col_side, start_offset, q_md))), "
                "s -> s.q_md), '\\n')"
            ).alias("body"),
        )
        .select(
            "conv_id",
            F.concat(
                F.lit("# Questions\n\n**Source:** "), F.col("conv_id"),
                F.lit("\n\n**Total Questions:** "),
                F.col("total_questions").cast("string"),
                F.lit("\n\n---\n\n"), F.col("body"),
            ).alias("questions_md"),
            "total_questions",
        )
    )


def questions_to_json(questions: DataFrame) -> DataFrame:
    """S11: the ``{conv_id, total_questions, questions:[...]}`` document
    per conversation (A004:420-429)."""
    return (
        questions.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("total_questions"),
            F.expr(
                "transform(array_sort(collect_list(struct(question_number, "
                "turn_idx, col_side, question_text, page_number, "
                "start_offset, end_offset))), s -> struct("
                "s.question_number as question_number, "
                "s.question_text as question_text, "
                "s.page_number as page_number, s.col_side as col_side, "
                "s.start_offset as start_offset, s.end_offset as end_offset))"
            ).alias("questions"),
        )
        .select(
            "conv_id",
            F.to_json(F.struct("conv_id", "total_questions", "questions"))
            .alias("questions_json"),
        )
    )
