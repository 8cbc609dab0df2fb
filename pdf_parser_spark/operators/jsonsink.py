"""JSON sink S8: layouts -> the reference's serialization shape.

The reference serializes per-document batches as ``{pdf_path, total_pages,
pages: [asdict(PageLayout)...]}`` with ``json.dumps(indent=2,
ensure_ascii=False)`` (/root/reference/A003_colored_footer.py:351-360,
``ExtractionResult.save_to_file`` /root/reference/pdf_layout_tester.py:124-136).
Spark equivalents:

* ``layout_json_col`` — one JSON object per turn via ``to_json(struct)``
  (column order fixed to the PageLayout field order,
  /root/reference/pdf_extractor_protocol.py:14-41).
  A column expression: a caller selects it or adds it with ``withColumn``.
* ``conversation_json`` — one JSON document per conversation: turn objects
  collected in turn order (two-stage-safe: collect_list of structs sorted
  by turn_idx) wrapped with conv_id + total_pages, the ExtractionResult
  shape with conv_id standing in for pdf_path.

Pretty-printing (indent=2) is a presentation concern of the single-file
CLI sink; the engine emits canonical compact JSON and the writer decides
layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.operators.extract import LAYOUT_FIELDS


def _sep_nan_to_null() -> F.Column:
    """Error rows carry NaN column_separator_position (pandas float
    path); to_json serializes NaN as the string "NaN" whereas the
    reference's json.dumps of None emits null — normalize once here, used
    by every S8 sink shape."""
    c = F.col("column_separator_position")
    return F.when(F.isnan(c), F.lit(None).cast("double")).otherwise(c).alias(
        "column_separator_position")


def layout_struct() -> F.Column:
    cols = [
        _sep_nan_to_null() if c == "column_separator_position" else F.col(c)
        for c in LAYOUT_FIELDS
    ]
    return F.struct(*cols)


def layout_json_col() -> F.Column:
    # ignoreNullFields=false: the reference's json.dumps(asdict(...))
    # serializes None fields as explicit nulls, not omissions.
    return F.to_json(layout_struct(), {"ignoreNullFields": "false"})


def conversation_json(layouts: DataFrame) -> DataFrame:
    """One ExtractionResult-shaped JSON document per conversation."""
    layouts = layouts.withColumn(
        "column_separator_position", _sep_nan_to_null())
    return (
        layouts.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("total_pages"),
            F.expr(
                # explicit comparator: default struct ordering can't sort a
                # struct containing the MAP-typed metadata field
                "transform(array_sort(collect_list(struct(turn_idx, "
                + ", ".join(LAYOUT_FIELDS)
                + ")), (a, b) -> case when a.turn_idx < b.turn_idx then -1 "
                "when a.turn_idx > b.turn_idx then 1 else 0 end), s -> struct("
                + ", ".join(f"s.{c} as {c}" for c in LAYOUT_FIELDS)
                + "))"
            ).alias("pages"),
        )
        .select(
            "conv_id",
            F.to_json(F.struct("conv_id", "total_pages", "pages"),
                      {"ignoreNullFields": "false"}).alias("doc_json"),
        )
    )
