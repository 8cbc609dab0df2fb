"""Whitespace normalization F2 as a pure column expression.

The reference's snapshot normalization re-joins each text field from its
per-line-stripped lines, then strips the whole
(``pdf_extractor_protocol.py:186-191``). The gate
``whitespace_normalize`` runs it on Spark and its SQL twin on DuckDB.

Its siblings F3 (round floats to 2dp) and F4 (sort metadata keys) have
no operator here: the layout gates round floats on both sides and read
metadata by key, and applying F2 to their text would hide the
whitespace differences those gates exist to catch.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def normalize_text_col(c: str) -> F.Column:
    return F.trim(F.array_join(
        F.transform(F.split(F.col(c), "\n"), lambda x: F.trim(x)), "\n"))
