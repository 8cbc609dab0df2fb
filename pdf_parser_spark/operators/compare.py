"""Extractor comparison fan-out D4 and registry dispatch D6.

D4 (/root/reference/pdf_layout_tester.py:325-365): run several extractor
variants over the same input and return one keyed result set — here a
union of the variant outputs tagged with ``extractor_name`` (the Spark
idiom for the reference's dict-of-results).

D6 (/root/reference/tests/extractor_config.py:33-96): the registry mapping
inputs to extractor implementations. In this engine dispatch happens on
the ``tool`` column inside the extraction UDF (page/v1 -> layout parser,
html/v1 -> boilerplate stripper, else plain fallback); this module holds
the variant registry for the layout parser itself.

D5, the reference's protocol validation of extractor classes
(pdf_extractor_protocol.py:118-155), has no counterpart: a variant is a
row of ``oracle.extractor.VARIANTS``, not a plugin class, and
``get_variant`` rejects a name that is not registered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pdf_parser_spark.operators.extract import extract_layouts_multi
from pdf_parser_spark.oracle.extractor import VARIANTS

DEFAULT_VARIANT = "a003"  # EXTRACTOR_MAP default (extractor_config.py:45)


def get_variant(name: str | None) -> str:
    """Registry lookup with default (extractor_config.py:48-79)."""
    if name is None:
        return DEFAULT_VARIANT
    if name not in VARIANTS:
        raise KeyError(f"unknown extractor variant {name!r}; "
                       f"registered: {tuple(sorted(VARIANTS))}")
    return name


def compare_extractors(df: DataFrame, variants=("a002", "a003", "a004")) -> DataFrame:
    """Run each variant over the same turns; one tagged result set.

    Single-pass: ONE input scan and ONE tokenize feed all variants'
    classifications inside one MapInPandas (the reference's D4 harness
    also opens the document once and fans extractors out over the same
    pages, pdf_layout_tester.py:325-365)."""
    return extract_layouts_multi(df, variants=[get_variant(v) for v in variants])
