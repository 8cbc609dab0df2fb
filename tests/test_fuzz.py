"""Property-based tests: the vectorized batch extractor must equal the
single-process oracle on ARBITRARY inputs (not just fixture archetypes),
and must never raise — the degrade-don't-fail invariant (D1) under fuzz.

Pure-Python (no Spark session): exercises extract_batch directly, which is
exactly the code mapInPandas runs per Arrow batch.
"""

import math

import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pdf_parser_spark.generator import make_html_payload
from pdf_parser_spark.goldens import _oracle_blocks
from pdf_parser_spark.operators.extract import blocks_batch, extract_batch
from pdf_parser_spark.operators.html import strip_html
from pdf_parser_spark.operators.spans import _span_batches
from pdf_parser_spark.oracle.boilerplate import strip_boilerplate
from pdf_parser_spark.oracle.extractor import VARIANTS, extract_turn

# --- payload-ish text strategies -----------------------------------------

# Numbers outside ASCII: Python's ``\d`` and ``float()`` accept any Unicode
# decimal digit (Arabic-Indic, Persian, fullwidth), so both parsers read
# these as numbers; digit-like characters that are not decimal digits
# (superscripts, vulgar fractions) fail the grammar like any other junk.
# An RE2-based tokenize (``[0-9]``-only ``\d``) would disagree here.
_NON_ASCII_NUMS = {
    "arabic_indic": "\u0663\u0660",  # ٣٠
    "persian": "\u06f1\u06f2.\u06f5",  # ۱۲.۵
    "fullwidth": "\uff11\uff12",  # １２
    "superscript": "\u00b30",  # ³0
    "vulgar_fraction": "\u00bd",  # ½
}

# Numerals where a string-to-float kernel could part from Python's
# ``float()``: overflow to inf (an exponent or a 400-digit mantissa),
# underflow to 0, a sign and a bare fraction, a trailing point, upper-case E
_ODD_NUMS = ["1e999", "-1e999", "1" * 400, "1" * 400 + ".5", "+.5e+3", "5.",
             "1E5", "1e-400", "-.0e-0", "007"]

_num = st.one_of(
    st.integers(-1000, 1000).map(str),
    st.floats(-1000, 1000, allow_nan=False, allow_infinity=False).map(
        lambda v: f"{v:.3f}"),
    st.sampled_from(["nan", "x", "", "1e3", "-0", *_NON_ASCII_NUMS.values()]),
    st.sampled_from(_ODD_NUMS),
)
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",),
                           blacklist_characters="\n\r"),
    max_size=30,
)
# Span text: anything but a record break, plus the characters a parser
# may treat specially: a carriage return, NUL, the \x01 sentinel of the
# segmented join, escape sequences, and non-ASCII text (after ASCII
# coordinates such a record stays on the vectorized path)
_span_text = st.one_of(
    _text,
    st.lists(st.sampled_from(["a", " ", "\r", "\x00", "\x01", "\x1f", "\x85",
                              "\\n", "\\\\", "\\", "é", "\u0663", "漢字",
                              "\U0001f600", "\u2028"]),
             max_size=8).map("".join),
)
_font = st.sampled_from(["", "F1", "Helvetica", "a b", "font=weird", "\x00", "é"])

_span_record = st.builds(
    lambda x0, y0, x1, y1, size, font, text:
        f"SPAN {x0} {y0} {x1} {y1} size={size} font={font} text={text}",
    _num, _num, _num, _num, _num, _font, _span_text,
)
_line_record = st.builds(
    lambda a, b, c, d: f"LINE {a} {b} {c} {d}", _num, _num, _num, _num)
_rect_record = st.builds(
    lambda a, b, c, d, r, g, bl: f"RECT {a} {b} {c} {d} fill={r},{g},{bl}",
    _num, _num, _num, _num, _num, _num, _num)
_junk_record = _text.map(lambda t: t)

_page_header = st.one_of(
    st.builds(lambda w, h: f"PAGE w={w} h={h}", _num, _num),
    st.sampled_from(["PAGE ", "PAGE w=612.0", "PAGE h=1 w=2", "PAGEw=1 h=2",
                     "PAGE w=612.0 h=792.0"]),
)

# Records may be empty, and a payload may end in "\n" (an empty last record)
_page_payload = st.builds(
    lambda header, records, tail: "\n".join([header] + records) + tail,
    _page_header,
    st.lists(st.one_of(_span_record, _line_record, _rect_record, _junk_record,
                       st.just("")),
             max_size=12),
    st.sampled_from(["", "\n", "\n\n"]),
)

# html/v1 payloads are joined from single characters and whole markup
# fragments, so the parser's hard cases are reachable: raw-text elements
# holding tag-like strings, comments / CDATA / doctype, entities (double
# escaped too), self-closed block and void tags, an unquoted href ending
# in '/', implied-close li/p/td chains, unclosed <a>, nesting past
# MAX_CONTENT_DEPTH, the header/footer/nav/aside contexts, mixed case
_HTML_FRAGMENTS = (
    list("<>/abp div nav&;\"'= \n\t") + [
        "<script>", "</script>", "<style>", "</style>", "</SCRIPT>",
        'var s = "<p>x</p>";', "<Style>p{}</style>",
        "<!-- <p>hidden</p> -->", "<![CDATA[<div>]]>", "<!DOCTYPE html>",
        "&amp;lt;", "&nbsp;", "&lt;b&gt;", "&quot;&#39;",
        "<div/>", "<br/>", "<br>", "<img src=x>", "<p />",
        "one<br>two", "a<img src=x>b", "word<br/>word",
        "<a href=foo/>", '<a href="/x">', "<a href='y'>", "</a>", "<A>",
        "<li>", "<p>", "<td>", "<tr>", "</li>", "</p>", "<ul>", "</ul>",
        "".join(f"<li>item {i} of an implied-close chain" for i in range(12)),
        "<p>para<p>graph<P>chain", "<td>a<td>b<td>c",
        "<div>" * 9, "<div>" * 10, "<div>" * 11, "</div>" * 4,
        "<div>", "</div>", "<DIV>",
        "<header>", "</header>", "<footer>", "</footer>",
        "<aside>", "</aside>", "<nav>", "</nav>", "<main>", "</main>",
        "<span>", "</span>", "<h1>", "</h1>",
        "tiny", "main content words long enough to keep a block",
    ])
_html_payload = st.lists(st.sampled_from(_HTML_FRAGMENTS),
                         max_size=60).map("".join)

_any_payload = st.one_of(
    _page_payload, _html_payload, _text, st.none(),
    st.just(""), st.just("PAGE"),
)

_tool = st.sampled_from(["page/v1", "html/v1", "plain", "mystery", None])


def _norm_float(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    return round(float(v), 6)


def _assert_row_equals_oracle(g, want, *ctx):
    """One vectorized output row equals the oracle's on every field."""
    for k in ("page_number", "header", "footer", "left_column", "right_column"):
        assert g[k] == want[k], (*ctx, k)
    for k in ("page_width", "page_height", "column_separator_position"):
        assert _norm_float(g[k]) == _norm_float(want[k]), (*ctx, k)
    assert dict(g["metadata"]) == want["metadata"], ctx


@settings(max_examples=100, deadline=None)
@given(st.lists(_page_payload, min_size=1, max_size=6))
def test_a000_vectorized_equals_oracle_on_fuzz(payloads):
    """The A000 line-extent classifier path under fuzz: never raises,
    matches the oracle per turn (proportional P1, extent bounds,
    center-count grid, running-max grouping are all exercised by the
    arbitrary geometry)."""
    pdf = pd.DataFrame(
        {
            "conv_id": [f"a{i}" for i in range(len(payloads))],
            "turn_idx": list(range(len(payloads))),
            "role": ["user"] * len(payloads),
            "text": payloads,
            "tool": ["page/v1"] * len(payloads),
            "ts": [pd.Timestamp("2024-01-01")] * len(payloads),
        }
    )
    got = extract_batch(pdf.copy(), variant="a000")
    assert len(got) == len(payloads)
    for i, text in enumerate(payloads):
        want = extract_turn(text, "page/v1", i, variant="a000")
        _assert_row_equals_oracle(got.iloc[i], want, text)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(_any_payload, _tool), min_size=1, max_size=8))
def test_vectorized_equals_oracle_on_fuzz(rows):
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(rows))],
            "turn_idx": list(range(len(rows))),
            "role": ["user"] * len(rows),
            "text": [t for t, _ in rows],
            "tool": [tl for _, tl in rows],
            "ts": [pd.Timestamp("2024-01-01")] * len(rows),
        }
    )
    for variant in VARIANTS:
        got = extract_batch(pdf.copy(), variant=variant)  # must not raise
        assert len(got) == len(rows)
        assert list(got["turn_idx"]) == list(range(len(rows)))
        for i, (text, tool) in enumerate(rows):
            want = extract_turn(text, tool, i, variant)
            _assert_row_equals_oracle(got.iloc[i], want, variant, text, tool)


def _same_float(a, b) -> bool:
    """Exact float equality that also tells 0.0 from -0.0."""
    return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)


@settings(max_examples=300, deadline=None)
@given(st.lists(_page_payload, min_size=1, max_size=6))
# one line-block whose spans tie 0 with -0 in x0, x1 and size (Python's
# min/max keep the first), and whose texts hold the \x01 group sentinel
@example(["PAGE w=612 h=792\n"
          "SPAN 0 5 0 9 size=0 font= text=a\x01\n"
          "SPAN -0 5 -0 9 size=-0 font=F text=\x01b\\n\n"
          "SPAN 1 20 2 30 size=1 font=G text=c"])
def test_blocks_batch_equals_oracle_on_fuzz(payloads):
    """The tokenize layer on its own: ``blocks_batch`` (S2 tokenize, G1
    merge, P2 filter) gives each turn's ``parse_payload`` blocks in payload
    order, the S3 fallback block on a tokenize failure and no rows for a
    payload without a valid PAGE header."""
    n = len(payloads)
    pdf = pd.DataFrame({"conv_id": [f"b{i}" for i in range(n)],
                        "turn_idx": list(range(n)), "role": ["user"] * n,
                        "text": payloads, "tool": ["page/v1"] * n})
    got = blocks_batch(pdf)
    for i, text in enumerate(payloads):
        sub = got[got["conv_id"] == f"b{i}"]
        want = _oracle_blocks(text)
        assert list(sub["block_idx"]) == list(range(len(want))), text
        for (_, r), b in zip(sub.iterrows(), want):
            assert (r["text"], r["font_name"]) == (b.text, b.font_name), text
            for k in ("x0", "y0", "x1", "y1", "font_size"):
                assert _same_float(r[k], getattr(b, k)), (text, k)


# A well-formed two-column page: a header span, one span per column, the
# separator line and a colored footer rect. Each case below replaces ONE
# numeric field of one record with a non-ASCII number.
_PAGE_RECORDS = (
    ("PAGE w={} h={}", ("w", "h"), ("612.0", "792.0")),
    ("SPAN {} {} {} {} size={} font=F2 text=Quarterly report",
     ("x0", "y0", "x1", "y1", "size"), ("60.0", "40.0", "300.0", "52.0", "14.0")),
    ("SPAN {} {} {} {} size={} font=F1 text=left column words",
     ("x0", "y0", "x1", "y1", "size"), ("50.0", "140.0", "270.0", "152.0", "10.0")),
    ("SPAN {} {} {} {} size={} font=F1 text=right column words",
     ("x0", "y0", "x1", "y1", "size"), ("340.0", "140.0", "560.0", "152.0", "10.0")),
    ("LINE {} {} {} {}", ("x1", "y1", "x2", "y2"), ("306.0", "100.0", "306.0", "700.0")),
    ("RECT {} {} {} {} fill={},{},{}", ("x0", "y0", "x1", "y1", "r", "g", "b"),
     ("40.0", "740.0", "572.0", "770.0", "0.2", "0.3", "0.8")),
)


@pytest.mark.parametrize("rec,field,value", [
    pytest.param(r, f, v, id=f"{fmt.split()[0]}{r}.{name}-{label}")
    for r, (fmt, names, _) in enumerate(_PAGE_RECORDS)
    for f, name in enumerate(names)
    for label, v in _NON_ASCII_NUMS.items()
])
def test_non_ascii_numbers_equal_oracle(rec, field, value):
    """Every numeric field of PAGE, SPAN, LINE and RECT: the vectorized
    core reads a non-ASCII number exactly as the oracle does, in every
    variant. Pins the behaviour an Arrow/RE2 tokenize must keep."""
    lines = []
    for r, (fmt, _names, nums) in enumerate(_PAGE_RECORDS):
        nums = list(nums)
        if r == rec:
            nums[field] = value
        lines.append(fmt.format(*nums))
    payload = "\n".join(lines)
    pdf = pd.DataFrame({"conv_id": ["n"], "turn_idx": [0], "role": ["user"],
                        "text": [payload], "tool": ["page/v1"],
                        "ts": [pd.Timestamp("2024-01-01")]})
    for variant in VARIANTS:
        got = extract_batch(pdf.copy(), variant=variant)
        want = extract_turn(payload, "page/v1", 0, variant)
        _assert_row_equals_oracle(got.iloc[0], want, variant, payload)


@pytest.mark.parametrize("rec,value", [
    pytest.param(r, v, id=f"{fmt.split()[0]}{r}-odd{i}")
    for r, (fmt, _names, _nums) in enumerate(_PAGE_RECORDS)
    for i, v in enumerate(_ODD_NUMS)
])
def test_odd_numerals_equal_oracle(rec, value):
    """The first numeric field of each record holds one of ``_ODD_NUMS``
    (overflow, underflow, signs, a bare fraction): the same check as
    ``test_non_ascii_numbers_equal_oracle``, for the numerals where a
    string-to-float kernel could part from ``float()``."""
    test_non_ascii_numbers_equal_oracle(rec, 0, value)


def _assert_html_core_equals_oracle(payload):
    """The engine core equals ``strip_boilerplate`` on every field, and
    ``boilerplate_spans`` emits the oracle's offsets and block hashes."""
    import hashlib

    want = strip_boilerplate(payload)
    header, footer, main, spans, metadata = strip_html(payload)
    assert header == want["header"], payload
    assert footer == want["footer"], payload
    assert main == want["left_column"], payload
    assert want["right_column"] == ""
    assert spans == want["spans"], payload
    assert metadata == want["metadata"], payload
    assert list(metadata) == list(want["metadata"])

    rows = pd.DataFrame({"conv_id": ["c"], "turn_idx": [0], "text": [payload]})
    got = pd.concat(list(_span_batches(iter([rows]))))
    want_main = want["left_column"]
    assert list(zip(got["start_offset"], got["end_offset"])) == want["spans"]
    assert list(got["block_md5"]) == [
        hashlib.md5(want_main[a:b].encode("utf-8")).hexdigest()
        for a, b in want["spans"]]


@settings(max_examples=500, deadline=None)
@given(st.one_of(_html_payload, _text, st.none()))
def test_html_core_equals_oracle_on_fuzz(payload):
    _assert_html_core_equals_oracle(payload)


@pytest.mark.parametrize("payload", [
    "<div>" * 9 + "<p>" + "x" * 30,  # depth 10: MAX_CONTENT_DEPTH, kept
    "<div>" * 10 + "<p>" + "x" * 30,  # depth 11: stripped
    "<p>" + "x" * 24, "<p>" + "x" * 25,  # MIN_CONTENT_CHARS boundary
    "<p><a>" + "a" * 10 + "</a>" + "b" * 20,  # link density exactly 1/3
    "<p><a>" + "a" * 11 + "</a>" + "b" * 19,
])
def test_html_core_equals_oracle_at_thresholds(payload):
    _assert_html_core_equals_oracle(payload)


def test_html_core_equals_oracle_on_generator_payloads():
    for i in range(300):
        _assert_html_core_equals_oracle(make_html_payload(f"g{i}", i % 17))


# --- repetition counters (corpus/textstats.py) ---------------------------

_word = st.text(alphabet=st.sampled_from(list("abcxyz")), min_size=1, max_size=3)
_tokens = st.lists(_word, max_size=20)


@given(_tokens)
@settings(max_examples=200, deadline=None)
def test_repetition_counts_equal_bruteforce(tokens):
    """repetition_counts (the rep_udf core) equals an O(n^2) brute-force
    recount on arbitrary token lists, including the tie-break rule."""
    from pdf_parser_spark.corpus.textstats import repetition_counts

    t = " ".join(tokens)
    n2, top_cnt, top_gram, n3, dup3 = repetition_counts(t)
    w = t.split(" ") if t else []
    grams2 = [" ".join(w[i:i + 2]) for i in range(len(w) - 1)]
    grams3 = [" ".join(w[i:i + 3]) for i in range(len(w) - 2)]
    assert n2 == len(grams2) and n3 == len(grams3)
    if grams2:
        counts = {g: grams2.count(g) for g in grams2}
        best = max(counts.values())
        assert top_cnt == best
        assert top_gram == max(g for g, c in counts.items() if c == best)
    else:
        assert (top_cnt, top_gram) == (0, "")
    assert dup3 == sum(1 for g in grams3 if grams3.count(g) >= 2)
