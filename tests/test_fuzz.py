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
from pdf_parser_spark.operators import html
from pdf_parser_spark.operators.html import strip_html_batch
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

# Well-nested html/v1 documents: every element closes in order, so most
# draws stay on the batch core's vectorized path (the random fragments
# above mostly hold a stray or close-through tag, which the core sends to
# the oracle). Known tags in mixed case with attributes, entities,
# unicode whitespace, void and self-closed tags, raw-text elements
# holding tag-like text, comments / CDATA / doctype, nesting past
# MAX_CONTENT_DEPTH, and implied-close chains (li/p/td/tr/dd), closed or
# (one in four) left open for the parent to close through. A chain item
# does not open the chain's own tag, which would reopen the chain.
_NESTED_TAGS = ("div", "DIV", "section", "article", "main", "header", "footer", "nav",
                "aside", "h1", "ul", "table", "blockquote", "a", "A", "b", "span", "em",
                "customelement")
_nested_attrs = st.sampled_from(["", ' class="x y"', " id='main'", ' href="/a/b?c=1&amp;d=2"',
                                 " title=\"it's\"", " data-n=1", " href=foo/", " hidden"])
_nested_text = st.one_of(
    st.sampled_from(["tiny", "main content words long enough to keep a block",
                     "&amp;lt;b&amp;gt;", "&lt;i&gt;", "&quot;&#39;", "&nbsp;", "a &amp; b",
                     "\u3000\xa0", " \n\t", "caf\xe9 \u6f22\u5b57", "1 < 2", "x > y"]),
    st.text(st.sampled_from("ab \n&;\u2003"), max_size=12),
)
_nested_leaf = st.one_of(
    _nested_text,
    st.sampled_from(["<br>", "<br/>", "<img src=x>", "<hr />", "<input value='a'>", "<div/>",
                     '<script>var s = "<p>x</p>"; if (a < b) {}</script>',
                     "<style>p{}</style>", "<SCRIPT>document.write('</div>')</script>",
                     "<!-- <p>hidden</p> -->", "<![CDATA[<div>]]>", "<!DOCTYPE html>"]),
)


def _nested_element(children):
    element = st.builds(lambda tag, attrs, kids: f"<{tag}{attrs}>{''.join(kids)}</{tag}>",
                        st.sampled_from(_NESTED_TAGS), _nested_attrs,
                        st.lists(children, max_size=4))

    def chain(tag):
        item = children.filter(lambda x: not x.lower().startswith(f"<{tag}"))
        return st.builds(lambda items, close: "".join(f"<{tag}>{x}" for x in items)
                         + (f"</{tag}>" if close else ""),
                         st.lists(item, min_size=1, max_size=4),
                         st.sampled_from([True, True, True, False]))

    return st.one_of(element, element,
                     st.sampled_from(["li", "p", "td", "tr", "dd"]).flatmap(chain))


_nested_html = st.builds(
    lambda head, nodes, wrap: (f"{head}<html><body>{''.join(nodes)}</body></html>"
                               if wrap else head + "".join(nodes)),
    st.sampled_from(["", "<!DOCTYPE html>"]),
    st.lists(st.recursive(_nested_leaf, _nested_element, max_leaves=25), max_size=6),
    st.booleans(),
)

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


def test_long_numerals_fail_fast():
    """A SPAN record that breaks the grammar after five long numerals is
    rejected at once by both parsers: each digit run matches
    ``FLOAT_PATTERN`` one way, so Python's ``re`` (the oracle, and the
    core's re-read of a non-ASCII record) has no digit splits to
    backtrack over. An ambiguous ``\\d+\\.?\\d*`` took seconds here."""
    import time

    n = "1" * 25
    payload = f"PAGE w=612 h=792\nSPAN {n} {n} {n} {n} size={n} font=é"
    pdf = pd.DataFrame({"conv_id": ["b0"], "turn_idx": [0], "role": ["user"],
                        "text": [payload], "tool": ["page/v1"]})
    t0 = time.perf_counter()
    want = _oracle_blocks(payload)
    got = blocks_batch(pdf)
    assert time.perf_counter() - t0 < 1.0
    assert list(got["text"]) == [b.text for b in want]


def _assert_html_core_equals_oracle(payload):
    """The engine core equals ``strip_boilerplate`` on every field, and
    ``boilerplate_spans`` emits the oracle's offsets and block hashes."""
    import hashlib

    want = strip_boilerplate(payload)
    cols = strip_html_batch([payload])
    metadata = cols.metadata()[0]
    assert cols.header == [want["header"]], payload
    assert cols.footer == [want["footer"]], payload
    assert cols.left_column == [want["left_column"]], payload
    assert want["right_column"] == ""
    assert not cols.span_turn.any()
    assert list(zip(cols.span_start.tolist(), cols.span_end.tolist())) == want["spans"], payload
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
@given(st.one_of(_html_payload, _nested_html, _text, st.none()))
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


# --- the batch html core (operators/html.strip_html_batch) -----------------

def _md5(text):
    import hashlib

    return hashlib.md5(text.encode("utf-8")).hexdigest()


def _assert_batch_equals_oracle(payloads, fallback=None):
    """``strip_html_batch`` equals ``strip_boilerplate`` on every field of
    every payload (metadata key order included), and ``extract_batch``
    and ``_span_batches`` on the same batch equal the per-payload oracle,
    ``block_md5`` included. ``fallback``, when given, is the expected
    fallback mask."""
    cols = strip_html_batch(payloads)
    if fallback is not None:
        assert list(cols.fallback) == fallback, payloads
    metadata = cols.metadata()
    want = [strip_boilerplate(p) for p in payloads]
    want_spans = []
    for i, (p, w) in enumerate(zip(payloads, want)):
        assert cols.header[i] == w["header"], p
        assert cols.footer[i] == w["footer"], p
        assert cols.left_column[i] == w["left_column"], p
        assert metadata[i] == w["metadata"], p
        assert list(metadata[i]) == list(w["metadata"])
        want_spans += [(f"c{i}", i, j, a, b, _md5(w["left_column"][a:b]))
                       for j, (a, b) in enumerate(w["spans"])]
    assert list(zip(cols.span_turn, cols.span_start, cols.span_end)) == [
        (i, a, b) for _c, i, _j, a, b, _m in want_spans]

    n = len(payloads)
    pdf = pd.DataFrame({"conv_id": [f"c{i}" for i in range(n)], "turn_idx": range(n),
                        "role": ["user"] * n, "text": payloads, "tool": ["html/v1"] * n})
    got = extract_batch(pdf.copy(), "a003")
    for i, (g, w) in enumerate(zip(got.itertuples(index=False), want)):
        assert (g.header, g.footer, g.left_column, g.right_column) == (
            w["header"], w["footer"], w["left_column"], ""), payloads[i]
        assert g.metadata == w["metadata"], payloads[i]
        assert g.page_number == i + 1
    rows = pd.concat(list(_span_batches(iter([pdf[["conv_id", "turn_idx", "text"]]]))))
    assert list(rows.itertuples(index=False, name=None)) == want_spans


_batch_payload = st.one_of(
    _html_payload, _nested_html, _text, st.none(), st.just(""),
    # generator payloads take the vectorized path: mixed in, each batch
    # holds fast-path and fallback payloads
    st.integers(0, 40).map(lambda i: make_html_payload(f"b{i}", i % 7)),
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_batch_payload, max_size=12))
def test_html_batch_core_equals_oracle_on_fuzz(payloads):
    _assert_batch_equals_oracle(payloads)


# Each rule of the vectorized path and each fallback trigger, forced on
# purpose: (payload, expected fallback). Every payload sits in a batch
# with a generator payload, which must stay on the vectorized path.
_ROUTES = {
    # the vectorized path
    "plain_blocks": ("<html><body><p>" + "w " * 20 + "</p><div>tiny</div></body></html>", False),
    "context_tags": ("<header>head</header><nav><a href='/x'>menu</a></nav>"
                     "<aside>side</aside><footer>foot</footer>", False),
    "paired_quotes": ('<a href="/s0" title="x y">link</a><p>' + "z" * 30, False),
    "mixed_quotes_matched": ("<p title=\"it's\">" + "q" * 30 + "</p>", False),
    "self_closed_and_void": ("<p>one<br>two<br/>three<img src=x>four<div/>five</p>", False),
    "slash_in_unquoted_value": ("<p>" + "v" * 30 + "<a href=foo/>link</a></p>", False),
    "entities": ("<p>&amp;lt;b&amp;gt; &lt;i&gt;&quot;&#39;&nbsp;" + "e" * 25 + "</p>"
                 "<p>&nbsp;</p>", False),
    "raw_text_element": ('<p>before</p><script>var s = "<p>x</p>";</script><style>p{}</style>'
                         "<p>" + "after " * 6 + "</p>", False),
    "implied_close_reopen": ("<ul><li>one<li>two<li>three</li></ul><p>a<p>b<P>c</p>", False),
    "implied_close_after_pop": ("<ul><li><b>one</b><li>two</li></ul>", False),
    "comments_and_doctype": ("<!DOCTYPE html><!-- <p>hidden</p> --><p><![CDATA[<div>]]>"
                             + "k" * 30 + "</p>", False),
    "long_tag_name": ("<blockquote>" + "q" * 30 + "</blockquote><customelement>x</customelement>",
                      False),
    "non_tag_lt": ("<p>a < b and 1<2 <> c</p>", False),
    "unicode_whitespace": ("<p>\u3000\xa0</p><p>\u2028 word\u2003\x85 "
                           + "u" * 25 + "\u3000</p>", False),
    "deep_nesting": ("<div>" * 12 + "<p>" + "d" * 30 + "</p>" + "</div>" * 12, False),
    "no_tags": ("just text, no markup at all, long enough", False),
    # fallback triggers
    "close_through": ("<b><i>x</b>", True),
    "stray_close": ("<p>" + "s" * 30 + "</span></p>", True),
    "quoted_gt": ('<a title="x>y">link</a>', True),
    "head_over_lt": ("<a href=x<p>text</p>", True),
    "odd_quote": ("<a title='x>text</a>", True),
    "raw_text_nested": ("<script><style></script>x", True),
    "implied_chain_close_through": ("<ul><li>one<li>two</ul>", True),
}


@pytest.mark.parametrize("payload,fallback", list(_ROUTES.values()), ids=list(_ROUTES))
def test_html_batch_route(payload, fallback):
    generator = make_html_payload("route", 3)
    _assert_batch_equals_oracle([generator, payload, None], [False, fallback, False])


def test_html_batch_generator_payloads_take_the_vectorized_path():
    payloads = [make_html_payload(f"g{i // 20}", i % 20) for i in range(300)]
    _assert_batch_equals_oracle(payloads, [False] * len(payloads))


def test_html_batch_rejects_non_string_payloads():
    """The batch core raises on a payload that is not a string, which
    sends the batch to the per-turn degrade."""
    with pytest.raises(TypeError):
        strip_html_batch(["<p>x</p>", b"<p>x</p>"])


@pytest.mark.parametrize("chunk_chars", [1, 50, 700])
def test_html_batch_merges_chunks(monkeypatch, chunk_chars):
    """A batch parsed in many chunks equals the oracle per payload, with
    its spans in payload order: generator, fallback, ``None`` and ``""``
    payloads mixed, chunks of one payload, of several and of only
    empty ones."""
    fallback = [(p, fb) for p, fb in _ROUTES.values() if fb]
    payloads, want_fallback = [None, ""], [False, False]
    for i in range(24):
        route, fb = fallback[i % len(fallback)] if i % 3 else _ROUTES["entities"]
        payloads += [make_html_payload(f"m{i}", i % 7), route, [None, "", "<p>x</p>"][i % 3]]
        want_fallback += [False, fb, False]
    chunks = []
    strip_chunk = html._strip_chunk
    monkeypatch.setattr(html, "_CHUNK_CHARS", chunk_chars)
    monkeypatch.setattr(html, "_strip_chunk",
                        lambda chunk: chunks.append(len(chunk)) or strip_chunk(chunk))
    _assert_batch_equals_oracle(payloads, want_fallback)
    # strip_html_batch, extract_batch and _span_batches each cut the
    # batch at least after every generator payload, and the leading
    # None and "" form a chunk of their own
    assert len(chunks) >= 3 * 25 and chunks[0] == 2
    assert sum(want_fallback) == 16


def test_html_batch_whitespace_set_is_str_isspace():
    """The batch core's whitespace tables cover every ``str.isspace``
    code point (they are built from the range below U+3001)."""
    import sys

    from pdf_parser_spark.operators.html import _WS_CHARS

    assert _WS_CHARS == [c for c in map(chr, range(sys.maxunicode + 1)) if c.isspace()]


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
