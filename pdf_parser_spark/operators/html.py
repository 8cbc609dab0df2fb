"""Engine core for html/v1 turns: payload -> boilerplate-stripped layout.

One function, ``strip_html``, serves both html operators:
``extract_layouts`` keeps its header / footer / cleaned text and
metadata, ``boilerplate_spans`` its span offsets. Its output equals the
oracle's (``oracle/boilerplate.strip_boilerplate``) byte for byte: the tag
grammar, tag sets, entities and thresholds are imported from the oracle,
not copied, and ``tests/test_fuzz.py::test_html_core_equals_oracle_on_fuzz``
checks every field on hostile input. The oracle stays the readable
reference; this copy is written for the interpreter's per-turn cost:

* one ``TAG_RE.split`` per payload and a flat loop over its 5-field
  stride (text, closing, tag, attrs, self-close) — no ``Match`` objects;
* an int for the open script/style element instead of a counter lookup
  per tag; context counters are read only for non-blank text, and link
  length is measured only inside ``<a>``;
* no closures: block boundaries are handled inline and blocks are
  tuples; whitespace is normalized with ``" ".join(s.split())``, which
  agrees with the oracle's ``\\s+`` regex on every code point.
"""

from __future__ import annotations

from pdf_parser_spark.oracle.boilerplate import (
    _STRIP_RE,
    BLOCK_TAGS,
    IMPLIED_CLOSE_TAGS,
    MAX_CONTENT_DEPTH,
    MAX_LINK_DENSITY,
    MIN_CONTENT_CHARS,
    SKIP_CONTENT_TAGS,
    TAG_RE,
    VOID_TAGS,
    _unescape,
)

_QUOTE_OR_SPACE = " \t\r\n'\""
# an empty non-block tag after the last text segment, so the loop's
# 5-field stride also covers the tail; pushing "" changes nothing after it
_END = ("", "", "", "")


def _blocks(payload: str) -> list:
    """Flat text blocks ``(text, depth, link_chars, in_header, in_footer,
    in_nav)`` — the oracle's ``tokenize_html`` as tuples."""
    if "<!" in payload:  # every comment / CDATA / declaration starts so
        payload = _STRIP_RE.sub(" ", payload)
    parts = TAG_RE.split(payload)
    parts += _END
    blocks = []
    stack = []
    # open-tag counters (> 0 <=> the tag is on the stack); the context
    # tags are preset so text segments index them without .get
    counts = {"header": 0, "footer": 0, "nav": 0, "aside": 0, "a": 0}
    # 1 while a script/style element is open; no tag opens inside one, so
    # it is the stack top until its own close tag
    skip = 0
    cur = []  # raw text pieces of the open block
    depth = -1  # stack depth at the block's first non-blank text
    link = 0
    in_h = in_f = in_n = False
    it = iter(parts)
    for text, closing, tag, attrs, selfclose in zip(it, it, it, it, it):
        if text and not skip:
            if "&" in text:
                text = _unescape(text)
            if not text.isspace():
                if depth < 0:
                    depth = len(stack)
                if counts["header"]:
                    in_h = True
                if counts["footer"]:
                    in_f = True
                if counts["nav"] or counts["aside"]:
                    in_n = True
                if counts["a"]:
                    link += len(" ".join(text.split()))
            cur.append(text)

        tag = tag.lower()
        if skip:
            # raw-text element content: only its own close tag ends it
            if closing and tag == stack[-1]:
                counts[stack.pop()] -= 1
                skip = 0
            continue
        # a '/' glued to an unquoted attribute value ('<a href=foo/>')
        # belongs to the value, not a self-close
        selfclosed = selfclose and (not attrs or attrs[-1] in _QUOTE_OR_SPACE)
        if tag in BLOCK_TAGS:
            if cur:  # (with no text the block state is still reset)
                block = " ".join("".join(cur).split())
                if block:
                    blocks.append((block, depth, min(link, len(block)),
                                   in_h, in_f, in_n))
                cur = []
                depth = -1
                link = 0
                in_h = in_f = in_n = False
            if selfclosed:
                continue
        elif tag in VOID_TAGS or selfclosed:
            if cur:
                cur.append(" ")  # <br>/<img> separate words
            continue
        if closing:
            if counts.get(tag):
                while (top := stack.pop()) != tag:
                    counts[top] -= 1
                counts[tag] -= 1
        elif not (stack and stack[-1] == tag and tag in IMPLIED_CLOSE_TAGS):
            # (a same-tag sibling reopen of an implied-close tag leaves the
            # stack as it was: pop + push)
            stack.append(tag)
            counts[tag] = counts.get(tag, 0) + 1
            if tag in SKIP_CONTENT_TAGS:
                skip = 1

    if cur:
        block = " ".join("".join(cur).split())
        if block:
            blocks.append((block, depth, min(link, len(block)), in_h, in_f, in_n))
    return blocks


def strip_html(payload: str | None) -> tuple:
    """html/v1 payload -> ``(header, footer, left_column, spans,
    metadata)``: the fields of ``strip_boilerplate`` (whose
    ``right_column`` is always "") with the same values."""
    blocks = _blocks(payload or "")
    header, footer, content, spans = [], [], [], []
    boilerplate = link_chars = offset = 0
    for text, depth, link, in_h, in_f, in_n in blocks:
        link_chars += link
        if in_h:
            header.append(text)
        elif in_f:
            footer.append(text)
        else:
            n = len(text)
            if (in_n or link / n > MAX_LINK_DENSITY or n < MIN_CONTENT_CHARS
                    or depth > MAX_CONTENT_DEPTH):
                boilerplate += 1
            else:
                content.append(text)
                spans.append((offset, offset + n))
                offset += n + 1  # the joining "\n"
    metadata = {
        "total_blocks": str(len(blocks)),
        "content_blocks": str(len(content)),
        "boilerplate_blocks": str(boilerplate),
        "header_blocks": str(len(header)),
        "footer_blocks": str(len(footer)),
        "total_link_chars": str(link_chars),
    }
    return "\n".join(header), "\n".join(footer), "\n".join(content), spans, metadata
