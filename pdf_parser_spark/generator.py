"""Deterministic synthetic transcript generator (FIXTURES.md sections 1-3).

Produces the primary input table ``transcripts(conv_id string, turn_idx
int32, role string, text string, tool string, ts timestamp)`` exactly per
BASELINE.json:input_hint. Every value derives from an md5 hash of
``(conv_id, turn_idx, tag)`` — no wall clock, no global RNG — so tables
regenerate identically at any scale factor.

The archetype mix exercises every branch of the canonical A003 extractor
plus the A004 span path and the DOM boilerplate stripper (FIXTURES.md
section 3): vertical-line separator, grid-search separator, single column,
colored footer, keyword footer, digit-only footer, header boundary at
exactly 0.15h, shuffled multi-span lines, the line-grouping gap boundary at
exactly 10, empty pages, malformed payloads (error-row path),
tokenizer-failure payloads (fallback path), and question-numbered columns.

Mega-conversations (>=100x the median turn count) are included per scale
factor to exercise skew handling (FIXTURES.md section 1, conv_id row).
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_parser_spark.payload import render_page

_VOCAB = (
    "analysis policy revenue council market system election climate energy "
    "transport report survey committee budget finance culture history science "
    "industry education housing justice health security trade labor reform "
    "growth region district national global annual quarterly public private"
).split()

PAGE_ARCHETYPES = (
    "two_col_line",
    "two_col_noline",
    "single_col",
    "colored_footer",
    "keyword_footer",
    "digit_footer",
    "header_edge",
    "shuffled_multispan",
    "gap_boundary",
    "empty_page",
    "malformed",
    "tok_fail",
    "questions",
)

BASE_TS = 1_700_000_000  # fixed epoch anchor; no wall clock


def _h(*parts) -> int:
    """Deterministic 64-bit hash of the joined parts."""
    key = "|".join(str(p) for p in parts)
    return int(hashlib.md5(key.encode()).hexdigest()[:16], 16)


def _words(conv_id: str, turn_idx: int, tag: str, n: int) -> str:
    base = _h(conv_id, turn_idx, tag)
    return " ".join(_VOCAB[(base + 31 * i) % len(_VOCAB)] for i in range(n))


def _span(x0, y0, x1, y1, size, font, text):
    return {"x0": x0, "y0": y0, "x1": x1, "y1": y1, "size": size, "font": font, "text": text}


def _column_rows(conv_id, turn_idx, tag, x_lo, x_hi, y_start, n_rows, size=10.0):
    """One column of single-span rows, 18pt apart (each row its own line)."""
    rows = []
    for i in range(n_rows):
        y0 = y_start + 18.0 * i
        text = _words(conv_id, turn_idx, f"{tag}-{i}", 4 + _h(conv_id, turn_idx, tag, i) % 5)
        rows.append([_span(x_lo, y0, x_hi, y0 + 12.0, size, "F1", text)])
    return rows


def make_page_payload(conv_id: str, turn_idx: int, archetype: str) -> str:
    """Render one deterministic page payload for the given archetype."""
    h = _h(conv_id, turn_idx, "geom")
    w, ph = (612.0, 792.0) if h % 3 else (595.2, 841.9)
    lines, rects, span_lines = [], [], []

    def header_rows():
        return [[_span(60.0, 40.0, 300.0, 52.0, 14.0, "F2",
                       _words(conv_id, turn_idx, "hdr", 3))]]

    left_x = (50.0, w * 0.45)
    right_x = (w * 0.55, w - 50.0)
    n_rows = 4 + _h(conv_id, turn_idx, "rows") % 8

    if archetype == "malformed":
        return "GARBAGE " + _words(conv_id, turn_idx, "junk", 6)

    if archetype == "empty_page":
        return render_page(w, ph, [])

    if archetype == "tok_fail":
        span_lines = header_rows()
        payload = render_page(w, ph, span_lines)
        # Append a structurally broken SPAN record -> TokenizeError path.
        return payload + f"\nSPAN notanumber 0 0 0 size=x font= text={_words(conv_id, turn_idx, 'tf', 5)}"

    if archetype == "two_col_line":
        sep = w / 2 + (h % 21) - 10  # line near center
        lines.append((sep, 100.0, sep + (h % 3), 700.0))
        span_lines += header_rows()
        span_lines += _column_rows(conv_id, turn_idx, "L", *left_x, 140.0, n_rows)
        span_lines += _column_rows(conv_id, turn_idx, "R", *right_x, 140.0, n_rows)
        # a short horizontal line that must NOT pass the vertical predicate
        lines.append((60.0, 720.0, 400.0, 721.0))
    elif archetype == "two_col_noline":
        span_lines += header_rows()
        span_lines += _column_rows(conv_id, turn_idx, "L", *left_x, 140.0, n_rows)
        span_lines += _column_rows(conv_id, turn_idx, "R", *right_x, 140.0, n_rows)
    elif archetype == "single_col":
        span_lines += header_rows()
        span_lines += _column_rows(conv_id, turn_idx, "C", 60.0, w - 60.0, 140.0, n_rows)
    elif archetype == "colored_footer":
        span_lines += header_rows()
        span_lines += _column_rows(conv_id, turn_idx, "L", *left_x, 140.0, n_rows)
        span_lines += _column_rows(conv_id, turn_idx, "R", *right_x, 140.0, n_rows)
        band_y0 = ph - 52.0
        rects.append((0.0, band_y0, w, ph, (0.85, 0.85, 0.92)))
        rects.append((10.0, 10.0, 80.0, 30.0, (1.0, 1.0, 1.0)))  # white rect: ignored
        span_lines.append([_span(40.0, band_y0 + 10.0, 300.0, band_y0 + 22.0, 8.0, "F3",
                                 _words(conv_id, turn_idx, "cf", 4))])
    elif archetype == "keyword_footer":
        span_lines += header_rows()
        span_lines += _column_rows(conv_id, turn_idx, "L", *left_x, 140.0, n_rows)
        span_lines += _column_rows(conv_id, turn_idx, "R", *right_x, 140.0, n_rows)
        fy = ph * 0.95 + 6.0
        span_lines.append([_span(40.0, fy, 360.0, fy + 10.0, 8.0, "F3",
                                 f"Page {turn_idx + 1} copyright www.example.com")])
    elif archetype == "digit_footer":
        span_lines += header_rows()
        span_lines += _column_rows(conv_id, turn_idx, "C", 60.0, w - 60.0, 140.0, n_rows)
        fy = ph * 0.95 + 8.0
        span_lines.append([_span(w / 2 - 10.0, fy, w / 2 + 10.0, fy + 10.0, 8.0, "F3",
                                 str(turn_idx % 97 + 1))])
    elif archetype == "header_edge":
        # Block centered exactly at 0.15h: strict `<` sends it to a column.
        edge_c = ph * 0.15
        span_lines.append([_span(60.0, edge_c - 6.0, 250.0, edge_c + 6.0, 11.0, "F1",
                                 _words(conv_id, turn_idx, "edge", 3))])
        # Block centered just above the boundary -> header.
        span_lines.append([_span(60.0, edge_c - 6.2, 250.0, edge_c + 5.6, 11.0, "F1",
                                 _words(conv_id, turn_idx, "edge2", 3))])
        span_lines += _column_rows(conv_id, turn_idx, "C", 60.0, w - 60.0, 200.0, n_rows)
    elif archetype == "shuffled_multispan":
        rows = header_rows()
        for i in range(n_rows):
            y0 = 150.0 + 18.0 * i
            # Multi-span visual line: two spans sharing (y0, y1); also two
            # separate blocks on one visual row (tests x-order within line).
            rows.append([
                _span(50.0, y0, 150.0, y0 + 12.0, 10.0, "", _words(conv_id, turn_idx, f"ms{i}a", 2)),
                _span(150.0, y0, 260.0, y0 + 12.0, 11.0, "F4", _words(conv_id, turn_idx, f"ms{i}b", 2)),
            ])
            rows.append([_span(w * 0.58, y0 + 1.0, w - 60.0, y0 + 13.0, 10.0, "F1",
                               _words(conv_id, turn_idx, f"ms{i}c", 3))])
        # Deterministic shuffle of row order (the extractor must re-sort).
        rows.sort(key=lambda r: _h(conv_id, turn_idx, "perm", r[0]["y0"], r[0]["x0"]))
        span_lines = rows
    elif archetype == "gap_boundary":
        span_lines += header_rows()
        # centers 300.0 and 310.0: gap exactly 10 -> new line (|d| < 10 keeps)
        span_lines.append([_span(60.0, 294.0, 200.0, 306.0, 10.0, "F1", "alpha beta")])
        span_lines.append([_span(210.0, 304.0, 340.0, 316.0, 10.0, "F1", "gamma delta")])
        # centers 340.0 and 349.9: gap 9.9 -> same visual line, x-sorted
        span_lines.append([_span(220.0, 334.0, 360.0, 346.0, 10.0, "F1", "zeta")])
        span_lines.append([_span(60.0, 343.9, 200.0, 355.9, 10.0, "F1", "epsilon")])
    elif archetype == "questions":
        sep = w / 2
        lines.append((sep, 100.0, sep, 700.0))
        qbase = _h(conv_id, turn_idx, "qbase") % 40 + 1
        rows = []
        forms = ("{n}. ", "{n}) ", "Q{n}. ", "Q.{n}) ")
        for i in range(6):
            y0 = 150.0 + 36.0 * i
            n = qbase + i
            form = forms[_h(conv_id, turn_idx, "qf", i) % len(forms)]
            col = (50.0, w * 0.45) if i < 3 else (w * 0.55, w - 50.0)
            rows.append([_span(col[0], y0, col[1], y0 + 12.0, 10.0, "F1",
                               form.format(n=n) + _words(conv_id, turn_idx, f"q{i}", 6))])
            rows.append([_span(col[0], y0 + 18.0, col[1], y0 + 30.0, 10.0, "F1",
                               _words(conv_id, turn_idx, f"q{i}x", 5))])
        span_lines = header_rows() + rows
    else:
        raise ValueError(f"unknown archetype {archetype}")

    return render_page(w, ph, span_lines, lines=lines, rects=rects)


# External-link host pool for the nav's absolute URLs: mixed case,
# www/no-www, a generic-SLD (co.uk) entry, and an ad-tracker domain —
# the mess `links.url_canonicalize` / `registrable_domain` exist for.
_EXT_HOSTS = (
    "Example.COM", "news.example.com", "blog.example.co.uk",
    "CDN.Example.net", "www.sample.org", "docs.sample.org",
    "Tracker.Ads.io", "mirror.sample.org",
)


def _ext_url(conv_id: str, turn_idx: int, j: int) -> str:
    """One deterministic, deliberately messy absolute URL: case-mixed
    scheme/host, sometimes an explicit default (or non-default) port,
    trailing slashes, utm_* tracking params in every position, and
    fragments — each axis keyed off an independent hash byte."""
    k = _h(conv_id, turn_idx, "ext", j)
    host = _EXT_HOSTS[k % len(_EXT_HOSTS)]
    scheme = ("http", "https", "HTTPS", "Http")[(k >> 3) % 4]
    default_port = ":80" if scheme.lower() == "http" else ":443"
    port = ("", default_port, "", ":8080")[(k >> 5) % 4]
    path = f"/p/{k % 97}"
    trail = "/" if (k >> 7) % 3 == 0 else ""
    q = ("", f"?id={k % 11}", f"?utm_source=feed&id={k % 11}",
         f"?id={k % 11}&utm_campaign=x",
         f"?utm_medium=nav&utm_term=t{k % 7}")[(k >> 9) % 5]
    frag = ("", f"#sec{k % 5}")[(k >> 11) % 2]
    return f"{scheme}://{host}{port}{path}{trail}{q}{frag}"


def make_html_payload(conv_id: str, turn_idx: int) -> str:
    """Deterministic boilerplate-heavy DOM (FIXTURES.md section 2)."""
    def para(tag_idx, n):
        return _words(conv_id, turn_idx, f"hp{tag_idx}", n)

    h = _h(conv_id, turn_idx, "html")
    nav_links = "".join(
        f'<a href="/s{i}">{_VOCAB[(h + i) % len(_VOCAB)]}</a> ' for i in range(5)
    )
    # Absolute external links live in the nav too: boilerplate to the
    # extractor (stripped with the rest of the nav), edges with real
    # domains to the link-graph/domain-curation operators.
    nav_links += "".join(
        f'<a href="{_ext_url(conv_id, turn_idx, j)}">'
        f"{_VOCAB[(h + 5 + j) % len(_VOCAB)]}</a> " for j in range(3)
    )
    deep_open = "<div>" * 12
    deep_close = "</div>" * 12
    parts = [
        "<html><body>",
        f"<header><h1>{para(0, 3)}</h1></header>",
        f"<nav>{nav_links}</nav>",
        f"<main><p>{para(1, 20 + h % 10)}</p>",
        f"<p>{para(2, 15 + h % 8)}</p>",
        f"<p>tiny</p>",  # < 25 chars -> boilerplate
        f'<p>Read more at <a href="/x">{para(3, 12)}</a> now</p>',  # link-heavy
        f"{deep_open}<p>{para(4, 10)}</p>{deep_close}",  # too deep
        f"<p>{para(5, 18 + h % 6)}</p></main>",
        f"<aside>{para(6, 10)}</aside>",
        f'<footer>© example.org — <a href="/about">about</a></footer>',
        "</body></html>",
    ]
    return "".join(parts)


def archetype_for(conv_id: str, turn_idx: int) -> str:
    return PAGE_ARCHETYPES[_h(conv_id, turn_idx, "arch") % len(PAGE_ARCHETYPES)]


def make_turn(conv_id: str, turn_idx: int) -> tuple:
    """Return (role, text, tool) for one turn."""
    kind = _h(conv_id, turn_idx, "kind") % 100
    role = ("user", "assistant", "tool")[_h(conv_id, turn_idx, "role") % 3]
    if kind < 70:
        return role, make_page_payload(conv_id, turn_idx, archetype_for(conv_id, turn_idx)), "page/v1"
    if kind < 85:
        return role, make_html_payload(conv_id, turn_idx), "html/v1"
    return role, _words(conv_id, turn_idx, "plain", 12 + kind % 20), "plain"


def conv_turn_counts(sf: float) -> list:
    """[(conv_id, n_turns)] — includes mega-conversations for skew."""
    n_convs = max(10, int(round(5000 * sf / 0.1)))
    out = []
    for c in range(n_convs):
        conv_id = f"conv-{c:06d}"
        n = 8 + _h(conv_id, "len") % 25
        if c == 0:
            n = max(n, int(120_000 * sf))  # mega-conversation (skew axis)
        elif c == 1 and sf >= 0.1:
            n = max(n, int(60_000 * sf))
        out.append((conv_id, n))
    return out


def generate_transcripts(sf: float, out_dir: str) -> str:
    """Write the transcripts parquet dataset for a scale factor; idempotent.

    The dataset is sharded into multiple files (contiguous row ranges, so
    turn order inside a conversation is preserved within shards) so the
    Spark scan parallelizes without a repartition shuffle — the sandbox
    analog of a cluster table's many splits."""
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return out_dir

    conv_ids, turn_idxs, roles, texts, tools, tss = [], [], [], [], [], []
    for conv_id, n_turns in conv_turn_counts(sf):
        t0 = BASE_TS + (_h(conv_id, "t0") % 1_000_000) * 60
        for t in range(n_turns):
            role, text, tool = make_turn(conv_id, t)
            conv_ids.append(conv_id)
            turn_idxs.append(t)
            roles.append(role)
            texts.append(text)
            tools.append(tool)
            tss.append((t0 + 37 * t) * 1_000_000)  # microseconds

    table = pa.table(
        {
            "conv_id": pa.array(conv_ids, pa.string()),
            "turn_idx": pa.array(turn_idxs, pa.int32()),
            "role": pa.array(roles, pa.string()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.array(tools, pa.string()),
            "ts": pa.array(tss, pa.timestamp("us")),
        }
    )
    n = table.num_rows
    n_shards = max(8, min(64, n // 2000)) if n else 1
    chunk = -(-n // n_shards)
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for i in range(n_shards):
        part = table.slice(i * chunk, chunk)
        if part.num_rows == 0:
            break
        pq.write_table(part, os.path.join(tmp, f"part-{i:05d}.parquet"),
                       row_group_size=4096)
    with open(os.path.join(tmp, "_SUCCESS"), "w", encoding="utf-8") as f:
        f.write("")
    if os.path.isdir(out_dir):
        import shutil

        shutil.rmtree(out_dir)
    os.replace(tmp, out_dir)
    return out_dir


def transcripts_path(sf: float, base_dir: str = "/root/repo/data/transcripts") -> str:
    """Canonical cached dataset directory; generates on first use."""
    name = f"sf{sf:g}"
    return generate_transcripts(sf, os.path.join(base_dir, name, "transcripts_ds"))


def table_path(sf_dir: str, name: str) -> str:
    """Parquet path of table ``name`` in ``sf_dir``, preferring
    ``{name}_nonrep.parquet`` when present (data/sf1 only): plain 10x
    offset-replicas keep text/vectors byte-identical across reps, which
    inflates near-dup PAIR counts quadratically (FIXTURES.md section 6)."""
    nonrep = os.path.join(sf_dir, f"{name}_nonrep.parquet")
    if os.path.exists(nonrep):
        return nonrep
    return os.path.join(sf_dir, f"{name}.parquet")


def sf_from_dir(sf_dir: str) -> float:
    """Map a driver sf dir (/root/testdata/sf0.01) to a scale factor.

    Unparseable names raise instead of silently falling back to a tiny
    dataset — a wrong-dataset run would fail every gate with misleading
    row-count mismatches rather than a clear bad-argument error."""
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    raise ValueError(
        f"cannot derive a scale factor from {sf_dir!r}: expected a "
        "directory named sf<float> (e.g. .../sf0.01)")
