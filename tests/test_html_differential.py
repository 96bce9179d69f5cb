"""Differential fuzz of the HTML extractor against an INDEPENDENT
stdlib ``html.parser`` reference (r11 VERDICT directive #2).

q203's gate pages are built by the same code that defines the rules
and its DuckDB oracle shares the regex constants — that proves
engine parity, not rule correctness. This suite re-implements the
documented extraction contract (functions/html.py module docstring)
on a genuinely different engine — an event-driven
``html.parser.HTMLParser`` subclass, no regexes — and drives both
over randomized adversarial markup.

Intentional divergences of the regex contract from an HTML5 parser
(each exercised by the DIRTY construct pool below and quantified in
test_dirty_agreement_floor):

  D1. attribute values containing a quoted ``>``: the RE2-safe tag
      pattern ``(?:\\s[^>]*)?>`` ends the tag at the FIRST ``>`` —
      crawl-grade tolerance, documented in functions/html.py.
  D2. ``<![CDATA[ ... ]]>`` sections: not HTML comments, so the
      regex chain strips only up to the first ``>`` and keeps the
      remainder as text; html.parser drops the whole declaration.
  D3. an UNTERMINATED ``<script>`` element (malformed close like
      ``</script foo>`` with no later real close): the regex needs a
      full ``</script>`` to match, so the open tag degrades to an
      inline tag and the body leaks as text; html.parser stays in
      CDATA mode to EOF and drops it. When a later real close
      exists, both engines swallow through it and AGREE (pinned).

Everything else — unclosed tags, anchors left open at block ends,
nested/overlapping anchors, conditional comments, mixed-case tags
and entities, ``<param>``/``<abbr>`` boundary traps — must agree
EXACTLY, and the clean-pool test pins that at 100%.
"""

from __future__ import annotations


import random
from html.parser import HTMLParser

from pyspark.sql import functions as F
import pytest

from sarfile_analyzer_ng_spark.functions import html as H

pytestmark = pytest.mark.driver  # driver-facing gate (see conftest)

BLOCK_TAGS = {
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "nav", "header", "footer", "article", "section", "table", "tr",
    "td", "th", "blockquote", "pre", "br",
}
SKIP_ELEMENTS = {"script", "style", "head"}
# the six entities the contract decodes (amp handled by event order)
ENTITY_MAP = {"lt": "<", "gt": ">", "quot": '"', "nbsp": " ",
              "amp": "&"}


def _normalize(parts: list[str]) -> str:
    return " ".join("".join(parts).split())


class ReferenceExtractor(HTMLParser):
    """The documented contract on html.parser events: skip
    script/style/head subtrees, new block at any block tag, inline
    tags contribute a space, anchor text buffers commit at the first
    ``</a>`` INSIDE the block (the non-greedy first-close semantics
    of the contract; an anchor never spans a block boundary)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=False)
        self.blocks: list[tuple[list[str], list[str]]] = [([], [])]
        self.skip = 0
        self.in_anchor = False
        self.anchor_buf: list[str] = []

    # -- helpers ---------------------------------------------------
    def _emit(self, s: str) -> None:
        if self.skip:
            return
        self.blocks[-1][0].append(s)
        if self.in_anchor:
            self.anchor_buf.append(s)

    def _new_block(self) -> None:
        # contract: anchors do not span blocks — an uncommitted
        # buffer (no </a> seen) is discarded with the block edge
        self.in_anchor = False
        self.anchor_buf = []
        self.blocks.append(([], []))

    # -- parser events ---------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in SKIP_ELEMENTS:
            self.skip += 1
            return
        if self.skip:
            return
        if tag in BLOCK_TAGS:
            self._new_block()
        elif tag == "a":
            if not self.in_anchor:
                self.in_anchor = True
                self.anchor_buf = []
            self._emit(" ")
        else:
            self._emit(" ")

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)
        # <a/> self-closing never happens in the pools; block tags
        # already split; other tags contributed their space

    def handle_endtag(self, tag):
        if tag in SKIP_ELEMENTS:
            self.skip = max(0, self.skip - 1)
            return
        if self.skip:
            return
        if tag in BLOCK_TAGS:
            self._new_block()
        elif tag == "a":
            if self.in_anchor:
                # first close commits the buffer (non-greedy match)
                self.blocks[-1][1].append("".join(self.anchor_buf))
                self.in_anchor = False
                self.anchor_buf = []
            self._emit(" ")
        else:
            self._emit(" ")

    def handle_data(self, data):
        self._emit(data)

    def handle_entityref(self, name):
        self._emit(ENTITY_MAP.get(name, f"&{name};"))

    def handle_charref(self, name):
        self._emit("'" if name == "39" else f"&#{name};")

    def handle_comment(self, data):
        pass  # contract rule 1

    def unknown_decl(self, data):
        pass  # CDATA etc. — divergence D2, dirty pool only

    # -- result ----------------------------------------------------
    def result(self) -> tuple[int, int, str]:
        blocks = []
        for text_parts, anchors in self.blocks:
            t = _normalize(text_parts)
            if t == "":
                continue
            lt = _normalize([" ".join(anchors)])
            blocks.append((t, lt))
        kept = [t for t, lt in blocks if 2 * len(lt) < len(t)]
        return len(blocks), len(blocks) - len(kept), "\n".join(kept)


def reference_extract(html: str) -> tuple[int, int, str]:
    p = ReferenceExtractor()
    p.feed(html)
    p.close()
    return p.result()


# ------------------------------------------------------------------ #
# randomized page generator
# ------------------------------------------------------------------ #

WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india "
         "juliet kilo lima mike november oscar papa quebec romeo "
         "sierra tango").split()


def _words(rng, lo=1, hi=8):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _clean_fragments(rng) -> list[str]:
    """Constructs on which the regex contract and the reference must
    agree EXACTLY."""
    f = []
    f.append(f"<p>{_words(rng)}</p>")
    f.append(f"<P CLASS='x'>{_words(rng)}</P>")
    f.append(f"<div><b>{_words(rng)}</b> <i>{_words(rng)}</i></div>")
    f.append(f"<h{rng.randint(1, 6)}>{_words(rng)}</h{rng.randint(1, 6)}>")
    f.append(f"<li>{_words(rng)}")                       # unclosed li
    f.append(f"<p>{_words(rng)}<br/>{_words(rng)}</p>")
    f.append(f"<p><a href='/{rng.choice(WORDS)}'>{_words(rng, 1, 3)}"
             f"</a> {_words(rng, 6, 12)}</p>")
    # link-dense nav: must be flagged boilerplate by both
    f.append("<nav>" + " ".join(
        f"<a href='/{w}'>{w}</a>" for w in rng.sample(WORDS, 3)) + "</nav>")
    # anchor left OPEN at the block edge: no </a> => zero anchor mass
    f.append(f"<p><a href='/x'>{_words(rng, 1, 2)}<p>{_words(rng)}</p>")
    # nested anchors: first close commits
    f.append(f"<p><a href='/o'>{_words(rng, 1, 2)}<a href='/i'>"
             f"{_words(rng, 1, 2)}</a> {_words(rng, 4, 8)}</p>")
    # dangling close anchors
    f.append(f"<p>{_words(rng)}</a></a></p>")
    # entities, mixed-case, double-encoded
    f.append(f"<p>{_words(rng, 1, 2)} &lt;ok&gt; &quot;q&quot; &#39;s&#39;"
             f" &nbsp; &amp;amp; {_words(rng, 1, 2)}</p>")
    # script trap with literal </p> in a string
    f.append('<script>var t = "</p> not a block";</script>'
             f"<p>{_words(rng)}</p>")
    f.append(f"<style>p {{color: red}}</style><p>{_words(rng)}</p>")
    # comments, incl. conditional comments
    f.append(f"<!-- plain comment --><p>{_words(rng)}</p>")
    f.append(f"<!--[if IE]><p>legacy</p><![endif]--><p>{_words(rng)}</p>")
    # tag-name boundary traps (r11 fix): param is not p, abbr not a
    f.append(f"<p>{_words(rng, 1, 2)}<param name='m'><abbr title='r'>R"
             f"</abbr> {_words(rng, 1, 2)}</p>")
    # unknown inline tag -> space in both engines
    f.append(f"<p>{_words(rng, 1, 2)}<u>{_words(rng, 1, 2)}</u></p>")
    f.append(f"<table><tr><td>{_words(rng, 1, 3)}</td>"
             f"<td>{_words(rng, 1, 3)}</td></tr></table>")
    f.append(f"<blockquote>{_words(rng)}</blockquote>")
    rng.shuffle(f)
    return f


def _dirty_fragments(rng) -> list[str]:
    """Documented-divergence constructs (D1/D2/D3)."""
    f = []
    # D1: quoted '>' inside an attribute value
    f.append(f"<p title=\"a > b\">{_words(rng)}</p>")
    f.append(f"<div data-x='1>2'>{_words(rng)}</div>")
    # D2: CDATA
    f.append(f"<p><![CDATA[ raw {_words(rng, 1, 2)} ]]>{_words(rng)}</p>")
    # D3: malformed script close
    f.append(f"<script>x = 1 </script foo><p>{_words(rng)}</p>")
    rng.shuffle(f)
    return f


def _page(rng, dirty: bool) -> str:
    frags = _clean_fragments(rng)
    if dirty:
        d = _dirty_fragments(rng)
        frags = [x for pair in zip(frags, d) for x in pair] + frags[len(d):]
    body = "".join(frags[: rng.randint(4, len(frags))])
    head = ("<head><title>t</title><style>b{}</style>"
            "<script>s()</script></head>")
    return f"<html>{head}<body>{body}</body></html>"


def _spark_extract(spark, pages):
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(pages)], "pid long, html string")
    blk = H.html_block_structs(F.col("html"))
    kept, text = H.content_text(blk)
    out = df.select("pid", F.size(blk), F.size(blk) - F.size(kept), text)
    return {r[0]: tuple(r[1:]) for r in out.collect()}


def test_clean_pool_exact_agreement(spark):
    """200 randomized pages from the clean construct pool: block
    count, boilerplate count, AND extracted text must match the
    independent parser reference byte-for-byte."""
    rng = random.Random(0xC0FFEE)
    pages = [_page(rng, dirty=False) for _ in range(200)]
    got = _spark_extract(spark, pages)
    bad = []
    for i, p in enumerate(pages):
        want = reference_extract(p)
        if got[i] != want:
            bad.append((i, got[i], want, p))
    assert not bad, (
        f"{len(bad)}/200 clean pages diverge; first: "
        f"spark={bad[0][1]!r} ref={bad[0][2]!r} page={bad[0][3]!r}"
    )


def test_divergence_contract_pins(spark):
    """One canonical page per documented construct: BOTH engines'
    outputs are pinned exactly, so the divergence is a stated
    contract, not an accident — and the agreeing edge cases (CDATA
    without ``>``, malformed script close with a later real close)
    are pinned as agreement."""
    cases = [
        # (page, expected spark text, expected ref text)
        ('<p title="a > b">words here</p>',          # D1 double-quoted
         'b">words here', "words here"),
        ("<div data-x='1>2'>some words</div>",       # D1 single-quoted
         "2'>some words", "some words"),
        ("<p><![CDATA[ x > y ]]>rest of text</p>",   # D2 with '>'
         "y ]]>rest of text", "rest of text"),
        ("<p><![CDATA[ plain ]]>rest of text</p>",   # D2 no '>': agree
         "rest of text", "rest of text"),
        ('<script>x = 1 </script foo><p>alpha beta</p>'
         '<script>var t="x";</script><p>tail words</p>',
         "tail words", "tail words"),               # D3 recovered: agree
        ('<script>x = 1 </script foo><p>alpha beta</p>',
         "x = 1\nalpha beta", ""),                  # D3 unterminated
    ]
    got = _spark_extract(spark, [p for p, _, _ in cases])
    for i, (page, want_spark, want_ref) in enumerate(cases):
        assert got[i][2] == want_spark, (page, got[i])
        assert reference_extract(page)[2] == want_ref, page


def test_dirty_divergence_is_documented(spark):
    """Every dirty-pool mismatch must be attributable to a documented
    construct actually present on the page — no UNDOCUMENTED rule
    bug hides in the fuzz."""
    rng = random.Random(0xBADF00D)
    pages = [_page(rng, dirty=True) for _ in range(100)]
    got = _spark_extract(spark, pages)
    markers = ('title="a > b"', "data-x='1>2'", "<![CDATA[",
               "</script foo>")
    for i, p in enumerate(pages):
        if got[i] != reference_extract(p):
            assert any(m in p for m in markers), (
                f"undocumented divergence on page {i}: {p!r}"
            )
