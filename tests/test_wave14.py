"""Round-11 wave-2: HTML → text extraction (q203) and its
composition as stage 0 of the q201 crawl funnel."""

from __future__ import annotations

from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.functions import html as H

SF_DIR = "/root/testdata/sf0.001"


def _extract(spark, html: str):
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    blk = H.html_block_structs(F.col("html"))
    kept, text = H.content_text(blk)
    return df.select(F.size(blk).alias("n_blocks"),
                     (F.size(blk) - F.size(kept)).alias("n_boiler"),
                     text.alias("text"),
                     F.length(text).alias("n_chars")).collect()[0]


def test_script_style_head_comment_stripped(spark):
    r = _extract(spark, (
        '<html><head><title>chrome</title><style>p{x:1}</style>'
        '<script>var t = "</p> trap & <div>fake</div>";</script></head>'
        '<body><!-- note --><p>real content stays here</p></body></html>'
    ))
    assert r.text == "real content stays here"
    assert r.n_blocks == 1 and r.n_boiler == 0
    # the script's literal </p> and <div> must NOT have split blocks,
    # and "chrome"/"trap" must not leak into the text


def test_link_density_drops_nav_keeps_article(spark):
    r = _extract(spark, (
        '<body><NAV><a href="/">Home</a> <a href="/a">About</a></NAV>'
        '<h1>Title</h1>'
        '<div><a href=x>anchor</a> with plenty of surrounding prose '
        'that dominates the block</div>'
        '<footer><a href="/t">terms of service</a> (c)</footer></body>'
    ))
    assert r.text == ("Title\nanchor with plenty of surrounding prose "
                      "that dominates the block")
    assert r.n_blocks == 4 and r.n_boiler == 2  # nav + footer


def test_entities_decode_in_order(spark):
    r = _extract(spark, "<p>a &amp;lt; b &lt;tag&gt; &quot;q&quot; "
                        "&#39;s&#39; x&nbsp;y</p>")
    # &amp; decodes LAST: "&amp;lt;" → "&lt;" literally, not "<"
    assert r.text == 'a &lt; b <tag> "q" \'s\' x y'


def test_block_tags_any_case_with_attributes(spark):
    r = _extract(spark, '<P CLASS="a">one</P><Div id=2>two</Div>'
                        '<BR/>three<h3>four</h3>')
    assert r.text.split("\n") == ["one", "two", "three", "four"]


def test_empty_and_whitespace_blocks_drop(spark):
    r = _extract(spark, "<p>  </p><div>\t\n</div><p>only</p>")
    assert r.n_blocks == 1 and r.text == "only"


def test_q203_plan_is_map_only(spark):
    from sarfile_analyzer_ng_spark.queries import q203_html_extract

    plan = q203_html_extract(spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan  # pure per-row map, no shuffle
    assert "BatchEvalPython" not in plan  # no python UDF in the path


def test_funnel_page_roundtrips_text_exactly(spark):
    """Stage 0's wrapper must round-trip the crawl text byte-exactly,
    or stages 1–5 would silently drift from the r10 funnel."""
    from sarfile_analyzer_ng_spark.queries import (
        _funnel2_crawl, _funnel2_page_expr)

    crawl = _funnel2_crawl(spark, SF_DIR)
    pages = crawl.withColumn("html", _funnel2_page_expr())
    _kept, text = H.content_text(H.html_block_structs(F.col("html")))
    ext = pages.select("doc_id", text.alias("ext"))
    bad = (
        crawl.join(ext, "doc_id")
        .where(F.col("text") != F.col("ext"))
    )
    assert bad.count() == 0


def test_funnel_stage0_counts(spark):
    from sarfile_analyzer_ng_spark.queries import q201_curation_funnel_v2

    rows = {r.stage_no: r for r in
            q201_curation_funnel_v2(spark, SF_DIR).collect()}
    s0 = rows[0]
    assert s0.stage == "html_extract"
    assert s0.n_in == s0.n_kept + s0.n_dropped
    # every page carries nav + footer (2 boiler blocks) and a third on
    # doc_id % 3 == 0 pages; every page keeps exactly 1 content block
    assert s0.n_kept == rows[1].n_in  # kept blocks == pages (1 per page)
    assert s0.n_dropped >= 2 * rows[1].n_in
    # stages 1-5 unchanged by stage 0: the funnel still ends non-empty
    assert rows[5].n_kept > 0


def test_tag_name_boundaries(spark):
    """r11 review fix: tag names must end at whitespace, '/', or '>'.
    <param>/<picture> are NOT block tags (p-prefix), <abbr> is NOT an
    anchor (a-prefix), <header> is a block tag but NOT the head
    element, and <link>/<track> are inline."""
    r = _extract(spark, (
        '<body><p>alpha <abbr title="x">W3C</abbr> beta '
        '<param name="m"><link rel="s"> gamma</p>'
        '<header>real header block</header>'
        '<picture>inline picture</picture>delta</body>'
    ))
    # abbr/param/link/picture strip as inline tags; header splits
    assert r.text.split("\n") == [
        "alpha W3C beta gamma",
        "real header block",
        "inline picture delta",
    ]
    assert r.n_boiler == 0


def test_anchor_prefix_not_greedy_across_abbr(spark):
    """<abbr>X</abbr> before a real link must not be captured as the
    anchor's opening tag (the old '<a[^>]*>' matched '<abbr>')."""
    r = _extract(spark, (
        '<p><abbr>W3C</abbr> see <a href="/">home</a> for more '
        'surrounding words that keep the block content-heavy</p>'
    ))
    # link text is ONLY 'home' — the block survives the density rule
    assert r.n_boiler == 0
    assert "W3C see home for more" in r.text


def test_all_boilerplate_page_extracts_empty(spark):
    """A chrome-only page must yield text='' (n_chars 0), not NULL —
    the q206 empty-extraction signal (and the DuckDB coalesce twin)."""
    r = _extract(spark, (
        '<body><nav><a href="/">Home</a> <a href="/a">About</a></nav>'
        '<footer><a href="/t">terms of use</a> (c)</footer></body>'
    ))
    assert r.text == "" and r.n_chars == 0
    assert r.n_blocks == 2 and r.n_boiler == 2
