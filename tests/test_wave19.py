"""Round-12 wave-1: Public Suffix List registrable domains.

The r11 VERDICT's directive #5: the 2/3-label heuristic becomes a
checked-in PSL snapshot (data/public_suffix_list.tsv, ICANN-section
core) compiled into InSet probes — these tests pin the full rule
algebra (exact / wildcard / exception / default / degenerate) and
the exact cases the old heuristic got wrong.
"""

from __future__ import annotations

import csv

from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.functions import web as W

SF_DIR = "/root/testdata/sf0.001"

# (host, expected registrable domain) — hand-derived from the PSL
# algorithm (publicsuffix.org/list/): exception > longest rule >
# default; wildcard eats one label; a host that IS a public suffix
# maps to itself.
PSL_CASES = [
    # plain gTLD default rule
    ("foo.example.com", "example.com"),
    ("example.com", "example.com"),
    # ccTLD second-level exact rules (the directive's named cases)
    ("example.co.uk", "example.co.uk"),
    ("sub.example.co.uk", "example.co.uk"),
    ("example.co.jp", "example.co.jp"),
    ("a.b.example.com.au", "example.com.au"),
    ("example.gob.mx", "example.gob.mx"),
    ("x.example.com.br", "example.com.br"),
    # flat ccTLD where the old heuristic over-matched: de has NO
    # ICANN second-level rules, so co.de is itself registrable
    ("foo.co.de", "co.de"),
    # wildcard rule *.ck: every 2-label suffix is a public suffix
    ("shop.stuff.ck", "shop.stuff.ck"),
    ("stuff.ck", "stuff.ck"),  # degenerate: host IS a public suffix
    # exception rule !www.ck beats the wildcard: the public suffix is
    # the exception minus its leftmost label ("ck"), so www.ck is the
    # registrable domain for itself AND for everything under it
    ("www.ck", "www.ck"),
    ("a.www.ck", "www.ck"),
    # 2-label wildcard *.kawasaki.jp with exception !city.kawasaki.jp
    ("city.kawasaki.jp", "city.kawasaki.jp"),
    ("x.living.kawasaki.jp", "x.living.kawasaki.jp"),
    # 3-label exact rule
    ("x.ltd.co.im", "x.ltd.co.im"),
    ("ltd.co.im", "ltd.co.im"),
    # degenerate inputs pass through
    ("localhost", "localhost"),
    ("", ""),
    ("ck", "ck"),
]


def test_psl_registrable_domain_cases(spark):
    df = spark.createDataFrame(
        [(h,) for h, _ in PSL_CASES], "host string")
    got = {
        r.host: r.dom
        for r in df.select(
            "host",
            W.registrable_domain(F.col("host")).alias("dom"),
        ).collect()
    }
    for host, want in PSL_CASES:
        assert got[host] == want, f"{host}: {got[host]!r} != {want!r}"


def test_psl_snapshot_is_well_formed():
    """The dim table itself: no duplicate (suffix, kind), labels
    matches the dot count, kinds are the three the matcher knows,
    and the suffixes the oracle twins depend on are present."""
    seen = set()
    suffixes = {}
    with open(W.PSL_PATH, newline="") as fh:
        for row in csv.DictReader(fh, delimiter="\t"):
            key = (row["suffix"], row["kind"])
            assert key not in seen, f"duplicate rule {key}"
            seen.add(key)
            assert int(row["labels"]) == row["suffix"].count(".") + 1
            assert row["kind"] in ("exact", "wildcard", "exception")
            assert row["suffix"] == row["suffix"].lower().strip()
            suffixes.setdefault(row["kind"], set()).add(row["suffix"])
    # the rules the synthesis/oracles exercise
    for s in ("co.uk", "co.jp", "com.au", "net.au", "gob.mx", "com.br"):
        assert s in suffixes["exact"], s
    assert "ck" in suffixes["wildcard"]
    assert "www.ck" in suffixes["exception"]


def test_synth_urls_exercise_psl_wildcard(spark):
    """The q190 family's URL synthesis routes source src13 through
    *.ck and src19 through com.au, so the PSL path (not just the
    old 2/3-label cases) is locked by the six URL-query oracles."""
    from sarfile_analyzer_ng_spark.queries import q190_url_canonicalize

    out = q190_url_canonicalize(spark, SF_DIR)
    doms = {r.domain for r in out.select("domain").distinct().collect()}
    assert "shop.src13.ck" in doms      # wildcard: THREE labels kept
    assert "src13.ck" not in doms
    assert "src19.com.au" in doms
    assert any(d.endswith(".co.uk") for d in doms)


def test_attach_registrable_domain_matches_column_form(spark):
    """The broadcast-join derivation (production path) and the InSet
    column form must agree on every pinned PSL case AND on the full
    synthesized URL universe — the guard that keeps the two
    implementations from drifting."""
    from sarfile_analyzer_ng_spark.queries import _synth_url_expr, _t

    df = spark.createDataFrame(
        [(h,) for h, _ in PSL_CASES], "host string")
    joined = W.attach_registrable_domain(df, F.col("host"), "dom_j")
    both = joined.withColumn(
        "dom_c", W.registrable_domain(F.col("host"))).collect()
    for r in both:
        assert r.dom_j == r.dom_c, r
    want = dict(PSL_CASES)
    for r in both:
        assert r.dom_j == want[r.host], r

    docs = _t(spark, SF_DIR, "documents").select("doc_id", "source")
    urls = docs.withColumn("url", _synth_url_expr())
    host = F.regexp_replace(
        W.url_host(F.col("url")), r":[0-9]+$", "")
    enr = W.attach_registrable_domain(
        urls.withColumn("_bare", host), F.col("_bare"), "dom_j")
    mism = enr.withColumn(
        "dom_c", W.registrable_domain(F.col("_bare"))).where(
        F.col("dom_j") != F.col("dom_c")).count()
    assert mism == 0


def test_attach_registrable_domain_broadcasts(spark):
    """Plan shape: the PSL dims ride as BroadcastHashJoins (no
    shuffle on the fact side) and row multiplicity is preserved."""
    from sarfile_analyzer_ng_spark.queries import _synth_url_expr, _t

    docs = _t(spark, SF_DIR, "documents").select("doc_id", "source")
    urls = docs.withColumn("url", _synth_url_expr())
    enr = W.attach_registrable_domain(
        urls, W.url_host(F.col("url")), "domain")
    plan = enr._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert enr.count() == urls.count()
