"""Round-10 wave-7 operators: PII masking apply (q199) and
sub-document passage containment (q200)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.functions import dedup as D
from sarfile_analyzer_ng_spark.functions import text as TX

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------------------ #
# PII redaction (q199)
# ------------------------------------------------------------------ #

def test_pii_redact_masks_all_types(spark):
    rows = [
        (1, "mail me at jo.doe+x@corp.example.org or call 555-123-4567"),
        (2, "server 192.168.0.12 and 10.0.0.1 are fine"),
        (3, "no pii here at all"),
        (4, "two mails a@b.co and c.d@e.f.org plus 555-000-1111"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           TX.pii_redact(df, "text", "doc_id").collect()}
    assert (got[1].n_emails, got[1].n_phones, got[1].n_ips) == (1, 1, 0)
    assert got[2].n_ips == 2 and got[2].n_pii == 2
    assert got[3].n_pii == 0
    assert (got[4].n_emails, got[4].n_phones) == (2, 1)
    # the md5 is over the REDACTED text: same pii, same mask, same md5
    df2 = spark.createDataFrame(
        [(9, "mail me at other.person@corp.example.org or call 555-999-0000")],
        "doc_id long, text string")
    r9 = TX.pii_redact(df2, "text", "doc_id").collect()[0]
    r1b = TX.pii_redact(
        spark.createDataFrame(
            [(8, "mail me at x@y.zz or call 555-111-2222")],
            "doc_id long, text string"),
        "text", "doc_id").collect()[0]
    assert r9.redacted_md5 == r1b.redacted_md5  # masks erase the identity


def test_pii_redact_leaves_clean_text_alone(spark):
    df = spark.createDataFrame([(1, "plain words only")],
                               "doc_id long, text string")
    r = TX.pii_redact(df, "text", "doc_id").collect()[0]
    import hashlib

    assert r.redacted_md5 == hashlib.md5(b"plain words only").hexdigest()


def test_q199_plan_is_map_only(spark):
    from sarfile_analyzer_ng_spark.queries import q199_pii_redact

    plan = q199_pii_redact(spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


# ------------------------------------------------------------------ #
# passage containment (q200)
# ------------------------------------------------------------------ #

def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_containment_finds_excerpt(spark):
    base_words = [f"w{i}" for i in range(32)]          # 4 passages
    excerpt = " ".join(base_words[:16]) + " tailA tailB tailC tailD tailE tailF tailG tailH"
    rows = [
        (1, " ".join(base_words)),
        (2, excerpt),                                   # 2 of 3 passages shared
        (3, " ".join(f"z{i}" for i in range(32))),      # unrelated
    ]
    out = {(r.doc_a, r.doc_b): r for r in
           D.passage_containment_pairs(_mk(spark, rows), "text",
                                       "doc_id").collect()}
    assert set(out) == {(1, 2)}
    r = out[(1, 2)]
    assert (r.n_shared, r.n_pass_a, r.n_pass_b) == (2, 4, 3)
    assert r.containment == pytest.approx(2 / 3, abs=1e-4)


def test_containment_hot_passage_cap(spark):
    # one boilerplate passage shared by 40 docs + unique remainders:
    # with the cap below 40 the quadratic pair family disappears
    boiler = " ".join(f"b{i}" for i in range(8))
    rows = [(i, boiler + " " + " ".join(f"u{i}x{j}" for j in range(8)))
            for i in range(40)]
    uncapped = D.passage_containment_pairs(_mk(spark, rows), "text",
                                           "doc_id")
    n_un = uncapped.count()
    capped = D.passage_containment_pairs(_mk(spark, rows), "text",
                                         "doc_id", max_df=10)
    n_cap = capped.count()
    assert n_un == 40 * 39 // 2 and n_cap == 0


def test_containment_vs_jaccard_story(spark):
    # the excerpt's doc-level 3-gram jaccard is far below any dedup
    # threshold while containment is high — the operator's reason
    base_words = [f"w{i}" for i in range(96)]          # 12 passages
    rows = [
        (1, " ".join(base_words)),
        (2, " ".join(base_words[:24]) + " "
            + " ".join(f"t{j}" for j in range(8))),    # 3/4 passages shared
    ]
    out = D.passage_containment_pairs(_mk(spark, rows), "text",
                                      "doc_id").collect()
    assert len(out) == 1 and out[0].containment == 0.75
    jac = D.ngram_jaccard_pairs(_mk(spark, rows), "text", "doc_id",
                                threshold=0.0)
    jrows = jac.collect()
    D.release(jac)
    assert jrows and jrows[0].jaccard < 0.3


# ------------------------------------------------------------------ #
# curation funnel v2 (q201)
# ------------------------------------------------------------------ #

def test_funnel_v2_stage_accounting(spark):
    from sarfile_analyzer_ng_spark.queries import q201_curation_funnel_v2

    rows = {r.stage_no: r for r in
            q201_curation_funnel_v2(spark, SF_DIR).collect()}
    assert [rows[i].stage for i in range(1, 6)] == [
        "url_canonical_dedup", "domain_policy_gate", "exact_text_dedup",
        "boilerplate_passage_audit", "quality_gate"]
    # the chain composes: each stage starts where the previous ended
    assert rows[2].n_in == rows[1].n_kept
    assert rows[3].n_in == rows[2].n_kept
    assert rows[5].n_in == rows[3].n_kept
    # every stage balances
    for i in (1, 2, 3, 5):
        r = rows[i]
        assert r.n_in - r.n_kept == r.n_dropped >= 0
    # the plants fire: re-fetches die at stage 1, blocked domains at
    # stage 2, mirrors at stage 3, boilerplate shows in the audit
    assert rows[1].n_dropped > 0
    assert rows[2].n_dropped > 0
    assert rows[3].n_dropped > 0
    assert rows[4].n_dropped > 0
    assert rows[4].n_kept == rows[4].n_in  # audit, not a cut


def test_funnel_v2_mirror_survives_url_dies_at_text(spark):
    # a cross-domain mirror has a unique canonical URL (stage 1 can't
    # see it) but identical text (stage 3 must kill it)
    from sarfile_analyzer_ng_spark.queries import (_funnel2_crawl,
                                                   FUN2_MIRROR_OFFSET)
    from sarfile_analyzer_ng_spark.functions import web as W2

    crawl = _funnel2_crawl(spark, SF_DIR).withColumn(
        "c", W2.canonical_url(F.col("url")))
    mirrors = crawl.where(F.col("doc_id") >= FUN2_MIRROR_OFFSET)
    n_mirror = mirrors.count()
    assert n_mirror > 0
    # every mirror URL canonicalizes to something NO base row has —
    # URL dedup structurally cannot collapse a cross-domain mirror
    overlap = mirrors.select("c").join(
        crawl.where(F.col("doc_id") < FUN2_MIRROR_OFFSET).select("c"),
        "c").count()
    assert overlap == 0
    assert mirrors.select("c").distinct().count() == n_mirror


# ------------------------------------------------------------------ #
# crawl-frontier novelty (q202)
# ------------------------------------------------------------------ #

def test_url_frontier_reoffers_vs_fresh(spark):
    from sarfile_analyzer_ng_spark.queries import q202_url_frontier

    rows = q202_url_frontier(spark, SF_DIR).collect()
    assert rows and all(0.0 <= r.novelty_rate <= 1.0 for r in rows)
    assert all(r.n_novel <= r.n_batch for r in rows)
    # fresh /v2/ candidates are all-novel; re-offers mostly collapse
    assert any(r.novelty_rate == 1.0 for r in rows)
    assert any(r.novelty_rate < 1.0 for r in rows)
