"""curate_funnel: first-rejecting-stage attribution semantics on
hand-crafted documents, and the q85 composition plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.functions import pipeline as P

from .conftest import SF_DIR

# 24 words, English stopword-rich, low punctuation — passes the
# C4/Gopher gate.
GOOD = ("the quick brown fox jumps over the lazy dog and then runs "
        "down to the wide river bank where the water is cold today")
GOOD2 = ("a small grey cat sat on the warm stone wall and watched the "
         "busy street below for most of the long afternoon hours")
EVAL = ("every model should be tested on data that was never part of "
        "the training corpus or the reported numbers are not real")


def _funnel(spark, train_rows, eval_rows):
    train = spark.createDataFrame(
        train_rows, "doc_id long, text string, source string"
    )
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    out = P.curate_funnel(train, ev, "text", "doc_id", "source")
    return {r["doc_id"]: r["stage"] for r in out.collect()}


def test_funnel_attributes_first_rejecting_stage(spark):
    rows = [
        (1, GOOD, "a"),            # clean -> kept
        (2, GOOD, "a"),            # exact dup of 1 -> duplicate
        (3, "too short", "a"),     # fails quality
        (4, "too short", "a"),     # ALSO a dup of 3 -> but quality wins
        (5, EVAL, "b"),            # verbatim eval copy -> contaminated
        (6, GOOD2, "b"),           # clean -> kept
    ]
    got = _funnel(spark, rows, [(900, EVAL)])
    assert got == {1: "kept", 2: "duplicate", 3: "quality",
                   4: "quality", 5: "contaminated", 6: "kept"}


def test_funnel_dedup_ranks_only_quality_passing_docs(spark):
    # a quality-REJECTED smaller id must not shadow the clean copy:
    # doc 10 fails quality, doc 11 (same text plus padding to pass?) —
    # instead: two clean dups where the smaller id failed quality for
    # an unrelated reason is impossible with identical text, so plant
    # a rejected doc with DIFFERENT text and assert independence,
    # plus the kept copy of a dup pair is the SMALLEST id.
    rows = [
        (20, GOOD, "a"),
        (7, GOOD, "a"),   # smaller id wins the dup group
        (8, "x", "a"),
    ]
    got = _funnel(spark, rows, [(900, EVAL)])
    assert got == {7: "kept", 20: "duplicate", 8: "quality"}


def test_funnel_contamination_needs_contiguous_overlap(spark):
    # shares vocabulary with the eval doc but no k+w-1-word run:
    # winnow decon must NOT flag it (scattered overlap stays quiet)
    shuffled = ("tested never part was that data corpus training on the "
                "numbers reported real not are model every should be of "
                "or some more padding words to clear the length gate")
    got = _funnel(spark, [(30, shuffled, "a")], [(900, EVAL)])
    assert got == {30: "kept"}


def test_assemble_training_data_funnel_semantics(spark):
    """r8: the assembly funnel's cross-stage invariants on a
    hand-sized corpus — sampling keeps at most k per source, the trim
    never exceeds the budget, packing preserves the chunked token
    mass exactly, and epoch addressing multiplies the trimmed mass by
    the epoch count."""
    rows = []
    for s, src in enumerate(("web", "code")):
        for i in range(12):
            did = s * 1000 + i
            words = " ".join(
                f"w{did}x{j} the of and to in is" for j in range(3 + i)
            )
            rows.append((did, src, words))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = P.assemble_training_data(
        docs, "text", "doc_id", "source", k_per_source=5,
        budget_tokens=150, chunk_tokens=8, overlap=2, capacity=16,
        num_shards=4, epochs=3,
    )
    got = {(r["source"], r["stage"]): (r["n_units"], r["n_tokens"])
           for r in out.collect()}
    for src in ("web", "code"):
        assert got[(src, "corpus")][0] == 12
        assert got[(src, "sampled")][0] == 5          # exactly k
        assert got[(src, "trimmed")][1] <= 150        # budget honored
        assert got[(src, "trimmed")][0] <= 5
        # packing preserves the chunked token mass
        assert got[(src, "packed")][1] == got[(src, "chunked")][1]
        # chunking with overlap never loses tokens
        assert got[(src, "chunked")][1] >= got[(src, "trimmed")][1]
        # epoch addressing: exactly epochs x trimmed
        assert got[(src, "shuffled")][0] == 3 * got[(src, "trimmed")][0]
        assert got[(src, "shuffled")][1] == 3 * got[(src, "trimmed")][1]


def test_assemble_with_source_weights(spark):
    """r9: the optional DoReMi weighting stage — a uniform mixture
    reproduces the unweighted funnel exactly, while a skewed mixture
    resizes each source's sample to k·S·weight (floor 1)."""
    rows = []
    for s, src in enumerate(("web", "code")):
        for i in range(12):
            did = s * 1000 + i
            words = " ".join(
                f"w{did}x{j} the of and to in is" for j in range(3 + i)
            )
            rows.append((did, src, words))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    def run(weights):
        sw = (spark.createDataFrame(weights, "source string, weight double")
              if weights is not None else None)
        out = P.assemble_training_data(
            docs, "text", "doc_id", "source", k_per_source=5,
            budget_tokens=150, chunk_tokens=8, overlap=2, capacity=16,
            num_shards=4, epochs=3, source_weights=sw,
        )
        return {(r["source"], r["stage"]): (r["n_units"], r["n_tokens"])
                for r in out.collect()}

    base = run(None)
    uniform = run([("web", 0.5), ("code", 0.5)])
    assert uniform == base
    skewed = run([("web", 0.8), ("code", 0.2)])
    assert skewed[("web", "sampled")][0] == 8      # 5 * 2 * 0.8
    assert skewed[("code", "sampled")][0] == 2     # 5 * 2 * 0.2
    # downstream stages still hold their invariants
    assert skewed[("web", "trimmed")][1] <= 150
    assert skewed[("web", "packed")][1] == skewed[("web", "chunked")][1]


def test_doremi_weights_trajectory(spark):
    """r9: the DoReMi multiplicative-weights chain — weights start
    uniform, stay normalized (sum 1 within rounding) every step, and
    monotonically favor the source with the larger excess loss."""
    from sarfile_analyzer_ng_spark.functions import text as TX

    docs = spark.createDataFrame(
        [(i, "easy" if i < 6 else "hard") for i in range(12)],
        "doc_id long, source string",
    )
    # synthetic score frames: the proxy lags the reference on 'hard'
    ref = spark.createDataFrame(
        [(i, -2.0) for i in range(12)], "doc_id long, avg_logp double")
    prox = spark.createDataFrame(
        [(i, -2.5 if i < 6 else -4.0) for i in range(12)],
        "doc_id long, avg_logp double")
    out = TX.doremi_weights(docs, "doc_id", "source", ref, prox,
                            iters=4)
    rows = out.collect()
    by_step: dict[int, dict[str, float]] = {}
    for r in rows:
        by_step.setdefault(r["step"], {})[r["source"]] = r["weight"]
    assert len(by_step) == 5
    assert by_step[0] == {"easy": 0.5, "hard": 0.5}
    prev_hard = 0.5
    for t in range(1, 5):
        w = by_step[t]
        assert abs(sum(w.values()) - 1.0) < 1e-6     # normalized
        assert w["hard"] > w["easy"]                 # DRO upweights hard
        assert w["hard"] >= prev_hard - 1e-9
        prev_hard = w["hard"]
    # excess loss: L_proxy - L_ref clipped at 0, averaged per source
    ex = {r["source"]: r["excess_loss"] for r in rows}
    assert ex["easy"] == 0.5 and ex["hard"] == 2.0
    # smoothing keeps every source alive
    assert min(by_step[4].values()) >= TX.DOREMI_SMOOTH / 2 - 1e-9


def test_snapshot_diff_classifies_all_four_statuses(spark):
    old = spark.createDataFrame(
        [(1, "s1", "alpha"), (2, "s1", "beta"), (3, "s2", "gamma")],
        "doc_id long, source string, text string",
    )
    new = spark.createDataFrame(
        [(2, "s1", "beta"), (3, "s2", "gamma CHANGED"), (4, "s2", "delta")],
        "doc_id long, source string, text string",
    )
    rows = {(r["status"], r["source"]): (r["n_docs"], r["n_chars"])
            for r in P.snapshot_diff(old, new, "doc_id", "text").collect()}
    assert rows[("removed", "s1")] == (1, len("alpha"))
    assert rows[("unchanged", "s1")] == (1, len("beta"))
    assert rows[("changed", "s2")] == (1, len("gamma CHANGED"))
    assert rows[("added", "s2")] == (1, len("delta"))


def test_snapshot_diff_null_text_still_diffs(spark):
    """NULL text coalesces to '' on both sides — the doc classifies as
    a real row (changed when the other side has content)."""
    old = spark.createDataFrame(
        [(1, "s", None)], "doc_id long, source string, text string"
    )
    new = spark.createDataFrame(
        [(1, "s", "now has text")], "doc_id long, source string, text string"
    )
    rows = P.snapshot_diff(old, new, "doc_id", "text").collect()
    assert len(rows) == 1
    assert rows[0]["status"] == "changed"
