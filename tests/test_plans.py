"""Plan assertions: the scale properties SURVEY.md §4 promises must be
visible in the physical plan — pushdown reaching the scan, broadcast
for dimensions, no Python UDF in JVM-only paths, no global sort for
top-k."""

from __future__ import annotations


from sarfile_analyzer_ng_spark.queries import (
    q01_pricing_summary,
    q04_time_filter,
    q16_alias_join,
    q18_topk,
    q37_lang_id,
    q38_quality_score,
)

from .conftest import SF_DIR
import pytest

pytestmark = pytest.mark.driver  # driver-facing gate (see conftest)


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_time_filter_pushdown(spark):
    df = q04_time_filter(spark, SF_DIR)
    text = formatted(df)
    assert "PushedFilters" in text
    # the ts predicate must reach the scan, not sit in a post-filter only
    assert "IsNotNull(ts)" in text or "GreaterThanOrEqual(ts" in text


def test_projection_pruned_to_used_columns(spark):
    df = q01_pricing_summary(spark, SF_DIR)
    text = formatted(df)
    schema_line = [l for l in text.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in schema_line  # unused column pruned
    assert "l_quantity" in schema_line


def test_dim_join_broadcasts(spark):
    df = q16_alias_join(spark, SF_DIR)
    assert "BroadcastHashJoin" in plan(df)


def test_topk_no_global_sort(spark):
    df = q18_topk(spark, SF_DIR)
    assert "TakeOrderedAndProject" in plan(df)


def test_no_python_udf_in_jvm_paths(spark):
    for fn in (q01_pricing_summary, q04_time_filter, q37_lang_id):
        assert "BatchEvalPython" not in plan(fn(spark, SF_DIR))
        assert "ArrowEvalPython" not in plan(fn(spark, SF_DIR))


def test_whole_stage_codegen_active(spark):
    df = q01_pricing_summary(spark, SF_DIR)
    df.collect()  # AQE finalizes the plan only on execution
    text = plan(df)
    assert "WholeStageCodegen" in text or "*(" in text  # *(n) = codegen stage marker


def _exchange_keys(df):
    import re

    df.collect()
    text = df._jdf.queryExecution().executedPlan().toString()
    found = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", text)
    return {f.rsplit(",", 1)[0].strip() for f in found}


def test_asof_join_is_single_shuffle(spark):
    from sarfile_analyzer_ng_spark.queries import q25_asof_join

    keys = _exchange_keys(q25_asof_join(spark, SF_DIR))
    # one distinct exchange: the per-key window over the unioned sides
    assert len(keys) == 1


def test_salted_agg_two_stage_exchanges(spark):
    from sarfile_analyzer_ng_spark.queries import q27_salted_agg

    keys = _exchange_keys(q27_salted_agg(spark, SF_DIR))
    assert len(keys) == 2  # (key, salt) partial + key merge
    assert any("_salt" in k for k in keys)


def test_percentiles_distributed_rank_single_materialization(spark):
    """percentiles() computes fragment ranks and fragment counts from
    the same range-partitioned sort; that frame is persisted, so BOTH
    branches must read the one cached materialization (identical
    partition ids for the rank-offset join) rather than re-running the
    range exchange — and no per-group hash window over the fact data
    may appear (that would serialize each group into one task)."""
    from sarfile_analyzer_ng_spark.queries import q03_percentiles

    df = q03_percentiles(spark, SF_DIR)
    df.collect()  # AQE finalizes stages only on execution
    text = plan(df)
    # both consumers (fragment offsets + rank join) read the cache
    assert text.count("TableCacheQueryStage") >= 2
    assert "rangepartitioning" in text
    # ranks come from the sorted-partition row ids + fragment offsets
    assert "_pid" in text
    for dep in getattr(df, "_cached_inputs", ()):
        dep.unpersist()


def test_mix_apply_broadcasts_weights_no_corpus_shuffle_join(spark):
    from sarfile_analyzer_ng_spark.queries import q66_mix_apply

    text = plan(q66_mix_apply(spark, SF_DIR))
    # the 4-row weights frame must broadcast; the corpus side must
    # never sort-merge against it
    assert "BroadcastHashJoin" in text
    assert "SortMergeJoin" not in text


def test_quality_filter_pure_jvm_no_python(spark):
    from sarfile_analyzer_ng_spark.queries import q70_quality_filter

    text = plan(q70_quality_filter(spark, SF_DIR))
    assert "BatchEvalPython" not in text
    assert "ArrowEvalPython" not in text


def test_quality_score_counts_each_feature_once(spark):
    """regexp_count plans as size(regexp_extract_all(...)), one string
    per match, and counts inlined into CASE branches escape
    subexpression elimination. quality_score must project each count
    once: one word and one stopword extraction, and the whitespace and
    punctuation classes counted by length differences."""
    import re

    text = plan(q38_quality_score(spark, SF_DIR))

    def extractions(arg):
        return len(re.findall(r"regexp_extract_all\(" + arg, text))

    assert extractions(r"text#\d+, \\S\+, ") == 1
    assert extractions(r"lower\(text#\d+\), \\b\(the\|") == 1
    assert extractions(r"text#\d+, \\s, ") == 0
    assert extractions(r"text#\d+, \[\^A-Za-z0-9\\s\], ") == 0


def test_chunking_is_map_only_no_exchange(spark):
    from sarfile_analyzer_ng_spark.queries import q71_chunk_documents

    text = plan(q71_chunk_documents(spark, SF_DIR))
    # split->sequence->explode->slice is a pure map pipeline; the only
    # acceptable exchange is fan_out's round-robin repartition
    assert "SortMergeJoin" not in text and "BroadcastHashJoin" not in text
    exchanges = [l for l in text.splitlines() if "Exchange" in l]
    assert all("RoundRobin" in l or "REPARTITION" in l for l in exchanges), exchanges


def test_kmeans_twin_broadcasts_centroids(spark):
    from sarfile_analyzer_ng_spark.queries import q72_kmeans_twin

    text = plan(q72_kmeans_twin(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in text or "BroadcastHashJoin" in text
    assert "CartesianProduct" not in text


def test_winnow_windows_are_doc_partitioned(spark):
    """The winnowing scale claim: every window in the plan partitions
    by doc — a single-partition window (empty partitionBy) would
    serialize the corpus through one task at 100 TB."""
    from sarfile_analyzer_ng_spark.queries import q79_winnow_fingerprints

    df = q79_winnow_fingerprints(spark, SF_DIR)
    p = plan(df)
    assert "Window" in p
    import re

    # every Window operator's partition spec must mention doc
    for m in re.finditer(r"Window \[(.*?)\], \[(.*?)\]", p):
        spec = m.group(0)
        assert "doc" in spec, f"unpartitioned window: {spec[:120]}"
    # pure JVM: no Python eval anywhere in the winnow pipeline
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_dup_rate_by_source_broadcasts_dims(spark):
    """q78 joins the (tiny) source dim twice — both must broadcast,
    and the pair frame must not shuffle for them."""
    from sarfile_analyzer_ng_spark.queries import q78_dup_rate_by_source

    df = q78_dup_rate_by_source(spark, SF_DIR)
    p = plan(df)
    assert p.count("BroadcastHashJoin") >= 2


def test_decontaminate_winnow_broadcasts_eval_fps(spark):
    """q81's eval fingerprint set must be the broadcast side; the
    train fingerprints stream through a broadcast join."""
    from sarfile_analyzer_ng_spark.queries import q81_decontaminate_winnow

    df = q81_decontaminate_winnow(spark, SF_DIR)
    assert "BroadcastHashJoin" in plan(df)


def test_semdedup_prunes_inside_cluster_partitions(spark):
    """SemDeDup's scale contract: the quadratic pruning runs as ONE
    Arrow stage grouped by cluster — the plan must show the
    FlatMapGroupsInPandas preceded by a cluster-keyed exchange, and
    no pair-row join materialization anywhere."""
    from sarfile_analyzer_ng_spark.queries import q82_semdedup

    df = q82_semdedup(spark, SF_DIR)
    p = plan(df)
    assert "FlatMapGroupsInPandas" in p
    assert "hashpartitioning(cluster" in p
    # pruning must NOT be a pair self-join (CartesianProduct or a
    # cluster-keyed SortMergeJoin of the corpus against itself feeding
    # the Python stage would mean pair rows materialize)
    assert "CartesianProduct" not in p


def test_dsir_weight_table_broadcasts(spark):
    """DSIR's scale contract: the ≤ n_buckets-row weight table is the
    broadcast side of the per-doc join — the (doc, bucket) counts
    must never shuffle to meet it — and no Python stage exists."""
    from sarfile_analyzer_ng_spark.queries import q83_dsir_weights

    df = q83_dsir_weights(spark, SF_DIR)
    p = plan(df)
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_unigram_logprob_model_broadcasts(spark):
    """q84's model (V-row vocab + two scalar masses) must broadcast
    into the token stream — the corpus-sized token frame never
    shuffles to meet the model — and the vocab cut must be a
    TakeOrdered, not a global sort."""
    from sarfile_analyzer_ng_spark.queries import q84_unigram_logprob

    df = q84_unigram_logprob(spark, SF_DIR)
    p = plan(df)
    assert p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin") >= 3
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_curation_funnel_composes_without_python(spark):
    """q85's whole funnel must stay JVM-side (quality regexes, md5
    window, winnow fingerprints are all codegen) with the eval
    fingerprint set broadcast into the train scan."""
    from sarfile_analyzer_ng_spark.queries import q85_curation_funnel

    df = q85_curation_funnel(spark, SF_DIR)
    p = plan(df)
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_cluster_profile_broadcasts_term_df(spark):
    """q86's document-frequency frame (≤ vocabulary-size rows) must
    broadcast into the per-cluster term counts; the top-k is a
    per-cluster window, not a global sort; no Python stage."""
    from sarfile_analyzer_ng_spark.queries import q86_cluster_profile

    df = q86_cluster_profile(spark, SF_DIR)
    p = plan(df)
    assert "BroadcastHashJoin" in p
    assert "hashpartitioning(cluster" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_perplexity_buckets_window_is_source_partitioned(spark):
    """q87's decile window must partition by source — an empty
    partitionBy would serialize the corpus through one task."""
    import re

    from sarfile_analyzer_ng_spark.queries import q87_perplexity_buckets

    df = q87_perplexity_buckets(spark, SF_DIR)
    p = plan(df)
    for m in re.finditer(r"Window \[ntile.*?\], \[(.*?)\]", p):
        assert "source" in m.group(0), m.group(0)[:120]
    assert "ntile" in p


def test_bloom_probe_is_broadcast_map_stage(spark):
    """q88's probe side must be a pure map over the scan with the
    1-row bitmap broadcast in — no shuffle of the probed corpus, no
    Python stage."""
    from sarfile_analyzer_ng_spark.queries import q88_bloom_membership

    df = q88_bloom_membership(spark, SF_DIR)
    p = plan(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_new_family_scans_prune_unused_columns(spark):
    """Scale hygiene for the round-5 operators: their documents scans
    must NOT read the unused n_chars/lang columns — a scan that pulls
    every column for a 2-3 column pipeline re-reads the corpus at
    100 TB."""
    from sarfile_analyzer_ng_spark.queries import (
        q83_dsir_weights,
        q84_unigram_logprob,
        q89_source_diversity,
        q92_eval_containment,
    )

    for fn in (q83_dsir_weights, q84_unigram_logprob,
               q89_source_diversity, q92_eval_containment):
        f = formatted(fn(spark, SF_DIR))
        schemas = [l for l in f.splitlines() if "ReadSchema" in l]
        assert schemas, fn.__name__
        assert all("n_chars" not in l for l in schemas), fn.__name__


def test_passage_dedup_has_no_window_or_per_hash_sort(spark):
    """q94's first-occurrence selection must be a combinable min-key
    AGGREGATE per passage hash, never a row_number window — a window
    would sort every occurrence of a hot boilerplate passage inside
    one task."""
    from sarfile_analyzer_ng_spark.queries import q94_passage_dedup

    p = plan(q94_passage_dedup(spark, SF_DIR))
    assert "Window" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bigram_logprob_stream_is_map_side(spark):
    """q95's (w, prev) pair stream builds MAP-SIDE (r12): the token
    array zips against its own shifted copy, so the plan carries no
    lag window (the old shape shuffled+sorted every token) — and the
    whole scoring path stays JVM-side."""
    from sarfile_analyzer_ng_spark.queries import q95_bigram_logprob

    p = plan(q95_bigram_logprob(spark, SF_DIR))
    assert "Window [lag" not in p and "zip_with" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pq_adc_distance_table_broadcasts(spark):
    """q98: the queries x m x k distance table must broadcast into the
    code join (only codes stream), and pure-ADC ranking has no Python
    stage."""
    from sarfile_analyzer_ng_spark.queries import q98_pq_adc_topk

    p = plan(q98_pq_adc_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_pq_rerank_touches_only_the_shortlist(spark):
    """q99: the exact re-rank joins the Q x R shortlist back to the
    vectors - the query-vector side must broadcast."""
    from sarfile_analyzer_ng_spark.queries import q99_pq_rerank

    p = plan(q99_pq_rerank(spark, SF_DIR))
    assert "BroadcastHashJoin" in p


def test_keep_best_window_partitioned_by_rep(spark):
    """q96's ranking window must partition by the cluster
    representative, never run unpartitioned."""
    import re

    from sarfile_analyzer_ng_spark.queries import q96_dedup_keep_best

    p = plan(q96_dedup_keep_best(spark, SF_DIR))
    wins = re.findall(r"Window \[row_number.*", p)
    assert wins and all("rep" in w for w in wins)


def test_temperature_mix_scan_prunes_to_source_and_text(spark):
    from sarfile_analyzer_ng_spark.queries import q93_temperature_mix

    f = formatted(q93_temperature_mix(spark, SF_DIR))
    schemas = [l for l in f.splitlines() if "ReadSchema" in l]
    assert schemas
    assert all("n_chars" not in l and "doc_id" not in l for l in schemas)


def test_budget_trim_single_source_shuffle_and_rows_frame(spark):
    """q105's running sum must cost exactly ONE data shuffle (the
    source-keyed window exchange) and use an explicit ROWS frame —
    the RANGE default would merge quality ties into one cum value
    and over-keep at the budget edge."""
    from sarfile_analyzer_ng_spark.queries import q105_budget_trim

    df = q105_budget_trim(spark, SF_DIR)
    p = plan(df)
    assert p.count("Exchange hashpartitioning") == 1
    # Catalyst prints the frame kind: RowFrame (wanted) vs RangeFrame
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "RowFrame" in analyzed and "RangeFrame" not in analyzed
    # quality features stay JVM-side
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_quality_classifier_training_agg_is_map_side_combinable(spark):
    """Z47's gradient aggregate must be a partial-then-final
    HashAggregate pair over the scan (map-side combine carries the
    reduction; the shuffle moves 5 numbers per task, not rows)."""
    from pyspark.sql import functions as F

    from sarfile_analyzer_ng_spark.functions import classify as C
    from sarfile_analyzer_ng_spark.queries import _qc_features, QC_FEATURES

    feats = _qc_features(spark, SF_DIR)
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in QC_FEATURES]
    resid = C.logreg_sigmoid(C.logreg_margin(xs, [0.0] * 5)) - F.col(
        "label"
    ).cast("double")
    grad = feats.agg(
        *[F.sum(resid * x).alias(f"g{j}") for j, x in enumerate(xs)]
    )
    p = plan(grad)
    assert p.count("HashAggregate") == 2  # partial + final
    assert "Exchange SinglePartition" in p  # 5 numbers per task move
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_repeated_spans_is_jvm_side_and_combinable(spark):
    """q106's gram counting must be a partial/final HashAggregate pair
    (map-side combine carries the per-hash reduction) with no Python
    in the row path — the whole detector is JVM-side."""
    from sarfile_analyzer_ng_spark.queries import q106_repeated_spans

    p = plan(q106_repeated_spans(spark, SF_DIR))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("HashAggregate") >= 2  # partial + final gram count


def test_vocab_coverage_topv_is_distributed_heap_and_broadcast(spark):
    # the top-V vocabulary must be a TakeOrderedAndProject (distributed
    # heap), never a single-partition global window sort, and the
    # bounded vocab must BROADCAST into the OOV join
    from sarfile_analyzer_ng_spark.queries import q110_vocab_coverage

    p = plan(q110_vocab_coverage(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastExchange" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_decon_semantic_broadcasts_eval_and_partial_aggs(spark):
    # the eval suite broadcasts (nested-loop join against the
    # broadcast side — the scored stream never shuffles |train|x|eval|
    # rows: the groupBy partial-aggregates map-side first)
    from sarfile_analyzer_ng_spark.queries import q108_decon_semantic

    p = plan(q108_decon_semantic(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "partial_max" in p or "HashAggregate" in p


def test_pca_iteration_model_rides_as_literals(spark):
    # the power-iteration model must ride as LITERAL arrays in the
    # plan (broadcast via the plan itself, no join against a model
    # frame) and no Python may run in the projection
    from sarfile_analyzer_ng_spark.functions import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    comps, _mu, centered = S.pca_power_topd_train(
        emb, "vec_id", "embedding", dim=64, n_components=1, iters=1)
    p = plan(S.pca_topd_project(centered, "vec_id", comps))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p      # model is literal, not a joined frame


def test_r8_portable_dedup_stays_jvm_side(spark):
    """The portable md5+affine MinHash/SimHash pipelines (q31/q32)
    must stay whole-stage-codegen JVM paths — no Python anywhere —
    and q32's banding must not smuggle in a window sort."""
    from sarfile_analyzer_ng_spark.queries import (
        q31_dedup_minhash,
        q32_dedup_simhash,
    )

    for fn in (q31_dedup_minhash, q32_dedup_simhash):
        p = plan(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
            fn.__name__
        )
    assert "Window" not in plan(q32_dedup_simhash(spark, SF_DIR))


def test_assembly_funnel_broadcasts_narrow_frames_no_python(spark):
    """q119: the end-to-end assembly is one Catalyst plan — pure JVM
    (every stage is built-ins), the per-source threshold/extent
    frames broadcast, and the packing window partitions by shard."""
    import re

    from sarfile_analyzer_ng_spark.queries import q119_training_assembly

    p = plan(q119_training_assembly(spark, SF_DIR))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p
    # the pack stage's running sum partitions by shard, the sample and
    # trim windows by source — never an unpartitioned global window
    wins = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", p)
    assert wins and all(spec.strip() for spec in wins), p[:500]


def test_calibration_report_no_sort_no_python(spark):
    """q120: reliability bins are fixed-width over the observed range
    — a map + two aggregations; no ntile, no global sort, the 1-row
    extent frame broadcast (BroadcastNestedLoopJoin on a 1-row side
    is the cross join's cheapest legal shape)."""
    from sarfile_analyzer_ng_spark.queries import (
        q120_classifier_calibration,
    )

    p = plan(q120_classifier_calibration(spark, SF_DIR))
    assert "Window" not in p
    assert "ntile" not in p.lower()


def test_incremental_near_dups_no_cartesian_no_python(spark):
    """q121: the batch x ref screen must join on band keys — never a
    cartesian product — and stay JVM-side end to end."""
    from sarfile_analyzer_ng_spark.queries import (
        q121_incremental_near_dups,
    )

    p = plan(q121_incremental_near_dups(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_image_dup_pairs_hot_band_droplist_broadcasts(spark):
    """q117: the max_df hot-band drop list must broadcast into a
    left-anti join (a bounded list, never a shuffled side)."""
    from sarfile_analyzer_ng_spark.queries import q117_image_dup_pairs

    p = plan(q117_image_dup_pairs(spark, SF_DIR))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_bm25_broadcasts_query_side_no_python(spark):
    """q124: the bounded query-term frames must BROADCAST into the
    postings join (nothing query-sized shuffles the corpus), the
    top-k cut must be a rank window — not a global sort of scored
    pairs — and the whole plan stays JVM-side."""
    from sarfile_analyzer_ng_spark.queries import q124_bm25_topk

    p = plan(q124_bm25_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_kn_bigram_lag_window_is_doc_partitioned(spark):
    """q126: the lag window must partition by doc (never a global
    sort), and the count-table joins stay JVM-side."""
    from sarfile_analyzer_ng_spark.queries import q126_kn_bigram_logprob

    df = q126_kn_bigram_logprob(spark, SF_DIR)
    p = plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    keys = _exchange_keys(df)
    assert any(k.startswith("doc") for k in keys)


def test_zipf_head_sort_is_bounded_takeordered(spark):
    """q125: the rank head must come from a TakeOrderedAndProject over
    the vocab agg — the corpus-sized token stream must never feed a
    global Sort."""
    from sarfile_analyzer_ng_spark.queries import q125_zipf_stats

    p = plan(q125_zipf_stats(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_hybrid_rrf_pools_join_without_corpus_shuffle_surprises(spark):
    """q134: both retrieval pools are query-bounded, so the fusion
    layer must contain no cartesian and no Python; the BM25 side's
    query frames broadcast as in q124."""
    from sarfile_analyzer_ng_spark.queries import q134_hybrid_rrf

    p = plan(q134_hybrid_rrf(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p


def test_snapshot_diff_projects_fingerprints_before_join(spark):
    """q135: document text must never cross the diff join — the scan
    projects (id, source, md5, length) and the join's output carries
    no text column."""
    from sarfile_analyzer_ng_spark.queries import q135_snapshot_diff

    df = q135_snapshot_diff(spark, SF_DIR)
    text = formatted(df)
    join_lines = [l for l in text.splitlines() if "SortMergeJoin" in l
                  or "ShuffledHashJoin" in l]
    assert join_lines, text
    p = plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the full-outer join operates on hashed columns, not raw text
    assert "md5" in p


def test_cms_counters_are_two_combinable_aggs(spark):
    """q136: the sketch build must be partial-agg combinable (HashAgg
    pairs around one exchange per stage) with no window, no sort, no
    Python anywhere."""
    from sarfile_analyzer_ng_spark.queries import q136_count_min

    p = plan(q136_count_min(spark, SF_DIR))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # counters broadcast into the probe


def test_boilerplate_cut_no_pair_join_no_window(spark):
    """q137: df-threshold removal never enumerates pairs — the plan
    must contain no cartesian and no window (reassembly is a groupBy
    collect_list, the q94 shape)."""
    from sarfile_analyzer_ng_spark.queries import q137_boilerplate_cut

    p = plan(q137_boilerplate_cut(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "Window" not in p
    assert "BatchEvalPython" not in p


def test_trend_fit_single_shuffle_window_then_agg(spark):
    """q138: the min window and the moment agg share the series key —
    exactly one exchange for the fact table, everything JVM-side."""
    from sarfile_analyzer_ng_spark.queries import q138_trend_fit

    df = q138_trend_fit(spark, SF_DIR)
    p = plan(df)
    assert "BatchEvalPython" not in p
    # one exchange feeding the window; the groupBy reuses its output
    n_exchanges = p.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, p  # window + (AQE-coalesced) final agg


def test_capacity_forecast_single_shuffle_no_python(spark):
    """q147: same contract as q138 — the min window and the moment agg
    share the series key; everything JVM-side."""
    from sarfile_analyzer_ng_spark.queries import q147_capacity_forecast

    p = plan(q147_capacity_forecast(spark, SF_DIR))
    assert "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_lag_correlation_explodes_grid_not_facts(spark):
    """q148: the lag fan-out (Generate/explode) must sit ABOVE the
    grid aggregation — the literal lag array multiplies the hourly
    grid, never the fact scan — and the pair join is an equi-join
    (no cartesian), all JVM-side."""
    from sarfile_analyzer_ng_spark.queries import q148_lag_correlation

    p = plan(q148_lag_correlation(spark, SF_DIR))
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    # explode feeds on the aggregated grid: in the plan tree the
    # Generate node's subtree must contain the first HashAggregate
    gen_at = p.index("Generate explode")
    agg_at = p.index("HashAggregate")
    assert agg_at < gen_at or "partial" in p[:gen_at].lower(), p


def test_ndcg_audit_joins_result_frames_without_corpus_rescan(spark):
    """q150 consumes two ranked RESULT frames; the final fuse is an
    equi-join + two aggs with no Python and no cartesian."""
    from sarfile_analyzer_ng_spark.queries import q150_bm25_ndcg_audit

    p = plan(q150_bm25_ndcg_audit(spark, SF_DIR))
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_soft_dedup_weights_corpus_side_never_shuffles(spark):
    """q149: the corpus joins the (bounded) member->size map; the big
    side must stream through a broadcast join, not shuffle."""
    from pyspark.sql import functions as F

    from sarfile_analyzer_ng_spark.functions import dedup as D

    corpus = spark.range(0, 10_000).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text"))
    clusters = spark.range(0, 20).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("rep"))
    p = plan(D.soft_dedup_weights(corpus, clusters, "doc_id"))
    assert "BroadcastHashJoin" in p, p
    assert "BatchEvalPython" not in p


def test_cluster_silhouette_broadcasts_centroids(spark):
    """q151: the k-row centroid frame broadcasts into the scoring
    join (BroadcastNestedLoopJoin over a k-row side is the intended
    cross-join shape); no Python in the scoring path."""
    from sarfile_analyzer_ng_spark.queries import q151_cluster_silhouette

    p = plan(q151_cluster_silhouette(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "BatchEvalPython" not in p


def test_rm3_feedback_frame_broadcasts_no_python(spark):
    """q154: the |queries|*k feedback frame must broadcast into the
    postings join; no cartesian, no Python."""
    from sarfile_analyzer_ng_spark.queries import q154_rm3_expansion

    p = plan(q154_rm3_expansion(spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_jl_projection_out_dim_cross_is_broadcast(spark):
    """q155's projection half: the out_dim literal range broadcasts
    into the component cross (BroadcastNestedLoopJoin over a 16-row
    side), and the whole thing stays JVM-side."""
    from sarfile_analyzer_ng_spark.catalog import load_table
    from sarfile_analyzer_ng_spark.functions import similarity as S

    emb = load_table(spark, SF_DIR, "embeddings")
    p = plan(S.jl_project(emb, "vec_id", "embedding", 16))
    assert "BroadcastNestedLoopJoin" in p, p
    assert "BatchEvalPython" not in p


def test_pagerank_rounds_are_joins_plus_aggs_no_cartesian(spark):
    """q158: each unrolled round is an edge-keyed join + combinable
    agg; the only cross join is the broadcast one-row node count."""
    from sarfile_analyzer_ng_spark.queries import q158_dup_pagerank

    p = plan(q158_dup_pagerank(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_auc_ranks_distinct_scores_not_corpus(spark):
    """q161: the rank cumulation runs over the distinct-score frame —
    the corpus-sized side must not appear under a Sort/Window."""
    from sarfile_analyzer_ng_spark.queries import q161_classifier_auc

    df = q161_classifier_auc(spark, SF_DIR)
    p = plan(df)
    assert "BatchEvalPython" not in p
    # exactly one Window (the below-count cumulation on the distinct
    # frame); a corpus-wide ranking would add per-row windows
    assert p.count("Window") <= 2, p


def test_ks_drift_no_corpus_sort(spark):
    from sarfile_analyzer_ng_spark.queries import q160_ks_drift

    p = plan(q160_ks_drift(spark, SF_DIR))
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p or "BroadcastNestedLoopJoin" in p


def test_heaps_law_single_pass_no_python(spark):
    from sarfile_analyzer_ng_spark.queries import q163_heaps_law

    p = plan(q163_heaps_law(spark, SF_DIR))
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_bigram_entropy_doc_keyed_window_no_python(spark):
    """q165: the lead window must partition by the doc id — a global
    adjacency window would serialize the corpus."""
    from sarfile_analyzer_ng_spark.queries import q165_bigram_entropy

    df = q165_bigram_entropy(spark, SF_DIR)
    p = plan(df)
    assert "BatchEvalPython" not in p
    import re

    wins = re.findall(r"Window \[.*?partitionBy.*?\]|Window \[[^\]]*\]", p)
    assert any("doc" in w for w in wins), p


# bench.py, tools/bench_subset.py and tools/dump_plans.py resolve these
# ``_memo_*`` lines by name
MEMO_NAMES = {
    "_memo_ann_brute", "_memo_bigram_lm", "_memo_bm25_champs",
    "_memo_bm25_exact", "_memo_html_blocks", "_memo_html_blocks_audit",
    "_memo_html_blocks_crawl", "_memo_hybrid_rrf", "_memo_ivf_topk",
    "_memo_jaccard_pairs", "_memo_kmeans_assign", "_memo_minhash_pairs_portable",
    "_memo_minhash_sigs", "_memo_outlink_graph", "_memo_pca_model",
    "_memo_postings", "_memo_qc_scored", "_memo_ql_topk",
    "_memo_shingle_hash_rows", "_memo_simhash_sigs", "_memo_span_dup",
    "_memo_trap_audit", "_memo_unigram_lm",
}


def test_memo_builders_names():
    from sarfile_analyzer_ng_spark.queries import memo_builders

    assert set(memo_builders()) == MEMO_NAMES


@pytest.mark.parametrize("name", ["_memo_html_blocks",
                                  "_memo_shingle_hash_rows"])
def test_session_memo_rearms_after_clear_cache(spark, name):
    """A memo hit returns the same frame and re-caches it after an
    external clearCache (bench clears between reps); a new session
    builds its own frame. Both memos build lazily, so no job runs."""
    from sarfile_analyzer_ng_spark.queries import memo_builders

    build = memo_builders()[name]
    df = build(spark, SF_DIR)
    assert build(spark, SF_DIR) is df
    spark.catalog.clearCache()
    assert not df.storageLevel.useMemory
    assert build(spark, SF_DIR) is df
    assert df.storageLevel.useMemory
    assert build(spark.newSession(), SF_DIR) is not df
