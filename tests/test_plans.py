"""Physical-plan assertions: the properties that make these queries viable
at 100 TB, locked in as tests so a refactor can't silently regress them.

Checked against the optimized (pre-AQE-finalization) executed plan string —
the same evidence a human reads from .explain("formatted").
"""

from __future__ import annotations

import pytest

from inbev_data_engineering_case_spark.queries import CATALOG

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = CATALOG[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_all_dims(spark):
    plan = _plan(spark, "q_join_star")
    # every dim side broadcasts; the fact side never shuffles for the joins
    assert plan.count("BroadcastHashJoin") == 5, plan
    assert "SortMergeJoin" not in plan
    # the only hash-partition exchange is the final aggregation's
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_filters_reach_the_scan(spark):
    plan = _plan(spark, "q_join_orders")
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan, plan


def test_column_pruning_reaches_the_scan(spark):
    plan = _plan(spark, "q_project")
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>" in plan, plan


def test_topk_avoids_global_sort(spark):
    plan = _plan(spark, "q_orderby_limit")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_aggregation_is_two_phase(spark):
    plan = _plan(spark, "q_gold_agg")
    # partial (map-side) + final HashAggregate around one exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_asof_join_has_no_row_explosion(spark):
    plan = _plan(spark, "q_asof_join")
    # union-merge form: a window over the union — never a join of left
    # events against all earlier right rows
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_broadcasts_band_dim(spark):
    plan = _plan(spark, "q_range_join")
    assert "BroadcastNestedLoopJoin" in plan, plan  # tiny inequality side


def test_rollup_is_single_expand_pass(spark):
    plan = _plan(spark, "q_rollup")
    assert plan.count("Expand") == 1, plan
    # one scan of lineitem, not one per grouping set
    assert plan.count("FileScan parquet") == 1, plan


def test_aqe_splits_skewed_join_partition(spark):
    """A hot join key (90% of rows) must not serialize the join onto one
    task: AQE's skew-join optimization splits the oversized partition at
    runtime. Thresholds are lowered to make the tiny test corpus register
    as skewed; on real data the defaults (256MB) apply."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 10 < 9, 0)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        joined = left.join(right, "k")
        assert len(joined.collect()) == 300_000
        # the ADAPTIVE final plan (same QueryExecution as the collect)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert "skewed" in plan, plan  # AQEShuffleRead ... skewed
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_whole_stage_codegen_covers_normalization(spark):
    df = CATALOG["q_clean_text"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    assert "*(1) Project" in plan, plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


def test_minhash_pair_dedup_exchange_is_narrow(spark):
    """The pair-dedup distinct must shuffle (id_a, id_b, est_jaccard) only
    — never the signature arrays — and must partially aggregate map-side
    before the exchange (the band join's output is the largest
    intermediate in the pipeline at scale)."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        minhash_dedup_pairs(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    exchanges = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    dedup_exchanges = [line for line in exchanges if "id_a" in line]
    assert dedup_exchanges, plan
    for line in dedup_exchanges:
        assert "sig" not in line, line
    # partial dedup before the exchange: two HashAggregates on the keys
    assert plan.count("HashAggregate(keys=[id_a") == 2, plan


def test_sliding_window_is_expand_plus_one_exchange(spark):
    """The 1h/30min sliding window must plan as Expand (one row per
    window/slide bucket) feeding a two-phase aggregate with a single
    exchange — NOT a self-join or a per-window scan."""
    plan = _plan(spark, "q_sliding_window")
    assert "Expand" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_multiprobe_ann_stays_bucket_local(spark):
    """Multi-probe re-bucketing must not degrade the candidate join: every
    probe remains a bucket equi-join (broadcast on the query side), never
    a cartesian/nested-loop fallback."""
    from inbev_data_engineering_case_spark.operators.similarity import (
        ann_bucketed_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from pyspark.sql import functions as F

    plan = (
        ann_bucketed_topk(emb, emb.filter(F.col("vec_id") < 5), k=3, n_probes=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # since r15 every probe seed buckets in ONE corpus scan and the
    # candidate join keys on (probe, bucket): a single broadcast
    # equi-join carries all three probes (was one join per probe)
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("Scan parquet") == 2, plan  # corpus + query side


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The corpus side must never shuffle against the benchmark: gram
    matching is a broadcast hash join. The only exchanges are the
    benchmark-side distinct (tiny by construction) and the final per-doc
    aggregation (carrying matched grams only) — the corpus itself flows
    scan → explode → join with no exchange."""
    plan = _plan(spark, "q_decontaminate")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_sampling_and_qa_scans_are_shuffle_free(spark):
    """Membership-by-hash sampling and the corpus-QA projections must stay
    single-pass scans: no exchange of any kind — the whole point of
    hash-Bernoulli over RNG sampling and expression-only QA scoring."""
    for name in ("q_stratified_sample", "q_repetition", "q_pii_scrub"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, (name, plan)


def test_corpus_shuffle_limit_takes_ordered(spark):
    """The epoch-shuffle preview plans as TakeOrderedAndProject — no full
    global sort materializes for the limited form."""
    plan = _plan(spark, "q_corpus_shuffle")
    assert "TakeOrdered" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


@pytest.mark.slow
def test_no_row_at_a_time_python_across_catalog(spark):
    """UDF policy lock for the WHOLE catalog: no BatchEvalPython (per-row
    Python UDF) in any batch query's physical plan. Arrow-batched
    MapInPandas / FlatMapGroupsInPandasWithState are the only Python
    operators allowed. Queries that execute work during construction
    (streams drain, iterative algorithms run jobs) are skipped here —
    their own tests cover them."""
    from inbev_data_engineering_case_spark.queries import CATALOG

    skip = {
        "q_stream_tumbling", "q_stream_join", "q_stream_sessionize",
        "q_dedup_components", "q_ann_ivf_trained",
    }
    offenders = []
    for name, spec in CATALOG.items():
        if name in skip:
            continue
        plan = spec.fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_funnel_has_no_event_side_nested_loop(spark):
    """Funnel steps join on user_id only (equi-joins); the single
    BroadcastNestedLoopJoin allowed is the 1-row conversion denominator
    (a scalar subquery in join form) — never event-vs-event."""
    plan = _plan(spark, "q_event_funnel")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_tfidf_prunes_scan_to_id_and_text(spark):
    plan = _plan(spark, "q_tfidf_topk")
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_boilerplate_hot_set_broadcasts(spark):
    """The hot-gram set joins back onto the gram stream as a broadcast
    (the default); the gram exchange carries 8-byte hashes, and no plan
    node ever sorts the gram universe."""
    plan = _plan(spark, "q_boilerplate")
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_pq_codebook_and_lut_broadcast_encode_is_aggregate(spark):
    """PQ search: codebook + LUT joins broadcast (model-sized sides);
    the encode argmin is a packed-int min AGGREGATE, not a window over
    the k-way candidate fanout — the only Window is the final per-query
    top-k ranking."""
    plan = _plan(spark, "q_ann_pq")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # encode never windows over (vector, subspace) — argmin is min()
    assert "windowspecdefinition(vec_id" not in plan, plan
    # the per-query rank pushes the limit into the shuffle (top-k, no sort)
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bm25_index_path_pushes_term_filter_to_stored_tf(spark, tmp_path):
    """The materialized-index claim, plan-locked: bm25_from_index's tf
    scan carries the query terms as PushedFilters (In(term, ...)), so a
    term-bucketed/sorted index prunes at the parquet level — the
    per-query input is term-filtered storage, never the corpus."""
    from inbev_data_engineering_case_spark.operators.relevance import (
        bm25_from_index,
        build_text_index,
    )
    from inbev_data_engineering_case_spark.sources.readers import (
        read_parquet_table,
    )

    docs = read_parquet_table(spark, SF, "documents")
    idx = str(tmp_path / "bm25idx")
    build_text_index(docs, idx)
    df = bm25_from_index(spark, idx, ["data", "spark"], k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(term" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ann_index_path_broadcasts_model_sides(spark, tmp_path):
    """ann_from_index's probe plan: every model-sized side (centroids
    for the query assign, probed query cells, the ADC LUT) broadcasts;
    the only exchanges key on the candidate aggregation and the
    per-query ranking — never a cartesian or a range sort."""
    from inbev_data_engineering_case_spark.operators.similarity import (
        ann_from_index,
        build_ann_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "annidx")
    build_ann_index(emb, idx, n_centroids=8, m=4, k=8)
    df = ann_from_index(
        spark, idx, emb.filter("vec_id < 5"), k_neighbors=5, n_probe=2
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_dist_drift_is_two_scans_with_broadcast_bounds(spark):
    """distribution_drift's plan: the probe boundaries and the two
    1-row ECDF aggregates join as BROADCASTS (nested-loop on 1-row
    sides is fine — no data-sized shuffle), and nothing range-sorts;
    each side is one scan + one partial-aggregated indicator pass.
    The bounds row is pinned (localCheckpoint), so the main plan
    carries EXACTLY two corpus scans — in exact AND approx (GK
    sketch) mode; before the pin, each of the three bounds references
    re-ran the full reference scan (5 scans observed)."""
    import re

    from pyspark.sql import functions as F

    plan = _plan(spark, "q_dist_drift")
    assert "Exchange rangepartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan

    from inbev_data_engineering_case_spark.operators.quality import (
        distribution_drift,
    )
    from inbev_data_engineering_case_spark.sources.readers import (
        read_events,
    )

    ev = read_events(spark, SF)
    ref = ev.filter(F.col("event_id") % 2 == 0).select("value")
    cur = ev.filter(F.col("event_id") % 2 == 1).select("value")
    for approx in (False, True):
        p = (
            distribution_drift(ref, cur, "value", n_cuts=5, approx=approx)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert len(re.findall(r"Scan parquet", p)) == 2, (approx, p)
        assert "Exchange rangepartitioning" not in p, (approx, p)
        assert "CartesianProduct" not in p, (approx, p)


def test_containment_hot_set_broadcasts_and_join_is_gram_keyed(spark):
    """Containment's candidate join keys on the 8-byte gram hash (hash
    exchanges only — never a range sort or cartesian), and the
    corpus-hot gram set removes via a BROADCAST anti-join (the
    boilerplate/dedup-spans discipline). Since r15 the hot-filtered
    gram table is materialized once for its three consumers, so the
    anti-join shape is asserted on the frame the operator materializes
    (``dedup._informative_grams`` — the exact pre-materialization
    subtree) while the no-cartesian/no-range locks stay on the full
    query plan."""
    plan = _plan(spark, "q_containment")
    assert "CartesianProduct" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan

    from inbev_data_engineering_case_spark.operators.dedup import (
        _informative_grams,
        build_gram_table,
    )

    grams = build_gram_table(_hot_toggle_fixture(spark), 3).select(
        "doc_id", "gram_h"
    )
    sub = (
        _informative_grams(grams, 4, True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in sub and "LeftAnti" in sub, sub
    assert "CartesianProduct" not in sub, sub
    assert "Exchange rangepartitioning" not in sub, sub


def _hot_toggle_fixture(spark):
    # 8 templated docs (the header grams go hot at max_gram_df=4) plus
    # one genuine quote-inclusion pair on informative grams, so the
    # identity check compares non-empty results
    quote = "the quick brown fox jumps over the lazy dog tonight"
    return spark.createDataFrame(
        [(i, "shared header row " + ("alpha beta " * 3)
          + f"unique tail {i} " * 4) for i in range(8)]
        + [(100, quote), (101, quote + " and then some longer text "
                          "follows the quoted passage here")],
        "doc_id long, text string",
    )


def _hot_toggle_plans(spark, op, **kw):
    """Physical plans of an operator under broadcast_hot True/False on
    a tiny planted-boilerplate fixture."""
    df = _hot_toggle_fixture(spark)
    plans = {}
    for flag in (True, False):
        plans[flag] = (
            op(df, broadcast_hot=flag)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    return plans


def test_containment_hot_anti_join_keyed_under_both_strategies(spark):
    """broadcast_hot only picks the PHYSICAL strategy of the hot-gram
    removal: under True the anti-join broadcasts, under False (the
    100 TB setting — the hot set scales with corpus vocabulary past
    any broadcast limit) it degrades to a shuffle on the SAME 8-byte
    gram key. Both stay gram-keyed: no cartesian, no range sort, and
    the results are identical."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        containment_pairs,
    )

    from inbev_data_engineering_case_spark.operators.dedup import (
        _informative_grams,
        build_gram_table,
    )

    op = lambda d, **kw: containment_pairs(  # noqa: E731
        d, n=3, max_gram_df=4, threshold_ppm=100_000, **kw
    )
    # the hot removal materializes since r15, so its join shape is
    # asserted on the exact frame the operator materializes
    grams = build_gram_table(_hot_toggle_fixture(spark), 3).select(
        "doc_id", "gram_h"
    )
    for flag in (True, False):
        plan = (
            _informative_grams(grams, 4, flag)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, plan
        assert "Exchange rangepartitioning" not in plan, plan
        assert "LeftAnti" in plan, plan
    for flag, plan in _hot_toggle_plans(spark, op).items():
        assert "CartesianProduct" not in plan, plan
        assert "Exchange rangepartitioning" not in plan, plan
    df = _hot_toggle_fixture(spark)
    rows = {
        flag: sorted(map(tuple, op(df, broadcast_hot=flag).collect()))
        for flag in (True, False)
    }
    assert rows[True] == rows[False] and rows[True]


def test_dedup_spans_hot_anti_join_keyed_under_both_strategies(spark):
    """dedup_spans' hot-span removal under broadcast_hot True/False:
    fp-keyed anti-join in both modes (no cartesian, no range sort),
    broadcast vs shuffle is the only difference — and the rebuilt
    documents are identical."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        dedup_spans,
    )

    op = lambda d, **kw: dedup_spans(  # noqa: E731
        d, span_tokens=4, max_docs=3, **kw
    )
    plans = _hot_toggle_plans(spark, op)
    for flag, plan in plans.items():
        assert "CartesianProduct" not in plan, plan
        assert "Exchange rangepartitioning" not in plan, plan
        assert "LeftAnti" in plan, plan
    df = _hot_toggle_fixture(spark)
    rows = {
        flag: sorted(map(tuple, op(df, broadcast_hot=flag).collect()))
        for flag in (True, False)
    }
    assert rows[True] == rows[False] and rows[True]


def test_skew_report_plans_takeordered(spark):
    plan = _plan(spark, "q_skew_report")
    assert "TakeOrdered" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_histogram_has_no_sort(spark):
    """Equi-depth histogram: percentile boundaries + CASE bucketing +
    count — never a global sort of the data."""
    plan = _plan(spark, "q_histogram")
    assert "Exchange rangepartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_resample_grid_join_is_equi(spark):
    """Grid-to-observation join runs on (key, bucket) equi keys — no
    nested-loop over event data; the only BNLJ-free plan also proves the
    per-key sequence explode replaced a calendar cartesian."""
    plan = _plan(spark, "q_resample_ffill")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_fuzzy_match_joins_on_block_keys(spark):
    """The levenshtein self-join is block-local: an equi-join on the
    blocking keys with the distance filter applied post-join — never an
    unconditioned all-pairs nested loop."""
    plan = _plan(spark, "q_fuzzy_match")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "levenshtein" in plan, plan


def test_mixture_sample_broadcasts_rates(spark):
    """The corpus-side pass joins only broadcast model-sized tables
    (rates, budget) — the documents scan itself never shuffles."""
    plan = _plan(spark, "q_mixture_sample")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_zorder_key_is_pure_projection_plus_bounds(spark):
    """Morton key: one 1-row bounds aggregate broadcast into a codegen'd
    projection — no shuffle of the data itself."""
    plan = _plan(spark, "q_zorder_key")
    assert "Exchange rangepartitioning" not in plan, plan
    # the only exchange is the single-row bounds aggregation
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_ivf_pq_candidates_are_cell_bounded(spark):
    """IVF-PQ: candidate generation joins corpus cells against BROADCAST
    query cells; scoring joins broadcast codes/LUT — never a cartesian,
    and the raw query vectors never join the corpus."""
    plan = _plan(spark, "q_ann_ivf_pq")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "WindowGroupLimit" in plan, plan


def test_lm_scoring_model_is_joined_not_collected(spark):
    """The bigram model joins as a table (partial-aggregated counts on
    the bigram key); nothing collects to the driver and nothing goes
    cartesian. One tokenize subtree feeds train and score."""
    plan = _plan(spark, "q_lm_perplexity")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final x counts


def test_scd2_windows_share_one_key_exchange(spark):
    plan = _plan(spark, "q_scd2_history")
    # both window passes (version boundary + interval chaining) partition
    # on the dimension key, so Catalyst plans ONE exchange for the whole
    # history rebuild — no second shuffle for the lead() pass
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan


def test_zscore_is_single_pass_on_the_key(spark):
    plan = _plan(spark, "q_anomaly_zscore")
    # window sums, the score, and the integer flag all ride one exchange
    # on the series key; everything after it is Column arithmetic
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan


def test_sketch_partials_aggregate_map_side(spark):
    plan = _plan(spark, "q_sketch_rollup")
    # sketches merge in the partial-aggregation phase, so the exchange
    # carries one sketch per (group, bucket) — bytes, not raw rows
    assert "partial_hll_sketch_agg" in plan, plan
    assert "partial_hll_union_agg" in plan, plan


def test_url_and_html_rewrites_are_shuffle_free_scans(spark):
    # the per-row rewrite chains plan as pure projections: the ONLY
    # exchange in q_url_normalize is its final canonical-key group-by,
    # and q_html_strip has none at all
    plan = _plan(spark, "q_html_strip")
    assert "Exchange" not in plan, plan
    plan = _plan(spark, "q_url_normalize")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime Bloom-filter join pruning (the selective fact-to-fact
    shuffle reducer): with the engagement thresholds lowered to fixture
    scan sizes — at 100 TB the defaults engage unaided — Spark injects
    might_contain() on the probe side BEFORE its exchange, so
    non-matching fact rows die map-side (a probe measured ~80% of the
    probe-side rows pruned on this join)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        sel = orders.filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        joined = lineitem.join(sel, lineitem.l_orderkey == sel.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_semantic_decon_broadcasts_benchmark(spark):
    plan = _plan(spark, "q_semantic_decon")
    # eval-set side broadcasts with its buckets; the corpus never
    # shuffles and the pair space is bucket-local, never all-pairs
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_sample_takes_ordered(spark):
    plan = _plan(spark, "q_weighted_sample")
    # top-k by the A-ES key: TakeOrderedAndProject, never a global sort
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan


@pytest.mark.slow
def test_daily_budget_spend_keeps_the_family_locks(spark):
    """q_daily_budget (r15): the incremental pipeline's budget spend
    inherits the select_within_budget_by_stratum scale locks — no
    RangePartitioning exchange (the delta never globally sorts) and no
    per-row Python — composed through curate_incremental."""
    plan = _plan(spark, "q_daily_budget")
    assert "rangepartitioning" not in plan.lower(), plan
    assert "BatchEvalPython" not in plan


def test_image_dedup_pairs_are_bucket_local(spark):
    """q_image_dedup (r15): the dHash self-join is bucket-keyed, never
    all-pairs — no cartesian product, no nested-loop join; the decode
    is the only Python and it is Arrow-batched (MapInPandas, never
    BatchEvalPython)."""
    plan = _plan(spark, "q_image_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
