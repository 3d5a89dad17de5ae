"""Physical-plan regression guards: the scale properties the engine
promises must be visible in the executed plans, not just fast today.
Plus the whole-group pandas lambda path (§2.11)."""

import re

import pandas as pd
from pyspark.sql import functions as F

import __spark_entry__ as entry
from fsharp_dataframe_spark.series import Series

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    # _all_queries: plan guards must keep running for queries outside
    # the driver window (DRIVER_WINDOW)
    return entry._all_queries()[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_filter_project_pushes_float_predicates(spark):
    plan = _plan(spark, "filter_project")
    assert "GreaterThan(l_quantity,45.0)" in plan
    assert "LessThan(l_discount," in plan  # plan string truncates the list


def test_group_agg_pushes_date_filter_and_prunes_columns(spark):
    plan = _plan(spark, "group_agg")
    assert "LessThanOrEqual(l_shipdate" in plan
    # projection needs 6 columns; the scan must not read the rest
    schema_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in schema_line and "l_shipmode" not in schema_line


def test_join_broadcast_uses_broadcast_joins(spark):
    plan = _plan(spark, "join_broadcast")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_chunk_sum_has_no_single_partition_exchange(spark):
    plan = _plan(spark, "chunk_sum")
    assert "Exchange SinglePartition" not in plan


def test_asof_grouped_partitions_by_entity(spark):
    plan = _plan(spark, "asof_grouped")
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(user_id" in plan


def test_embed_topk_take_ordered(spark):
    # top-k must be TakeOrderedAndProject, not a full sort
    plan = _plan(spark, "embed_topk")
    assert "TakeOrderedAndProject" in plan


def test_grouped_apply_in_pandas(spark):
    s = Series(
        spark.createDataFrame(
            [("a", 1, 1.0), ("a", 2, 3.0), ("b", 1, 10.0)],
            "g string, key int, value double"),
        key=["g", "key"], value="value")
    gs = s.group_by_level([0])

    def span(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"g": [pdf["g"].iloc[0]],
                             "span": [float(pdf["value"].max() - pdf["value"].min())]})

    out = gs.apply_in_pandas(span, "g string, span double")
    assert {r["g"]: r["span"] for r in out.collect()} == {"a": 2.0, "b": 0.0}


def test_near_dup_lsh_plan_has_no_cartesian_product(spark):
    # the scale-path cascade must never plan an all-pairs join: no
    # CartesianProduct / BroadcastNestedLoopJoin anywhere — candidates
    # come from equi-joins on (tbl, bucket) and id attach joins
    plan = _plan(spark, "embed_near_dup_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_plan_is_equi_join_only(spark):
    plan = _plan(spark, "minhash_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_dist_plan_has_no_single_partition_exchange(spark):
    plan = _plan(spark, "chunk_dist")
    assert "Exchange SinglePartition" not in plan


def test_ivf_topk_prunes_with_cell_filter_and_take_ordered(spark):
    # probe filter reaches the scan as an IN (cells...) predicate (the
    # cell alias is inlined by the optimizer) and the final top-k is
    # TakeOrderedAndProject, not a global sort
    plan = _plan(spark, "ivf_topk")
    assert "TakeOrderedAndProject" in plan
    assert " IN (" in plan


def test_decontaminate_broadcasts_benchmark_semi_join(spark):
    # corpus shingles must probe a BROADCAST left-semi of the benchmark
    # shingle set — a shuffle of the corpus on the shingle key would be
    # the 100 TB bottleneck
    plan = _plan(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    idx = plan.find("LeftSemi")
    assert "SortMergeJoin" not in plan[:idx]  # semi probe not shuffled


def test_hash_split_is_shuffle_free_until_final_agg(spark):
    # the split label is a pure narrow projection: exactly ONE exchange
    # (the 3-group aggregate), nothing for the labelling itself
    plan = _plan(spark, "hash_split")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Exchange SinglePartition" not in plan


def test_pack_shards_has_no_global_window(spark):
    # prefix sums run per-bucket + literal offsets; a global (empty
    # partitionBy) window would plan Exchange SinglePartition
    plan = entry._all_queries()["pack_shards"](spark, SF) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_dedup_clusters_assignment_joins_are_equi(spark):
    plan = _plan(spark, "dedup_clusters")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rep_quality_is_shuffle_free(spark):
    # the repetition metrics are a per-document narrow map: no KEY
    # shuffle anywhere — the only allowed Exchange is spread()'s
    # deliberate round-robin rebalance of a few-file input, which a
    # many-partition production scan wouldn't need.  That property is
    # what lets the same operator run unchanged on a stream and scale
    # linearly
    plan = _plan(spark, "rep_quality")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_corpus_stats_single_shuffle_on_lang(spark):
    # one aggregation shuffle keyed by lang; nothing else moves
    plan = _plan(spark, "corpus_stats")
    assert plan.count("Exchange hashpartitioning(lang") >= 1
    assert "Exchange SinglePartition" not in plan


def test_ivf_train_assignment_never_shuffles_vectors(spark):
    # the trained assignment is a narrow map over broadcast-literal
    # centroids; the only exchange is the final k-row cell aggregate
    from fsharp_dataframe_spark.functions.similarity import ivf_assign, kmeans_fit
    from fsharp_dataframe_spark.sources.parquet import load_table

    emb = load_table(spark, SF, "embeddings")
    cents = kmeans_fit(emb, k=4, max_iter=1)
    plan = ivf_assign(emb, cents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_knn_join_broadcast_path_has_no_pair_join(spark):
    # under the broadcast budget the k-NN self-join is ONE narrow
    # Arrow pass against the shipped matrix: no join operator.  Its
    # one window is the rounded top-k finisher both paths share, over
    # the worker's n·(k + near-ties) rows
    plan = _plan(spark, "knn_join")
    assert "MapInPandas" in plan
    for op in ("SortMergeJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, op
    assert plan.count("Window [") == 1


def test_vocab_topk_is_take_ordered(spark):
    # global top-k must be TakeOrderedAndProject (k rows per partition
    # then k at the driver), never a full sort
    plan = _plan(spark, "vocab_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_incremental_dedup_never_self_joins_existing(spark):
    # the candidate join is new×existing on the shingle key; an
    # existing×existing self-join would defeat the |new|-bounded
    # re-ingest contract.  Cheap structural proxy: no cartesian/NLJ,
    # and the final plan keeps anti-join semantics for the exact tier.
    plan = _plan(spark, "incremental_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan


def test_c4_stats_is_narrow_and_pruned(spark):
    # pure per-document Column exprs: no key shuffle, and the scan
    # reads only doc_id + text.  Pruning is a property of the COLD
    # parquet scan — an earlier test's .cache() of the documents table
    # would otherwise substitute an InMemoryRelation with all columns
    spark.catalog.clearCache()
    plan = _plan(spark, "c4_stats")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    schema_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in schema_line and "lang" not in schema_line


def test_unigram_quality_single_token_shuffles(spark):
    # two token-keyed aggregations (count training, per-doc score) and
    # the score join — no single-partition exchange anywhere
    plan = _plan(spark, "unigram_quality")
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_sessionize_single_shuffle_on_user(spark):
    # ONE Exchange hashpartitioning(user_id) feeds the lag window, the
    # running-sum window AND the per-session aggregate (all share the
    # key); no single-partition exchange anywhere
    plan = _plan(spark, "sessionize")
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(user_id" in plan


def test_bm25_search_filters_before_groupby_and_broadcasts_dfreq(spark):
    # the query-term filter must sit under the tf aggregation (the
    # shuffle carries only matching tokens), df_t arrives by broadcast,
    # and the top-k is TakeOrderedAndProject, not a global sort
    plan = _plan(spark, "bm25_search")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert " IN (merge,spark,vector)" in plan


def test_profile_cols_one_pruned_scan_per_column_no_expand(spark):
    # each union branch scans ONLY its column (ReadSchema one field);
    # no Expand operator (the multi-countDistinct plan shape this
    # implementation exists to avoid)
    spark.catalog.clearCache()
    plan = _plan(spark, "profile_cols")
    assert "Expand" not in plan
    schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert len(schema_lines) == 5
    for l in schema_lines:
        # struct<one_field:type> — exactly one comma-free field list
        assert l.count(":") >= 1 and "," not in l.split("struct<", 1)[1]


def test_retention_no_single_partition_exchange_no_expand(spark):
    plan = _plan(spark, "retention")
    assert "Exchange SinglePartition" not in plan
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan


def test_plan_audit_flags_and_passes(spark):
    from pyspark.sql import functions as F

    from fsharp_dataframe_spark.plan_audit import assert_scales, audit
    from fsharp_dataframe_spark.sources.parquet import load_table

    li = load_table(spark, SF, "lineitem")
    # a scale-clean query: pruned scan, key-partitioned agg
    good = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    assert audit(good) == []
    assert_scales(good)

    # cartesian product
    bad_cross = li.limit(10).crossJoin(li.limit(10).select(
        F.col("l_orderkey").alias("b")))
    assert {k for k, _ in audit(bad_cross)} >= {"cartesian"}

    # row-at-a-time Python UDF
    plus = F.udf(lambda x: x + 1, "long")
    bad_udf = li.select(plus(F.col("l_orderkey")))
    assert {k for k, _ in audit(bad_udf)} >= {"python_udf"}

    # allow-list suppresses accepted smells (the limit(10)s also plan
    # SinglePartition exchanges — accepted here, they carry 10 rows)
    assert audit(bad_cross,
                 allow=("cartesian", "rdd_scan", "single_partition")) == []


# Blanket plan audit over EVERY registered query.  The allow map is
# the documented list of accepted smells — each one bounded by
# construction, not by luck:
#   single_partition — 1-row scalar finals (global min/max, per-column
#     aggregates, 1-row totals) or the bucketed substrate's carry
#     window (n_buckets rows, data-size-independent)
#   cartesian — broadcast crossJoin of a ONE-ROW totals/offsets table
#     (BroadcastNestedLoopJoin by plan, 1 row by construction)
#   rdd_scan — driver-built SMALL literal tables (explicit resample
#     keys, LSH plane literals, fake media, k-row funnel results) or
#     localCheckpoint scans (dedup_clusters' contraction rounds)
_AUDIT_ALLOW = {
    "stats_melt": ("single_partition",),
    "asof_join": ("single_partition",),
    "shift_diff": ("single_partition",),
    "frame_shift_diff": ("single_partition",),
    "resample_keys": ("rdd_scan",),
    "resample_uniform": ("single_partition",),
    "fill_forward": ("cartesian", "single_partition"),
    # linear fill: the n_buckets-row carry-cascade spine (same shape as
    # the directional fill's allowance above)
    "fill_linear": ("single_partition",),
    "drop_missing": ("cartesian", "single_partition"),
    "lookup_time_fwd": ("single_partition",),
    "first_last": ("rdd_scan",),
    "fill_constant": ("cartesian", "single_partition"),
    "drop_sparse": ("cartesian", "single_partition"),
    "lsh_topk": ("rdd_scan",),
    "media_features": ("rdd_scan",),
    "dedup_clusters": ("rdd_scan",),
    # same contraction-round localCheckpoint scans (graph.py)
    "image_dedup_clusters": ("rdd_scan",),
    "dedup_keep_best": ("rdd_scan",),  # same contraction-round checkpoints
    "semantic_dedup": ("rdd_scan",),  # same contraction-round checkpoints
    # the exact small-N tier IS all-pairs by contract (the quadratic
    # oracle baseline; the scale path is embed_near_dup_lsh, audited
    # clean)
    "embed_near_dup": ("cartesian",),
    "lang_mix": ("cartesian", "single_partition"),
    # the capstone embeds the lang_mix stage, so it inherits exactly
    # that stage's one-row-totals allowance (nothing else may smell)
    "training_mix": ("cartesian", "single_partition"),
    # RRF rank windows are global row_numbers over the two k-row
    # top-k lists (k=20 by construction; the corpus halves keep their
    # audited shapes upstream of the LIMITs)
    "hybrid_search": ("single_partition",),
    # same one-row-totals shape as lang_mix (domain-count relation)
    "token_budget": ("cartesian", "single_partition"),
    # the lazy n_keys total (r7 VERDICT "what's wrong" #5 fix): ONE-row
    # distinct-key count cross-joined broadcast, profile.py pattern
    "basket_pairs": ("cartesian", "single_partition"),
    "funnel": ("rdd_scan",),
    "profile_cols": ("single_partition",),
    "key_skew": ("cartesian", "single_partition"),
    # ONE-row final aggregate fanned into d(d-1)/2 literal-labelled
    # selects — every single-partition stage holds exactly one row
    "corr_matrix": ("single_partition",),
    # running sum over the per-DAY relation: the un-keyed window is
    # calendar-bounded (one row per day), not data-bounded
    "daily_activity": ("single_partition",),
    # ONE-row final scalar aggregate (filter-scan-sum, no group key)
    "tpch_q6": ("single_partition",),
    # same ONE-row scalar-aggregate class as tpch_q6 (revenue + count
    # over the disjunction-pruned join — partials are one row per task)
    "tpch_q19": ("single_partition",),
    # the n_buckets-row carry-cascade spine of the bucketed as-of —
    # the same allowance class as fill_linear/asof_join above
    "asof_multikey": ("single_partition",),
    # one-row totals broadcast cross join + the 20-bin spine/terms
    # (the token_budget one-row-totals shape)
    "psi_drift": ("cartesian", "single_partition"),
    # running sum over the 64-bin relation + one-row final ratio
    # (the corr_matrix construction-bounded class)
    "classifier_auc": ("single_partition",),
    # ONE-row aggregate fanned into the L-bounded seq_len table
    "pack_efficiency": ("single_partition",),
    # ONE-row final scalar aggregate; the decorrelated subquery side
    # is a broadcast agg-join (pinned by its dedicated plan test)
    "tpch_q17": ("single_partition",),
    # ONE-row average broadcast cross join (the lang_mix one-row-totals
    # shape); the NOT EXISTS is an equi LEFT ANTI join, pinned below
    "tpch_q22": ("cartesian", "single_partition"),
    # ONE-row max over the persisted supplier-revenue relation (one
    # partial row per partition crosses the exchange), broadcast back
    # as the argmax probe — the tpch_q17/q22 scalar-aggregate class;
    # the single corpus scan is pinned by its dedicated plan test
    "tpch_q15": ("single_partition",),
    # Catalyst-INJECTED bloom-filter runtime filter on the grouped-
    # argmin join-back: a one-row bloom_filter_agg buffer built from
    # the pruned part keys (an optimizer win, not a query smell —
    # the buffer is one fixed-size row by construction)
    "tpch_q2": ("single_partition",),
    # ONE-row (total, n_parts) broadcast cross join back into the
    # persisted part-grain value relation — the tpch_q22 one-row
    # scalar-subquery class
    "tpch_q11": ("cartesian", "single_partition"),
}


def test_every_query_passes_plan_audit(spark):
    """No registered query may grow a scale smell beyond its documented
    allowance — a new SinglePartition exchange or cartesian product in
    ANY registered query fails here before it reaches a cluster."""
    from fsharp_dataframe_spark.functions.util import release_cached
    from fsharp_dataframe_spark.plan_audit import audit

    failures = []
    for name, q in entry._all_queries().items():
        try:
            found = audit(q(spark, SF), allow=_AUDIT_ALLOW.get(name, ()))
        finally:
            release_cached()
        if found:
            failures.append((name, sorted({k for k, _ in found})))
    assert not failures, failures


def test_tpch_q17_subquery_side_is_broadcast_single_scan(spark):
    # the decorrelation contract (VERDICT r9 ask #2): the per-part
    # scalar subquery must come back to the probe as a BROADCAST hash
    # join — never a re-shuffle of the probe stream — and the
    # brand-reduced lineitem slice must be scanned ONCE (persisted),
    # feeding both the aggregate and the probe from the cache
    from fsharp_dataframe_spark.functions.util import release_cached

    try:
        plan = _plan(spark, "tpch_q17")
    finally:
        release_cached()
    # part-keys reduction + per-part aggregate join: both broadcast
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # single corpus scan: both consumers read the persisted slice (the
    # plan STRING reprints the cached relation's build plan under each
    # InMemoryTableScan, so count cache reads, not FileScan lines)
    assert plan.count("InMemoryTableScan") == 2


def test_int8_quantize_single_corpus_scan(spark):
    # r10 (VERDICT r9 ask #5): the exploded (dim, x) relation is
    # persisted, so the scale aggregate and the error pass both read
    # the cache — ONE corpus scan/explode, not two
    from fsharp_dataframe_spark.functions.util import release_cached

    try:
        plan = _plan(spark, "int8_quantize")
    finally:
        release_cached()
    # three dim-bounded consumers (scale agg for the output join, the
    # error probe, the error-side scale broadcast) ALL read the cache;
    # every FileScan line in the string is the cached relation's build
    # plan reprinted under its InMemoryTableScan — none executes a
    # second corpus read
    assert plan.count("InMemoryTableScan") == 3
    assert plan.count("FileScan") == plan.count("InMemoryTableScan")
    assert "SortMergeJoin" not in plan  # scale table rides a broadcast


def test_semantic_dedup_pair_join_is_cell_blocked(spark):
    # the SemDeDup pair tier must plan as an EQUI-join keyed on the
    # coarse cell (candidate work Σ|cell|², shuffle key = cell id) —
    # a cartesian/nested-loop pair join would be the n² cliff the
    # operator exists to avoid
    plan = _plan(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_docs_is_shuffle_free(spark):
    # context-window chunking is a pure narrow map (tokens -> explode
    # of an index sequence -> slice): NO exchange of any kind — it
    # runs at scan speed and preserves the input partitioning for the
    # downstream pack/sink
    plan = _plan(spark, "chunk_docs")
    assert "Exchange" not in plan


def test_embed_project_is_shuffle_free(spark):
    # the JL projection is a literal-matrix narrow map: no exchange,
    # no fit stage, one ArrowEvalPython over the scan
    plan = _plan(spark, "embed_project")
    assert "Exchange" not in plan


def test_quality_classifier_scoring_is_narrow(spark):
    # the returned SCORING plan is a literal-weights Column map over
    # the documents scan — training ran driver-side during build (one
    # tiny aggregate per iteration); the scoring output itself must
    # not shuffle
    plan = _plan(spark, "quality_classifier")
    assert "Exchange" not in plan


def test_tpch_q3_plan_broadcasts_and_heap_selects(spark):
    # the multi-join showcase must: broadcast the filtered customer dim,
    # and plan the global top-10 as TakeOrderedAndProject (per-partition
    # heaps + a 10-row merge), never a full global sort
    plan = _plan(spark, "tpch_q3")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def _tokenizer_nodes(plan):
    # distinct plan nodes that run the word_shingles tokenizer; a cached
    # relation's plan prints once per scan but as the SAME text
    return {re.sub(r"^[\s:|+*-]*", "", line) for line in plan.splitlines()
            if "array_distinct(transform(" in line}


def test_cc_round_has_at_most_three_exchanges(spark):
    # one star-contraction round = large-star window + small-star
    # window + the small-star dropDuplicates; an aggregate joined back
    # onto its input would add exchanges here
    from fsharp_dataframe_spark.functions.graph import (
        _canon, _large_star, _small_star,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 4)], "src long, dst long")
    e = _canon(edges, "src", "dst").localCheckpoint()
    plan = (_small_star(_large_star(e))
            ._jdf.queryExecution().executedPlan().toString())
    assert len(re.findall(r"\bExchange\b", plan)) <= 3, plan


def test_ngram_jaccard_has_no_size_aggregate_or_size_joins(spark):
    # set sizes ride on the exploded rows: the shingle self-join is the
    # plan's only join, and nothing aggregates per document
    plan = _plan(spark, "ngram_jaccard")
    assert len(re.findall(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)",
                          plan)) == 1, plan
    assert not re.search(r"HashAggregate\(keys=\[doc_id#\d+L?\]", plan), plan


def test_near_dedup_tokenizes_once(spark):
    # one persisted (doc_id, _sh) relation feeds the MinHash explode and
    # both verify probes: a single tokenizing projection, and every
    # explode reads the cached array instead of re-tokenizing
    plan = _plan(spark, "near_dedup")
    nodes = _tokenizer_nodes(plan)
    assert len(nodes) == 1 and next(iter(nodes)).startswith("Project"), nodes
    explodes = re.findall(r"Generate explode\((\w+)#", plan)
    assert explodes and set(explodes) == {"_sh"}, explodes
