"""Plan-shape regression tests: the properties that matter at 100 TB
(pushdown, pruning, broadcast, codegen) hold on the headline queries."""

import pytest

from petastorm_spark.plans.checks import (
    codegen_stage_count,
    count_broadcast_joins,
    has_pushed_filters,
    read_schema_columns,
)
from petastorm_spark.queries import QUERIES


def test_scan_projection_prunes_and_pushes(spark, sf_dir):
    df = QUERIES["scan_projection"](spark, sf_dir)
    assert has_pushed_filters(df)
    cols = read_schema_columns(df)
    # 5 of 11 lineitem columns read (4 projected + shipdate filter)
    assert set(cols) == {
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_shipdate",
    }


def test_q1_pushes_shipdate_filter(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    assert has_pushed_filters(df)
    assert "l_partkey" not in read_schema_columns(df)  # pruned


def test_q3_broadcasts_dimensions(spark, sf_dir):
    df = QUERIES["q3_shipping_priority"](spark, sf_dir)
    assert count_broadcast_joins(df) >= 1


def test_q5_broadcast_chain(spark, sf_dir):
    df = QUERIES["q5_local_supplier_volume"](spark, sf_dir)
    # all four dimension joins broadcast; no shuffle-side dim join
    assert count_broadcast_joins(df) >= 3


def test_headline_queries_are_codegen(spark, sf_dir):
    for name in ("q1_pricing_summary", "pred_in_set", "text_stats"):
        df = QUERIES[name](spark, sf_dir)
        assert codegen_stage_count(df) >= 1, name


def test_reader_plan_projection_reaches_scan(spark, sf_dir):
    from petastorm_spark.reader import make_batch_reader

    with make_batch_reader(
        f"{sf_dir}/lineitem.parquet", spark=spark, schema_fields=["l_orderkey"]
    ) as r:
        assert read_schema_columns(r.dataframe) == ["l_orderkey"]


def test_topk_has_no_per_query_corpus_funnel(spark, sf_dir):
    """Round-1 verdict #1: the per-query top-k must do a
    partition-local pass first — the full scored set may never be
    range/hash-partitioned on query_id alone (one corpus-sized sorted
    task per query). r17 shape: the single rank<=k window is planned
    as WindowGroupLimit(Partial) BELOW the query_id exchange, so each
    map partition ships at most k rows per query — same guarantee as
    the old hand-rolled (_pid, query_id) pre-window, one exchange and
    one sort cheaper."""
    from petastorm_spark.operators.similarity import cosine_topk
    from petastorm_spark.plans.checks import formatted_plan

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = cosine_topk(emb, emb.where("vec_id < 10"), k=5)
    plan = formatted_plan(df)
    # in formatted output children print AFTER parents, so the partial
    # (pre-exchange, map-side) WindowGroupLimit must appear after the
    # exchange line in text order, and there must be two of them
    # (Partial below the exchange, Final above it)
    assert plan.count("WindowGroupLimit") >= 2, plan
    tree = plan.split("\n\n", 1)[0]
    exch = tree.index("Exchange")
    assert "WindowGroupLimit" in tree[exch:], (
        "no map-side WindowGroupLimit below the query_id exchange:\n" + plan
    )


def test_pseudorandom_split_single_scan(spark, sf_dir):
    """Round-1 verdict #10: the 3-way split must read orders ONCE (CASE
    bucket column), not once per subset."""
    from petastorm_spark.plans.checks import formatted_plan

    df = QUERIES["pred_pseudorandom_split"](spark, sf_dir)
    assert formatted_plan(df).count("ReadSchema") == 1


def test_near_dup_verify_keyed_on_candidates(spark, sf_dir):
    """Round-2 verdict #7: near_dup_pairs' Jaccard verify must join the
    candidate pairs to per-doc shingle SETS by id — the exploded
    shingle column may appear as a join key only inside the LSH banding
    (band, band-hash), never as an `sh = sh` inverted-index self-join."""
    from petastorm_spark.operators.dedup import near_dup_pairs
    from petastorm_spark.plans.checks import formatted_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(near_dup_pairs(docs, "text", "doc_id"))
    import re

    assert "id_a" in plan and "id_b" in plan
    # the banded join keys on (band, bh); a raw postings self-join would
    # key two exploded `sh` columns against each other
    assert not re.search(r"\bsh#\d+ = sh#\d+", plan), "inverted-index join found"
    # round-3 verdict #3: ONE tokenize pass — both the signature branch
    # and the verify branch must read the persisted shingle-set table
    # (InMemoryTableScan), not recompute split()+shingling from parquet.
    # (formatted explain re-prints the cached subtree under each scan,
    # so split() textual counts overcount; cache scans are the pin.)
    assert plan.count("InMemoryTableScan") >= 2, "shingle sets not read from cache"
    # the minhash signature aggregate is present (since the first-match
    # banding rewrite the mh_N aliases collapse into the band-hash
    # projection, so pin the min((h1 + s*h2) % MOD) aggregate shape and
    # the banded posexplode instead of the alias names)
    assert re.search(r"min\(\(\(h1#\d+", plan), "minhash aggregate missing"
    assert "posexplode(bhs" in plan, "banded first-match explode missing"


def test_text_repetition_single_scan_no_join(spark, sf_dir):
    """Round-5 verdict #2 follow-through: repetition_signals reads the
    corpus ONCE (stats ride the aggregations as first()s, no join back
    to a second tokenize pass) and the bigram shuffle key is the
    xxhash64 of the token pair, never the bigram string."""
    from petastorm_spark.plans.checks import formatted_plan

    plan = formatted_plan(QUERIES["text_repetition"](spark, sf_dir))
    assert plan.count("ReadSchema") == 1, "corpus scanned more than once"
    assert "Join" not in plan, "join-back formulation resurfaced"
    assert "xxhash64" in plan


def test_cap_per_group_two_phase_topk(spark, sf_dir):
    """cap_per_source must rank partition-locally before the per-group
    shuffle (two Window stages, the first keyed on the partition id) so
    a hot group never funnels unbounded rows through one task."""
    from petastorm_spark.plans.checks import formatted_plan

    plan = formatted_plan(QUERIES["cap_per_source"](spark, sf_dir))
    assert plan.count("Window (") >= 2 or plan.count("Window") >= 2
    assert "hashpartitioning(_pid" in plan, plan


def test_embedding_pairs_single_exchange_reused(spark, sf_dir):
    """Round-5 verdict: the bucket-count window and both self-join
    sides of dedup_embedding_pairs share ONE exchange (second side a
    runtime ReusedExchange/stage). Requires the shuffle_hash hint (a
    small corpus otherwise goes broadcast, whose build side re-executes
    the whole scan+window subtree), subset co-partitioning
    (requireAllClusterKeysForCoPartition=false), and non-null join keys
    (else IsNotNull pushes a second full sign-pattern evaluation into
    the scan). AQE resolves reuse at runtime, so this inspects the
    EXECUTED plan after an action, not the static one."""
    df = QUERIES["dedup_embedding_pairs"](spark, sf_dir)
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in ep
    assert "Reused" in ep, "self-join sides no longer share the exchange"
    assert "BroadcastHashJoin" not in ep
    # no scan-level IsNotNull(sign-pattern) recomputation
    assert "Filter isnotnull((((" not in ep


def test_substring_windows_one_occurrence_exchange(spark, sf_dir):
    """dedup_substring_windows: the explicit repartition(_h) must be
    the ONLY occurrence-scale exchange — the (doc, hash) grouping and
    the per-hash corpus-total window both ride it (subset clustering),
    leaving just the small per-doc rollup behind it."""
    from petastorm_spark.plans.checks import formatted_plan

    plan = formatted_plan(QUERIES["dedup_substring_windows"](spark, sf_dir))
    assert plan.count("hashpartitioning(_h") == 1, plan
    assert plan.count("ReadSchema") == 1, "corpus scanned more than once"
    assert "Join" not in plan


def test_funnel_single_user_shuffle_no_join(spark, sf_dir):
    """funnel_signup_purchase: one user-key exchange, zero joins — the
    fold formulation, not the N-way min-join the oracle uses."""
    from petastorm_spark.plans.checks import formatted_plan

    plan = formatted_plan(QUERIES["funnel_signup_purchase"](spark, sf_dir))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan
    assert plan.count("ReadSchema") == 1


def test_quality_floor_no_per_source_window(spark, sf_dir):
    """quality_floor_source: the per-source rank cut must not be a
    Window.partitionBy(source) (one task per source) — the
    grouped_rank plan range-partitions on (source, score, tie) and
    broadcasts the tiny offset table (round-6 migration)."""
    from petastorm_spark.plans.checks import formatted_plan

    plan = formatted_plan(QUERIES["quality_floor_source"](spark, sf_dir))
    assert "rangepartitioning(source" in plan, plan
    assert "hashpartitioning(_pid" in plan, plan
    assert "BroadcastHashJoin" in plan


def test_hll_registers_partial_aggregation(spark, sf_dir):
    """hll_distinct_users: the register aggregation must be partial
    (map-side combine) so the (group, bucket) shuffle carries at most
    2^p rows per group per task, never raw events."""
    from petastorm_spark.plans.checks import formatted_plan

    plan = formatted_plan(QUERIES["hll_distinct_users"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 4  # partial+final x 2 aggs
    assert "Join" not in plan


def test_excise_broadcasts_qualifying_hashes(spark, sf_dir):
    """excise_dup_spans: the qualifying-hash set joins back via a
    BROADCAST (two-phase hash-first shape); the rewrite side never
    shuffles text on the window hash."""
    from petastorm_spark.plans.checks import formatted_plan

    plan = formatted_plan(QUERIES["excise_dup_spans"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_global_rank_has_no_single_task_window(spark, sf_dir):
    """histogram_order_prices: the whole point of global_rank is that
    NO corpus-scale single-partition window exists — the only Window
    node runs over the tiny per-partition offset table, and the data
    path is range exchange + local sort + broadcast join."""
    from petastorm_spark.plans.checks import exchanges, formatted_plan

    df = QUERIES["histogram_order_prices"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "rangepartitioning" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the SinglePartition exchanges gather partition-count-sized inputs
    # (the offsets cumsum Window and a global total), never the data
    assert exchanges(df).count("SinglePartition") <= 2, exchanges(df)


def test_dsir_broadcasts_ratio_table(spark, sf_dir):
    """dsir_importance_weights: the <=1024-row ratio table must join
    back as a BROADCAST; the per-doc aggregation is partial (map-side
    combine) keyed on the doc id, never on token strings."""
    from petastorm_spark.plans.checks import formatted_plan

    plan = formatted_plan(QUERIES["dsir_importance_weights"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_broadcasts_idf_and_single_topk_exchange(spark, sf_dir):
    """tfidf_top_terms: document frequencies broadcast back onto the
    (doc, term) table; the only data-scale hash exchanges are the
    (doc, term) tf aggregation and the per-doc top-k window."""
    from petastorm_spark.plans.checks import formatted_plan

    plan = formatted_plan(QUERIES["tfidf_top_terms"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_tiles_no_shuffle_before_tile_agg(spark, sf_dir):
    """zorder_event_tiles: the Morton math is a pure projection — one
    scan, one partially-aggregated exchange on the tile key, no joins,
    no windows."""
    from petastorm_spark.plans.checks import formatted_plan

    plan = formatted_plan(QUERIES["zorder_event_tiles"](spark, sf_dir))
    assert plan.count("ReadSchema") == 1
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("hashpartitioning(") == 1, plan


def test_perplexity_buckets_no_lang_window(spark, sf_dir):
    """perplexity_buckets_lang: the per-stratum rank must NOT be a
    Window.partitionBy(lang) — that caps parallelism at the number of
    languages. The grouped_rank plan shows a range exchange on (lang,
    logprob, id) and a broadcast of the tiny offset table instead."""
    from petastorm_spark.plans.checks import formatted_plan

    plan = formatted_plan(QUERIES["perplexity_buckets_lang"](spark, sf_dir))
    assert "rangepartitioning(lang" in plan, plan
    assert "BroadcastHashJoin" in plan
    # the only lang-keyed hash exchange + windows ride the TINY
    # per-(partition, lang) offset aggregate, never the doc stream
    assert "hashpartitioning(_pid" in plan, plan
    assert plan.count("hashpartitioning(lang") <= 1, plan


def test_semantic_dedup_reuses_assignment_exchange(spark, sf_dir):
    """dedup_semantic: both sides of the within-cell pair join derive
    from the SAME centroid-assignment plan — the executed plan must
    show a runtime-reused exchange/stage, not a second assignment
    pass, and no Python anywhere."""
    df = QUERIES["dedup_semantic"](spark, sf_dir)
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in ep
    assert "Reused" in ep, "pair-join sides recompute the assignment"
    assert "EvalPython" not in ep


def test_quality_classifier_pure_jvm_single_agg(spark, sf_dir):
    """quality_classifier: inference is JVM expressions + ONE
    partial-aggregated groupBy(doc) — no Python eval, no join in the
    default (derived-weights) path."""
    df = QUERIES["quality_classifier"](spark, sf_dir)
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in ep
    assert "Join" not in ep
    assert "partial" in ep and "HashAggregate" in ep


def test_cdc_chunks_no_join_no_python(spark, sf_dir):
    """cdc_chunk_spans: explode -> per-doc running sum -> group; the
    plan must stay join-free and Python-free."""
    df = QUERIES["cdc_chunk_spans"](spark, sf_dir)
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in ep
    assert "Join" not in ep


def test_signals_bundle_single_pass_no_shuffle(spark, sf_dir):
    """doc_signals_bundle: ten signals, ONE scan — the plan must be a
    pure projection (no exchange besides the fan-out repartition, no
    join, no Python)."""
    df = QUERIES["doc_signals_bundle"](spark, sf_dir)
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in ep
    assert "Join" not in ep
    assert "HashAggregate" not in ep


def test_embedding_covariance_join_free_single_exchange(spark, sf_dir):
    """embedding_covariance: the i<=j pair fan-out is a per-row map
    (inline struct explode), NOT a self-join of the exploded corpus —
    the executed plan must be join-free and Python-free, with exactly
    ONE hash exchange (the partially-aggregated (i, j) groupBy)."""
    from petastorm_spark.plans.checks import formatted_plan

    df = QUERIES["embedding_covariance"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan, "pair self-join resurfaced"
    assert "EvalPython" not in plan
    assert plan.count("hashpartitioning(") == 1, plan
    assert plan.count("ReadSchema") == 1, plan
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in ep and "EvalPython" not in ep


def test_prefix_indexed_query_scans_only_prefix_columns(spark, sf_dir):
    """ann_cosine_prefix_indexed: the approximate pass must scan the
    persisted (vec_id, prefix) parquet — its ReadSchema carries the
    prefix column and NOT the 64-dim embedding (the physical payoff of
    the index); the full vectors appear only in the rescore scan."""
    plan = QUERIES["ann_cosine_prefix_indexed"](
        spark, sf_dir
    )._jdf.queryExecution().toString()
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    prefix_scans = [ln for ln in scans if "prefix" in ln]
    assert prefix_scans, plan
    assert all("embedding" not in ln for ln in prefix_scans), prefix_scans


def test_readability_pure_map_prunes_scan(spark, sf_dir):
    """readability_scores: three regexp counters per row — the plan
    must be join-free, Python-free, aggregation-free, and the parquet
    scan must read only (doc_id, text)."""
    from petastorm_spark.plans.checks import read_schema_columns

    df = QUERIES["readability_scores"](spark, sf_dir)
    cols = read_schema_columns(df)
    assert set(cols) <= {"doc_id", "text"}, cols
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in ep
    assert "Join" not in ep
    assert "HashAggregate" not in ep


def test_token_label_mi_broadcasts_totals(spark, sf_dir):
    """token_label_mi_lang: the label and corpus totals must arrive
    as broadcasts onto the vocab-scale grid (never a shuffled join
    with the exploded corpus), and inference stays JVM-side."""
    df = QUERIES["token_label_mi_lang"](spark, sf_dir)
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in ep
    assert "BroadcastExchange" in ep
    # the only nested-loop joins allowed are the broadcast crossJoins
    # of the bounded totals (1-row corpus count, label-count rows) —
    # every one must be BuildRight over a BroadcastExchange, and no
    # unbroadcast cartesian may appear
    assert "CartesianProduct" not in ep
    import re

    for mjoin in re.finditer(r"BroadcastNestedLoopJoin (\w+), (\w+)", ep):
        assert mjoin.group(1) == "BuildRight" and mjoin.group(2) == "Cross", ep


def test_dp_release_single_exchange_noise_after_agg(spark, sf_dir):
    """dp_event_type_release: ONE partially-aggregated exchange (the
    group count/sum); the Laplace noise is a per-GROUP-row projection
    after it — no join, no Python, no second shuffle."""
    from petastorm_spark.plans.checks import formatted_plan

    df = QUERIES["dp_event_type_release"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("hashpartitioning(") == 1, plan
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in ep
    assert "Join" not in ep


def test_ivf_auto_assignment_is_single_python_map(spark, sf_dir):
    """ivf_build's AUTO path (r14 default): once the bounded quantizer
    is collected, corpus assignment is ONE Arrow/numpy map over the
    scan — no join, no window, no exchange anywhere in the assignment
    plan (the n x n_cells blowup the broadcast-join fallback pays is
    reserved for quantizers too big to ship to tasks)."""
    from petastorm_spark.operators.similarity import ivf_build

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _, assigned = ivf_build(emb, "vec_id", "embedding")
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan or "EvalPython" in plan, plan
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_vocab_growth_broadcast_points_bounded_single_partitions(
    spark, sf_dir
):
    """vocab_growth_heaps: the prefix thresholds ride as a broadcast
    16-row literal (nested-loop joins against a BroadcastExchange,
    never a shuffle of the vocab/doc tables against points), and the
    only SinglePartition exchanges are global_rank's offset tables —
    one row PER PARTITION each, never corpus rows (two rank
    consumers -> at most two such bounded exchanges)."""
    from petastorm_spark.plans.checks import formatted_plan

    df = QUERIES["vocab_growth_heaps"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("SinglePartition") <= 2, plan
    assert "EvalPython" not in plan, plan


def test_events_ohlc_single_exchange_no_window(spark, sf_dir):
    """events_ohlc: open/close ride as struct min/max inside the ONE
    partially-aggregated groupBy — no window, no join, no second
    shuffle, no Python."""
    from petastorm_spark.plans.checks import formatted_plan

    df = QUERIES["events_ohlc"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("hashpartitioning(") == 1, plan
    assert "Window" not in plan, plan
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in ep
    assert "Join" not in ep


def test_exchanges_lists_each_shuffle_once(spark, sf_dir):
    """A plain groupBy has one hash exchange. A cached frame scanned
    twice prints its plan, exchange included, under each scan in the
    tree; it is still one exchange."""
    from petastorm_spark.plans.checks import exchanges, formatted_plan
    from petastorm_spark.session import materialize, release_persisted

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert exchanges(ev.groupBy("user_id").count()) == ["hashpartitioning"]
    cached = materialize(ev.repartition(3, "user_id"))
    try:
        twice = cached.union(cached)
        assert formatted_plan(twice).count("Exchange") > 1
        assert exchanges(twice) == ["hashpartitioning"]
    finally:
        release_persisted()
