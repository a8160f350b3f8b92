"""Streaming twins: an availableNow run over a static directory
reproduces the batch operator.

The per-key folds run through ``operators.stateful.fold_by_key``; the
tests here pin what that helper owns: a key's rows gathered across
Arrow chunks before the one sort, and the key column typed from the
frame's schema.
"""

import pytest
from pyspark.sql import functions as F


def _run(df, name, mode="update"):
    """Rows of one availableNow run of ``df`` into a memory table."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return df.sparkSession.table(name).collect()


@pytest.fixture(scope="module")
def shuffled_events(spark, sf_dir, tmp_path_factory):
    """The events table with an epoch-µs ``ts_us`` column, rows in random
    order, as ONE parquet file, so a stream over it is one micro-batch
    whose keys each arrive as many Arrow chunks once
    ``tiny_arrow_batches`` is on."""
    from petastorm_spark.session import events_ts_us

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = str(tmp_path_factory.mktemp("shuffled") / "events")
    ev.withColumn("ts_us", events_ts_us(ev)).orderBy(F.rand(7)).coalesce(
        1
    ).write.parquet(d)
    return d


@pytest.fixture
def tiny_arrow_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield
    spark.conf.set(key, old)


def _ewma(spark, sf_dir, stream):
    from petastorm_spark.operators.stateful import ewma_by_key
    from petastorm_spark.streaming.feed import running_ewma_stream

    def rows(rs):
        return {r.user_id: (r.n_events, round(r.ewma, 6), r.last_ts) for r in rs}

    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = rows(_run(running_ewma_stream(stream), "mc_ewma"))
    return got, rows(ewma_by_key(static).collect())


def _zscore(spark, sf_dir, stream):
    from petastorm_spark.queries import QUERIES
    from petastorm_spark.streaming.feed import rolling_zscore_stream

    def rows(rs):
        return {(r.user_id, r.event_id): r.zscore for r in rs}

    got = rows(_run(rolling_zscore_stream(stream), "mc_zscore", "append"))
    want = rows(QUERIES["events_anomaly"](spark, sf_dir).collect())
    # the batch window query and the fold compute the std differently;
    # flagged events must match exactly, scores to the 4th decimal
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) <= 2e-4 for k in want)
    return set(got), set(want)


def _funnel(spark, sf_dir, stream):
    from petastorm_spark.queries import QUERIES
    from petastorm_spark.streaming.feed import funnel_stream

    def rows(rs):
        return {
            r.user_id: (r.funnel_depth, r.t_step1, r.t_step2, r.t_step3)
            for r in rs
        }

    got = rows(_run(funnel_stream(stream, ["signup", "view", "purchase"]), "mc_funnel"))
    return got, rows(QUERIES["funnel_signup_purchase"](spark, sf_dir).collect())


def _kmv(spark, sf_dir, stream):
    from petastorm_spark.operators.sketch import kmv_sketch
    from petastorm_spark.streaming.feed import kmv_sketch_stream

    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {
        r.event_type: list(r.sketch)
        for r in _run(kmv_sketch_stream(stream, "event_type", "event_id", k=16), "mc_kmv")
    }
    want = {
        r.event_type: list(r.sketch)
        for r in kmv_sketch(static, "event_type", "event_id", k=16).collect()
    }
    return got, want


def _next_event(spark, sf_dir, stream):
    from petastorm_spark.operators.packing import next_event_examples
    from petastorm_spark.session import events_ts_us
    from petastorm_spark.streaming.feed import next_event_stream

    def rows(rs):
        return {(r.user_id, r.window_idx, tuple(r.context), r.label) for r in rs}

    args = ("user_id", "ts_us", "event_id", "event_type")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    static = ev.withColumn("ts_us", events_ts_us(ev))
    got = rows(_run(next_event_stream(stream, *args, context_len=3), "mc_next"))
    return got, rows(next_event_examples(static, *args, context_len=3).collect())


def _transitions(spark, sf_dir, stream):
    from collections import Counter

    from petastorm_spark.queries_llm import event_transition_matrix
    from petastorm_spark.streaming.feed import transition_pairs_stream

    pairs = transition_pairs_stream(
        stream, "user_id", "ts_us", "event_id", "event_type"
    )
    got = Counter((r.prev_type, r.next_type) for r in _run(pairs, "mc_trans"))
    want = {
        (r.prev_type, r.next_type): r.n_trans
        for r in event_transition_matrix(spark, sf_dir).collect()
    }
    return dict(got), want


@pytest.mark.parametrize(
    "twin", [_ewma, _zscore, _funnel, _kmv, _next_event, _transitions],
    ids=["ewma", "zscore", "funnel", "kmv", "next_event", "transitions"],
)
def test_fold_gathers_a_key_across_arrow_chunks(
    spark, sf_dir, shuffled_events, tiny_arrow_batches, twin
):
    """Rows in random order and 3-row Arrow batches: every key reaches
    the fold as many chunks in one micro-batch. A fold that sorted each
    chunk on its own would fold out of event order and drift from its
    batch twin."""
    from petastorm_spark.streaming.feed import stream_dataset

    got, want = twin(spark, sf_dir, stream_dataset(spark, shuffled_events))
    assert got == want and want


@pytest.mark.parametrize(
    "fold",
    ["ewma_by_key", "running_ewma_stream", "rolling_zscore_stream", "funnel_stream"],
)
def test_fold_keeps_a_string_key(spark, sf_dir, tmp_path_factory, fold):
    """The key column's type comes from the frame: a string ``user_id``
    folds to the same rows as the bigint one, keyed by its string."""
    from petastorm_spark.operators.stateful import ewma_by_key
    from petastorm_spark.streaming import feed

    base = tmp_path_factory.mktemp("strkey")
    extra = (["signup", "view", "purchase"],) if fold == "funnel_stream" else ()
    mode = "append" if fold == "rolling_zscore_stream" else "update"

    def fold_rows(df, name):
        d = str(base / name)
        df.coalesce(1).write.parquet(d)
        if fold == "ewma_by_key":
            return ewma_by_key(spark.read.parquet(d)).collect()
        op = getattr(feed, fold)
        return _run(op(feed.stream_dataset(spark, d), *extra), f"sk_{fold}_{name}", mode)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = fold_rows(ev.withColumn("user_id", F.col("user_id").cast("string")), "str")
    want = fold_rows(ev, "int")
    assert sorted(map(tuple, got)) == sorted((str(r[0]), *r[1:]) for r in want)
    assert want


def test_incremental_near_dup_stream_drops_self_matches(spark, sf_dir, tmp_path_factory):
    """Docs probed against an index that already holds them match
    themselves at 1.0; the batch op drops those pairs and the stream
    must too."""
    from petastorm_spark.operators.dedup import incremental_near_dup, lsh_index_build
    from petastorm_spark.streaming.feed import (
        incremental_near_dup_stream,
        stream_dataset,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(20)
    )
    buckets, sigs = lsh_index_build(docs, "text", "doc_id")
    want = {
        (r.new_id, r.old_id): r.est_jaccard
        for r in incremental_near_dup(docs, buckets, sigs, "text", "doc_id").collect()
    }
    d = str(tmp_path_factory.mktemp("selfmatch") / "docs")
    docs.coalesce(1).write.parquet(d)
    stream = incremental_near_dup_stream(
        stream_dataset(spark, d), buckets, sigs, "text", "doc_id"
    )
    got = {(r.new_id, r.old_id): r.est_jaccard for r in _run(stream, "self_match")}
    assert not [p for p in got if p[0] == p[1]]
    assert got == want
