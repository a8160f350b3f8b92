"""Structured Streaming surface (SURVEY §2.9 stretch goal: the
reference has no streaming; the natural Spark upgrade is exposing a
dataset directory as a continuous training feed).

  - ``stream_dataset``: readStream over a (growing) parquet dataset
    directory — new files picked up per micro-batch; the streaming twin
    of make_batch_reader.
  - ``windowed_event_counts``: event-time tumbling windows with a
    watermark for late data — the streaming twin of the
    ``events_hourly`` batch query.
  - ``sessionize_stream``: session windows per key via
    ``F.session_window`` (gap-based), the streaming twin of the
    ``sessionization`` batch query.
  - ``dedup_stream``: watermarked exact dedup on a content digest —
    the streaming twin of ``operators.dedup.exact_dedup`` for a
    continuously-ingested corpus.

Per-key order-dependent folds (EWMA, rolling z-score, funnel, KMV,
next-event examples, transition pairs) are a ``step`` function run by
``operators.stateful.fold_by_key``, which owns the state-store
plumbing; a twin whose batch operator also runs on a stream calls
that operator.

Scale: state lives in the streaming state store, partitioned by key;
watermarks bound state size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from petastorm_spark.etl.dataset_metadata import load_unischema
from petastorm_spark.unischema import Unischema


def _event_time(df: DataFrame, ts_col: str, ts_is_nanos: bool | None):
    """TimestampType event-time column, robust to the dataset's ts
    layout. ``ts_is_nanos=None`` (default) auto-detects: an integral
    column is nanoseconds-since-epoch (legacy TIMESTAMP(NANOS) parquet
    read under ``nanosAsLong``); TIMESTAMP_NTZ is cast to TIMESTAMP
    (watermarks reject NTZ — and the session is pinned to UTC by
    ``ensure_session_confs``, so the cast is instant-faithful);
    TIMESTAMP passes through."""
    from pyspark.sql.types import IntegerType, LongType, TimestampNTZType

    from petastorm_spark.session import ns_to_timestamp

    dt = df.schema[ts_col].dataType
    if ts_is_nanos is None:
        ts_is_nanos = isinstance(dt, (LongType, IntegerType))
    if ts_is_nanos:
        return ns_to_timestamp(F.col(ts_col))
    if isinstance(dt, TimestampNTZType):
        return F.col(ts_col).cast("timestamp")
    return F.col(ts_col)


def stream_dataset(
    spark: SparkSession,
    dataset_url: str,
    schema_fields: list | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Continuous feed over a parquet dataset dir (schema taken from the
    sidecar or the existing files)."""
    from petastorm_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    static = spark.read.parquet(dataset_url)
    schema = load_unischema(spark, dataset_url) or Unischema.from_spark_schema(
        static.schema
    )
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(dataset_url)
    if schema_fields:
        view = schema.create_schema_view(schema_fields)
        df = df.select(*view.field_names())
    return df


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_is_nanos: bool | None = None,
    value_col: str | None = "value",
) -> DataFrame:
    """Tumbling event-time windows with late-data watermark.
    ``value_col``: numeric column to average (skipped when None or
    absent from the frame)."""
    ts = _event_time(events, ts_col, ts_is_nanos)
    with_ts = events.withColumn("_event_time", ts).withWatermark(
        "_event_time", watermark
    )
    aggs = [F.count(F.lit(1)).alias("n_events")]
    agg_names = ["n_events"]
    if value_col is not None and value_col in events.columns:
        aggs.append(F.avg(value_col).alias(f"avg_{value_col}"))
        agg_names.append(f"avg_{value_col}")
    out = with_ts.groupBy(F.window("_event_time", window), F.col(key_col)).agg(*aggs)
    return out.select(
        F.col("window.start").alias("window_start"), key_col, *agg_names
    )


def dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
    ts_is_nanos: bool | None = None,
) -> DataFrame:
    """Streaming exact dedup: first arrival of each md5(text) digest
    passes, later copies are dropped by ``dropDuplicates`` state.

    With ``ts_col`` set, ``dropDuplicatesWithinWatermark`` bounds the
    digest state (a digest older than the watermark is forgotten —
    duplicates arriving later than the lateness bound pass through, the
    standard streaming trade-off). Without it, state grows with
    distinct digests — fine for bounded backfills, documented footgun
    for unbounded 100 TB feeds.
    """
    out = docs.withColumn("_digest", F.md5(F.col(text_col)))
    if ts_col is not None:
        ts = _event_time(docs, ts_col, ts_is_nanos)
        out = out.withColumn("_event_time", ts).withWatermark(
            "_event_time", watermark
        )
        return (
            out.dropDuplicatesWithinWatermark(["_digest"])
            .drop("_event_time")
            .drop("_digest")
        )
    return out.dropDuplicates(["_digest"]).drop("_digest")


def sessionize_stream(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_is_nanos: bool | None = None,
    value_col: str | None = "value",
) -> DataFrame:
    """Gap-based session windows per key (stateful streaming op).
    ``value_col``: numeric column to sum (skipped when None or absent)."""
    ts = _event_time(events, ts_col, ts_is_nanos)
    with_ts = events.withColumn("_event_time", ts).withWatermark(
        "_event_time", watermark
    )
    aggs = [F.count(F.lit(1)).alias("n_events")]
    agg_names = ["n_events"]
    if value_col is not None and value_col in events.columns:
        aggs.append(F.sum(value_col).alias(f"sum_{value_col}"))
        agg_names.append(f"sum_{value_col}")
    out = with_ts.groupBy(F.session_window("_event_time", gap), F.col(key_col)).agg(
        *aggs
    )
    return out.select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        key_col,
        *agg_names,
    )


def running_ewma_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.3,
) -> DataFrame:
    """Per-key running EWMA of ``value_col`` in (ts, value) order — an
    order-dependent fold no built-in streaming aggregate expresses.

    The same ``ewma_by_key`` call as the batch twin
    (operators/stateful.py): on a stream, ``fold_by_key`` keeps
    (count, ewma, last_ts) per key in the state store, hash-partitioned
    by key, and folds each micro-batch with the same closed-form
    update, so `availableNow` over a static directory reproduces
    ``ewma_by_key`` exactly. Emits one updated row per key per
    micro-batch (outputMode update).

    Event time is normalized through the same ``_event_time`` shim the
    other streaming ops use BEFORE the fold, so ``last_ts`` is always
    epoch-microseconds regardless of the parquet layout (legacy
    bigint-ns, TIMESTAMP_NTZ, or TIMESTAMP) — matching the batch
    twin's ``events_ts_us`` pre-normalization.
    """
    from petastorm_spark.operators.stateful import ewma_by_key

    ts = _event_time(events, ts_col, None).alias(ts_col)
    return ewma_by_key(
        events.select(key_col, ts, value_col), key_col, ts_col, value_col, alpha
    )


def contamination_stream(
    train_stream: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Streaming twin of :func:`operators.dedup.contamination_overlap`:
    a live report of incoming training docs sharing >= ``min_overlap``
    distinct shingles with a STATIC eval corpus — the "is my ingest
    firehose leaking the benchmark?" monitor.

    Stream-static join: the eval shingle set is broadcast, the stream
    side explodes its shingles and map-side joins it, and the per-doc
    count is a streaming aggregation — run the sink in ``update``
    mode. State is one counter per contaminated doc id (a doc's
    shingles arrive in one micro-batch, so rows stabilize
    immediately); the batch ``decontaminate`` remains the drop path,
    this stream is the alerting path."""
    from petastorm_spark.operators.dedup import contamination_overlap

    return contamination_overlap(
        train_stream, eval_df, text_col, id_col, shingle_n, broadcast_eval=True
    ).where(F.col("n_overlap") >= min_overlap)


def hll_registers_stream(
    events: DataFrame, group_col: str, key_col: str, p: int = 10
) -> DataFrame:
    """Streaming cardinality sketch: maintain per-group HyperLogLog
    registers over a continuous feed. Spark (rightly) refuses
    ``countDistinct`` on a stream — exact distinct state grows without
    bound — but the register table is a plain ``max`` aggregate whose
    state is CAPPED at ``2^p`` rows per group by construction, so it
    needs no watermark and never grows: the streaming-native
    distinct-count. Emit in update/complete mode; snapshot the sink
    and collapse with :func:`operators.sketch.hll_estimate` (batch)
    whenever an estimate is needed — the availableNow run reproduces
    the batch register table exactly (same md5-prefix hashing), so
    stream and batch estimates are identical, not merely close.
    """
    from petastorm_spark.operators.sketch import hll_registers

    return hll_registers(events, group_col, key_col, p)


def rolling_zscore_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    window: int = 10,
    threshold: float = 3.0,
) -> DataFrame:
    """Streaming twin of the ``events_anomaly`` batch query: per-key
    rolling z-score over the previous ``window`` values in
    (event-time, id) order, emitting rows whose |z| > ``threshold`` —
    the live anomaly monitor. State per key is the last ``window``
    values only (a bounded array in the state store), so state size is
    O(window) per key forever; an availableNow run over a static
    directory flags the same events as the batch window query.

    The per-event update is a short python loop over each micro-batch's
    rows (the rolling statistics are incremental against state — the
    vectorized window form can't see across the batch boundary); with
    window=10 that is ~30 flops per event inside an Arrow-batched
    group, far below the scan cost.
    """
    import numpy as np
    import pandas as pd

    from petastorm_spark.operators.stateful import fold_by_key

    def step(state, batch):
        hist = [] if state is None else list(state[0])
        out_ids, out_vals, out_z = [], [], []
        for eid, val in zip(batch[id_col], batch[value_col]):
            if len(hist) >= 2:
                arr = np.asarray(hist, dtype=np.float64)
                sd = arr.std(ddof=1)
                if sd > 0:
                    z = (float(val) - arr.mean()) / sd
                    if abs(z) > threshold:
                        out_ids.append(int(eid))
                        out_vals.append(float(val))
                        out_z.append(np.floor(z * 10000) / 10000)
            hist.append(float(val))
            if len(hist) > window:
                hist.pop(0)
        out = pd.DataFrame({id_col: out_ids, value_col: out_vals, "zscore": out_z})
        return (hist,), out

    ts = _event_time(events, ts_col, None).alias(ts_col)
    return fold_by_key(
        events.select(key_col, ts, id_col, value_col),
        key_col,
        [ts_col, id_col],
        step,
        f"{id_col} bigint, {value_col} double, zscore double",
        "hist array<double>",
        output_mode="append",
    )


def contamination_bloom_stream(
    train_stream: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    m: int = 1 << 20,
    d: int = 3,
) -> DataFrame:
    """Streaming twin of :func:`operators.dedup.contamination_bloom`:
    the bounded-state leak monitor over an ingest feed. Here the
    filter ships as an ACTUAL m-bit bitmap (a numpy bool broadcast
    variable — the batch op's positions table, materialized once from
    the static eval corpus), and membership is an Arrow-batched pandas
    UDF, so the stream side has exactly ONE stateful operation (the
    per-doc suspect count) — the batch op's two chained aggregations
    would trip Spark's multi-stateful-operator correctness check.
    Same seeded md5-prefix positions as the batch twin, so availableNow
    reproduces contamination_bloom exactly, false positives included."""
    import hashlib

    import numpy as np
    import pandas as pd

    from petastorm_spark.operators.dedup import exploded_shingles, hash60

    pos_df = exploded_shingles(eval_df, text_col, id_col, shingle_n)
    positions = None
    for r in range(d):
        p = pos_df.select((hash60(F.col("sh"), seed=r) % m).alias("pos"))
        positions = p if positions is None else positions.unionByName(p)
    bitmap = np.zeros(m, dtype=bool)
    bitmap[[row["pos"] for row in positions.distinct().collect()]] = True
    bc = train_stream.sparkSession.sparkContext.broadcast(bitmap)

    # NB: no type hints on the UDF body — the module's
    # `from __future__ import annotations` stringifies them, which
    # pandas_udf's hint inference rejects; the eval type is pinned by
    # passing the plain function instead
    def _is_suspect(sh):
        bm = bc.value

        def test(s):
            for r in range(d):
                h = int(
                    hashlib.md5(f"{r}|{s}".encode()).hexdigest()[:15], 16
                ) % m
                if not bm[h]:
                    return False
            return True

        return sh.map(test)

    is_suspect = F.pandas_udf(_is_suspect, "boolean")

    tr_sh = exploded_shingles(train_stream, text_col, id_col, shingle_n)
    return (
        tr_sh.where(is_suspect(F.col("sh")))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_suspect"))
    )


def funnel_stream(
    events: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming twin of :func:`operators.temporal.funnel_steps`: live
    per-user funnel progression with the SAME strictly-after fold,
    state = one (depth, t_step1..N) struct per user in the state
    store. Emits each user's current row per micro-batch (update
    mode); an availableNow run over a static directory reproduces the
    batch operator exactly. Steps bind to their earliest eligible
    event; events arriving across micro-batches fold in arrival-batch
    order (the streaming trade — a late event cannot retroactively
    rebind an earlier step)."""
    import pandas as pd

    from petastorm_spark.operators.stateful import fold_by_key, ts_as_int

    n = len(steps)
    if n == 0:
        raise ValueError("steps must be non-empty")

    def step(state, batch):
        st = [0] + [None] * n if state is None else list(state)
        for t, ev in zip(batch[ts_col], batch[type_col]):
            d = st[0]
            if d >= n or ev != steps[d]:
                continue
            tsi = ts_as_int(t)
            prev = -1 if d == 0 else (st[d] if st[d] is not None else -1)
            if tsi > prev:
                st[0] = d + 1
                st[d + 1] = tsi
        out = {"funnel_depth": [st[0]]}
        for i in range(1, n + 1):
            out[f"t_step{i}"] = [st[i]]
        return tuple(st), pd.DataFrame(out)

    ts = _event_time(events, ts_col, None).alias(ts_col)
    return fold_by_key(
        events.select(key_col, ts, type_col),
        key_col,
        [ts_col, type_col],
        step,
        "funnel_depth bigint, "
        + ", ".join(f"t_step{i} bigint" for i in range(1, n + 1)),
        "d int, " + ", ".join(f"t{i} bigint" for i in range(1, n + 1)),
    )


def dsir_score_stream(
    doc_stream: DataFrame,
    ratio_df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 1024,
    seed: int = 0,
) -> DataFrame:
    """Streaming twin of ``operators.sampling_extra.dsir_weights``:
    score an ingest firehose's documents against a PRE-BUILT DSIR
    bucket-ratio table (``dsir_bucket_ratios`` — built offline from
    the corpus + curated target slice) — the online "does this crawl
    doc look like my curated set" gate, applied at ingest time instead
    of in a nightly batch.

    Stream-static join: the <= ``n_buckets``-row ratio table is
    broadcast; the stream side explodes tokens, maps them to hashed
    buckets, joins map-side, and the per-doc mean is an update-mode
    streaming aggregation (a doc's tokens arrive in one micro-batch,
    so its row stabilizes immediately). State is one row per scored
    doc. availableNow over a static dir reproduces the batch scorer
    exactly (pinned by test)."""
    from petastorm_spark.operators.sampling_extra import _dsir_occurrences

    occ = _dsir_occurrences(doc_stream, text_col, id_col, n_buckets, seed)
    return (
        occ.join(F.broadcast(ratio_df), "_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.avg("_lr"), 4).alias("dsir_logweight"),
        )
    )


def cm_sketch_stream(
    events: DataFrame, key_col: str, w: int = 1024, d: int = 4
) -> DataFrame:
    """Streaming count-min sketch: maintain the (r, bucket, c)
    frequency registers over a continuous feed — the heavy-hitter
    monitor whose state is CAPPED at ``d*w`` cells no matter how many
    distinct keys arrive (exact per-key streaming counts grow without
    bound; this never does). Emit update/complete mode; point-query a
    snapshot with ``operators.sketch.cm_estimate``; merge snapshots by
    summing per (r, bucket). availableNow over a static dir reproduces
    the batch ``cm_sketch`` exactly (pinned by test)."""
    from petastorm_spark.operators.sketch import cm_sketch

    return cm_sketch(events, key_col, w, d)


def attribution_stream(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window: str = "30 minutes",
    watermark: str = "2 hours",
    ts_is_nanos: bool | None = None,
    left_id_col: str = "event_id",
    right_id_col: str = "event_id",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join — the Structured
    Streaming feature the rest of the feed module doesn't exercise:
    each right-stream event (e.g. purchase) joins the same key's
    left-stream events (e.g. clicks) it follows within ``window``.
    Both sides carry watermarks and the join condition bounds event
    time on both sides, so the state store provably expires rows
    older than watermark + window — state is bounded at any corpus
    rate. Output: (key, left_id, right_id, left_ts_us, right_ts_us).

    Batch twin: operators/temporal.interval_attribution — the
    availableNow run over a static directory reproduces it exactly
    (tested). ``left_id_col`` / ``right_id_col`` name each side's id
    column (default ``event_id``), matching the batch twin's
    configurability."""
    lt = _event_time(left, ts_col, ts_is_nanos)
    rt = _event_time(right, ts_col, ts_is_nanos)
    l = (
        left.withColumn("_lt", lt)
        .withWatermark("_lt", watermark)
        .select(
            F.col(key_col),
            F.col(left_id_col).alias("left_id"),
            F.col("_lt"),
        )
    )
    r = (
        right.withColumn("_rt", rt)
        .withWatermark("_rt", watermark)
        .select(
            F.col(key_col).alias("_rkey"),
            F.col(right_id_col).alias("right_id"),
            F.col("_rt"),
        )
    )
    joined = l.join(
        r,
        (F.col(key_col) == F.col("_rkey"))
        & (F.col("_rt") > F.col("_lt"))
        & (F.col("_rt") <= F.col("_lt") + F.expr(f"interval {window}")),
    )
    return joined.select(
        F.col(key_col),
        "left_id",
        "right_id",
        F.unix_micros(F.col("_lt")).alias("left_ts_us"),
        F.unix_micros(F.col("_rt")).alias("right_ts_us"),
    )


def kmv_sketch_stream(
    events: DataFrame,
    group_col: str,
    elem_col: str,
    k: int = 256,
) -> DataFrame:
    """Streaming twin of :func:`operators.sketch.kmv_sketch`: maintain
    the k-minimum-values sketch per group over a continuous feed.
    Min-k is mergeable (min-k of a union = min-k of the merged min-k
    sets), so state is a sorted array CAPPED at ``k`` hashes per group
    — the bounded-state form of streaming set-operation estimates, the
    way the register table is for HLL. Hashing (60-bit md5) runs
    JVM-side before the stateful op; the Python update only merges and
    truncates. Emit in update mode; the final snapshot equals the
    batch sketch exactly (same hashes, same k-min — tested), so
    :func:`operators.sketch.kmv_overlap` works unchanged on it.
    """
    import pandas as pd

    from petastorm_spark.operators.dedup import hash60
    from petastorm_spark.operators.stateful import fold_by_key

    def step(state, batch):
        merged = set() if state is None else set(state[0])
        merged.update(int(h) for h in batch["_h"])
        sk = sorted(merged)[:k]
        return (sk,), pd.DataFrame({"sketch": [sk]})

    hashed = events.select(
        F.col(group_col), hash60(F.col(elem_col).cast("string")).alias("_h")
    )
    return fold_by_key(
        hashed, group_col, [], step, "sketch array<bigint>", "sk array<bigint>"
    )


def next_event_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    context_len: int = 5,
) -> DataFrame:
    """Streaming twin of operators/packing.next_event_examples: emit a
    (context, label) training example the moment a user's next event
    arrives — online dataset generation for next-event models, with
    state = the user's last ``context_len`` events only (bounded
    forever). Events fold in (event-time, id) order within each
    micro-batch; the contract assumes an in-order feed (a late event
    older than the buffer is folded at arrival position — the batch
    twin over the same static directory reproduces it exactly when
    the feed is one availableNow batch, tested).
    """
    import pandas as pd

    from petastorm_spark.operators.stateful import fold_by_key

    def step(state, batch):
        n, buf = (0, []) if state is None else (state[0], list(state[1]))
        rows = {"window_idx": [], "context": [], "label": []}
        for e in batch[type_col]:
            if len(buf) == context_len:
                rows["window_idx"].append(n - context_len)
                rows["context"].append(list(buf))
                rows["label"].append(e)
            buf.append(e)
            if len(buf) > context_len:
                buf.pop(0)
            n += 1
        return (n, buf), pd.DataFrame(rows)

    return fold_by_key(
        events.select(user_col, ts_col, id_col, type_col),
        user_col,
        [ts_col, id_col],
        step,
        "window_idx int, context array<string>, label string",
        "n int, buf array<string>",
    )


def transition_pairs_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming twin of the ``event_transition_matrix`` query's pair
    extraction: emit one (user, prev_type, next_type) row the moment a
    user's next event arrives — a downstream count over the emitted
    pairs IS the live Markov transition matrix. State per user is the
    single LAST event type (bounded forever — the smallest state of
    any stateful operator here; :func:`next_event_stream` keeps a
    context window, this keeps one value).

    Events fold in (``ts_col``, ``id_col``) order within each
    micro-batch; same in-order-feed contract as
    :func:`next_event_stream`. ORDERING-KEY contract: pass the SAME
    time representation the batch twin orders by — the batch
    (event_transition_matrix) orders by microsecond-truncated
    ``events_ts_us``, so feed that column, not a raw nanosecond ts
    (two events inside one microsecond tie-break on id in the batch
    but order by raw ns here, flipping the emitted pair). Under that
    contract one availableNow batch over a static dir reproduces the
    batch lead() pair set exactly (pinned by test against the
    event_transition_matrix counts)."""
    import pandas as pd

    from petastorm_spark.operators.stateful import fold_by_key

    def step(state, batch):
        # two-field state so 'no events folded yet' is distinguishable
        # from 'last event_type was NULL': the batch twin's lead() emits
        # a (NULL, next) pair after a NULL-type event and only filters
        # NULL next_type
        last, has_last = (None, False) if state is None else state
        rows = {"prev_type": [], "next_type": []}
        for e in batch[type_col]:
            e = None if pd.isna(e) else e
            if has_last and e is not None:
                rows["prev_type"].append(last)
                rows["next_type"].append(e)
            last, has_last = e, True
        return ((last, True) if has_last else None), pd.DataFrame(rows)

    return fold_by_key(
        events.select(user_col, ts_col, id_col, type_col),
        user_col,
        [ts_col, id_col],
        step,
        "prev_type string, next_type string",
        "last string, has_last boolean",
    )


def log2_histogram_stream(
    events: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    sub_bits: int = 3,
) -> DataFrame:
    """Streaming twin of :func:`operators.sketch.log2_histogram`:
    maintain the octave+mantissa quantile-sketch buckets over a
    continuous feed — per-group state CAPPED at ~64 * 2^sub_bits
    cells no matter how many values arrive (exact streaming quantiles
    grow without bound; this never does), completing the
    streaming-twin set for the sketch family (HLL / count-min / KMV
    twins above). Emit update/complete mode; read quantiles off a
    snapshot with ``operators.sketch.histogram_quantiles``; merge
    snapshots by summing per bucket. The binning is the same pure-
    integer expression as the batch sketch, so availableNow over a
    static dir reproduces it bucket-for-bucket (pinned by test)."""
    from petastorm_spark.operators.sketch import log2_histogram

    return log2_histogram(events, value_col, group_cols, sub_bits)


def incremental_near_dup_stream(
    new_stream: DataFrame,
    index_buckets: DataFrame,
    index_sigs: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    min_est: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Streaming twin of :func:`operators.dedup.incremental_near_dup`:
    an ingest firehose of NEW documents deduped online against the
    persisted LSH index of the existing corpus — the accept/reject
    gate in front of a growing training corpus, where the batch op is
    the nightly compaction path.

    Emits (new_id, old_id, est_jaccard): every incoming doc's
    near-dup matches in the index at MinHash-agreement >= ``min_est``.

    Shape: signing is a stateless MAP — the per-row
    ``array_min(transform(...))`` signature formulation
    (:func:`operators.dedup.minhash_row_exprs`, bit-identical to the
    batch explode+groupBy signatures) — so the stream needs no
    aggregation to build signatures; band rows then stream-static join
    the index buckets on (band, bh), the index signatures join by
    old_id for the agreement estimate, and the single streaming
    aggregation collapses the <= ``bands``-fold candidate multiplicity
    to one row per (new_id, old_id). State is one row per EMITTED
    match (a doc's bands arrive in one micro-batch, so rows stabilize
    immediately); run the sink in update mode. availableNow over a
    static batch reproduces the batch op exactly (pinned by test)."""
    from petastorm_spark.operators.dedup import (
        _band_hash_exprs,
        minhash_row_exprs,
        shingle_sets,
    )

    sig = shingle_sets(new_stream, text_col, id_col, shingle_n).select(
        F.col(id_col).alias("new_id"), *minhash_row_exprs("sh_set", num_hashes)
    )
    banded = sig.select(
        "new_id",
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("_sig"),
        F.posexplode_outer(
            F.array(*_band_hash_exprs(num_hashes, bands))
        ).alias("band", "bh"),
    )
    old = index_sigs.select(
        F.col(id_col).alias("old_id"),
        *[F.col(f"mh_{i}").alias(f"_o{i}") for i in range(num_hashes)],
    )
    agree = sum(
        (F.col("_sig")[i] == F.col(f"_o{i}")).cast("int")
        for i in range(num_hashes)
    )
    return (
        banded.join(
            index_buckets.select(
                F.col(id_col).alias("old_id"), "band", "bh"
            ),
            ["band", "bh"],
        )
        # self-match guard, as in the batch op: an id probed against an
        # index that already contains it would otherwise emit (id, id, 1.0)
        .where(F.col("new_id") != F.col("old_id"))
        .join(old, "old_id")
        .withColumn("_est", agree / F.lit(num_hashes))
        .where(F.col("_est") >= min_est)
        .groupBy("new_id", "old_id")
        .agg(F.round(F.max("_est"), 4).alias("est_jaccard"))
    )


def lm_score_stream(
    doc_stream: DataFrame,
    big: DataFrame,
    muni: DataFrame,
    n_total: DataFrame,
    text_col: str,
    id_col: str,
    alpha: float = 0.4,
    micro: int = 10**6,
) -> DataFrame:
    """Streaming twin of ``operators.text.bigram_lm_score``: score an
    ingest firehose against a PRE-BUILT stupid-backoff bigram model
    (``bigram_lm_model`` count tables, built offline and frozen) — the
    online "does this crawl doc read like my reference corpus" gate,
    one rung above ``dsir_score_stream``'s unigram buckets.

    Stream-static left joins onto the model tables (the static sides
    behave like dimension tables; the 1-row total broadcasts), scored
    per pair OCCURRENCE — the batch scorer's per-doc type count would
    be a second chained streaming aggregation, which Structured
    Streaming rejects — then ONE update-mode groupBy on the doc id.
    Occurrence-level scoring is bit-identical to the batch path
    because every term is floor-scaled to an integer micro-unit before
    summation. A doc's pairs arrive in one micro-batch, so its row
    stabilizes immediately; state is one row per scored doc.
    availableNow over a static dir reproduces the batch scorer exactly
    (pinned by test)."""
    from petastorm_spark.operators.text import lm_score_from_model

    return lm_score_from_model(
        doc_stream, text_col, id_col, big, muni, n_total,
        alpha=alpha, micro=micro, pre_aggregate=False,
    )


def k_anonymity_stream(
    rows: DataFrame, qi_cols: list[str], k: int = 5
) -> DataFrame:
    """Streaming twin of :func:`operators.privacy.k_anonymity_report`:
    maintain per-quasi-identifier class sizes over a continuous ingest
    feed — the release gate that watches re-identification risk AS the
    dataset accretes, instead of auditing after the fact. State is
    bounded by the QI domain product (the same bound as the batch
    report's output), complete/update mode; ``at_risk`` is recomputed
    on every snapshot, so a class flips to safe the moment its k-th
    member arrives. The aggregation is the identical pure groupBy, so
    availableNow over a static dir reproduces the batch report row for
    row (pinned by test)."""
    from petastorm_spark.operators.privacy import k_anonymity_report

    return k_anonymity_report(rows, qi_cols, k)


def l_diversity_stream(
    rows: DataFrame,
    qi_cols: list[str],
    sensitive_col: str,
    l: int = 3,  # noqa: E741 - the literature's letter
) -> DataFrame:
    """Streaming twin of :func:`operators.privacy.l_diversity_report`
    — the next rung of the live privacy ladder after
    :func:`k_anonymity_stream`: per QI class, the running count of
    DISTINCT sensitive values, flagging classes an attacker could
    read a sensitive attribute from even at k-anonymous size.

    The batch report's ``countDistinct`` is not allowed on streaming
    frames, so distinctness is carried as ``collect_set`` state and
    sized per snapshot — state is bounded by QI-domain x
    value-domain (the batch report's own grid bound), never N.
    ``collect_set`` skips NULL sensitive values exactly as
    ``countDistinct`` does (an absent value discloses nothing), and
    ``class_size`` counts every row — identical semantics, so
    availableNow over a static dir reproduces the batch report row
    for row (pinned by test)."""
    return (
        rows.groupBy(*[F.col(c) for c in qi_cols])
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.size(F.collect_set(F.col(sensitive_col))).alias(
                "n_sensitive_values"
            ),
        )
        .withColumn(
            "at_risk", (F.col("n_sensitive_values") < l).cast("int")
        )
    )


def fingerprint_dup_stream(
    new_sigs: DataFrame,
    index_sigs: DataFrame,
    id_col: str,
    sig_col: str = "simhash",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Streaming near-dup gate for FINGERPRINTED content — the
    multimodal twin of :func:`incremental_near_dup_stream`: an ingest
    stream of 60-bit fingerprints (audio RMS-envelope, video
    frame-mean, image dHash, text SimHash — every modality reduces to
    the same signature shape, and the fingerprint kernels are
    per-row Python UDFs that run unchanged on a streaming frame)
    probed online against the static signature table of the existing
    corpus. Emits (new_id, old_id, hamming), EXACTLY the pairs at
    hamming <= ``max_hamming``: with ``max_hamming < bands`` the
    pigeonhole guarantees every true pair shares a band bucket, and
    the bit_count verify drops every false collision — no recall loss,
    no noise.

    Shape: band extraction is a stateless per-row posexplode; the
    (band, val) equi-join against the static side prices each probe by
    its buckets' occupancy, never the corpus; one streaming groupBy
    collapses multi-band collisions to a row per (new_id, old_id) —
    state is one row per EMITTED match (update mode). availableNow
    over a static batch equals the brute-force pair set (pinned by
    test).

    Caveat vs the batch candidate generator
    (:func:`operators.dedup.simhash_pair_candidates`): no hot-bucket
    sub-banding here — a degenerate fingerprint value that piles many
    index rows into one (band, val) bucket (all-silence clips,
    constant frames) prices every probe of that bucket by its full
    occupancy. Pre-filter degenerate signatures from the INDEX side
    (they are near-dups of each other, not of anything else) before
    handing it to the stream."""
    if max_hamming >= bands:
        # same contract as the batch generator: the pigeonhole only
        # guarantees a shared band when strictly fewer differing bits
        # than bands exist — a silent recall hole otherwise
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}) for "
            "the banded join to be lossless"
        )
    width = bits // bands
    mask = (1 << width) - 1

    def banded(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(sig_col).alias(f"_s_{out_id}"),
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col(sig_col), b * width).bitwiseAND(
                            F.lit(mask)
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band", "val"),
        )

    hamming = F.bit_count(
        F.col("_s_new_id").bitwiseXOR(F.col("_s_old_id"))
    ).cast("int")
    return (
        banded(new_sigs, "new_id")
        .join(banded(index_sigs, "old_id"), ["band", "val"])
        .where(F.col("new_id") != F.col("old_id"))
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .groupBy("new_id", "old_id")
        .agg(F.min("hamming").alias("hamming"))
    )


def knn_edges_stream(
    new_stream: DataFrame,
    centroids: DataFrame,
    cells: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_probe: int = 2,
) -> DataFrame:
    """Streaming twin of the persisted kNN graph's FORWARD half: an
    ingest stream of new embeddings gets its top-``k`` exact-cosine
    edges against the stored graph index online — the
    similarity-family member of the incremental_near_dup_stream /
    fingerprint_dup_stream pattern. ``centroids``/``cells`` are the
    static frames :func:`operators.similarity.knn_graph_read`'s layout
    stores (``knn_graph.json`` sibling tables); the nightly
    :func:`operators.similarity.knn_graph_append` remains the
    compaction path that ALSO back-updates existing vectors' edges
    (a stream cannot rewrite the stored graph; it can tell you, at
    ingest time, what each new vector is near).

    Emits one row per new vector: (query_id, topk) with ``topk`` an
    array of (neighbor_id, cos_sim) structs in rank order — an array,
    not exploded rows, because per-query top-k in a stream is a
    streaming AGGREGATION (collect_list + array_sort; windows are a
    batch-only tool) and each vector's candidates arrive in one
    micro-batch via the stream-static cell equi-join, so rows
    stabilize immediately (run the sink in update mode, the
    incremental_near_dup_stream contract).

    Shape: quantization is the same stateless Arrow/BLAS map the
    batch graph uses (:func:`_probe_cells_numpy` runs unchanged on a
    streaming frame); candidates come from the stream-static join
    against the index's HOME rows on cell — the static side is the
    cell-partitioned parquet, so each micro-batch scans only the
    probed cells' files; ties break (cos DESC, neighbor ASC), the
    engine-exact convention."""
    from petastorm_spark.operators.similarity import _probe_cells_numpy, cosine

    crows = centroids.select("cell", "cent_vec").collect()
    probed = _probe_cells_numpy(
        new_stream, crows, id_col, vec_col, n_probe, keep_order=True
    )
    probes = probed.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode("_cells").alias("cell"),
    )
    cand = cells.where(F.col("is_home")).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        "cell",
    )
    scored = (
        probes.join(cand, "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    ranked = scored.groupBy("query_id").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("cos_sim")).alias("_nc"),
                        F.col("neighbor_id").alias("neighbor_id"),
                    )
                )
            ),
            1,
            k,
        ).alias("_top")
    )
    return ranked.select(
        "query_id",
        F.transform(
            "_top",
            lambda s: F.struct(
                s.getField("neighbor_id").alias("neighbor_id"),
                F.round(-s.getField("_nc"), 4).alias("cos_sim"),
            ),
        ).alias("topk"),
    )


def kmeans_assign_stream(
    new_stream: DataFrame,
    cents: dict[int, list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 8,
    micro: int = 10**6,
) -> DataFrame:
    """Streaming twin of :func:`operators.similarity.kmeans_lloyd`'s
    assignment: an ingest stream of embeddings is assigned against a
    FROZEN clustering (``cents`` = :func:`operators.similarity.
    kmeans_fit`'s {cell: integer centroid} model) online — the
    clustering-family member of the lm_score_stream pattern (score
    the stream against a model trained offline; retrain nightly, not
    per micro-batch).

    Emits (id_col, cell, dist_q) per vector, bit-identical to the
    batch ``output="assign"`` path: quantization and the integer
    argmin fold are the SAME stateless Catalyst expressions, so this
    is a pure per-row map — no state store, no watermark, append-mode
    safe at any ingest rate."""
    from petastorm_spark.operators.similarity import (
        _kmeans_assign_expr,
        _kmeans_quantize_expr,
    )

    pts = new_stream.select(
        F.col(id_col),
        _kmeans_quantize_expr(vec_col, dims, micro).alias("_xq"),
    )
    a = pts.withColumn("_a", _kmeans_assign_expr(cents))
    return a.select(
        id_col,
        F.col("_a.cell").alias("cell"),
        F.col("_a.dist").alias("dist_q"),
    )


def constraint_check_stream(
    stream: DataFrame,
    checks: list,
) -> DataFrame:
    """Streaming twin of :func:`operators.profiling.check_constraints`:
    the data contract watched as the dataset accretes — running
    violation counts per check, one output row per check (run the
    sink in update mode; each micro-batch revises the totals).
    State is ONE counter per check, bounded at any ingest rate.

    Supports the single-pass kinds (not_null / range / in_set /
    regex) — their violation flags fold into one streaming aggregate
    and the long-form explode after it is stateless. The ``unique``
    kind needs a key-grouped count (a second stateful operator) and
    stays a batch/nightly gate; asking for it here raises."""
    from petastorm_spark.operators.profiling import fused_violation_counts

    if any(chk[0] == "unique" for chk in checks):
        raise ValueError(
            "unique needs a key-grouped count (second stateful "
            "operator) — run it through the batch "
            "check_constraints gate"
        )
    return fused_violation_counts(stream, checks).withColumn(
        "passed", F.col("n_violations") == 0
    )
