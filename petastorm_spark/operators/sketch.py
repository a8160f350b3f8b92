"""Mergeable sketch operators — the cardinality path that replaces
exact ``countDistinct`` at corpus scale.

An exact distinct count shuffles every distinct value; a HyperLogLog
register table shuffles at most ``m = 2^p`` 1-byte registers per
group, merges with ``max``, and re-aggregates incrementally (new data
=> union register tables => ``max`` again). That is the difference
between "count distinct users per segment over 100 TB" being an
occurrence-scale exchange and a constant-size one.

Unlike the engines' built-in approx sketches (Spark HLL++ vs DuckDB
approx_count_distinct — different algorithms, different answers), this
implementation is *engine-portable by construction*: the hash is the
same 60-bit md5 prefix contract as the dedup family (dedup.hash60 /
hash60_sql), the register update is a plain ``max``, and the estimator
is closed-form arithmetic on exact powers of two — so a DuckDB oracle
reproduces the estimate bit-for-bit and the correctness gate applies
to an *approximate* operator. Flajolet et al. 2007 HLL with the
standard small-range (linear counting) correction; no large-range
correction is needed at a 60-bit hash width.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from petastorm_spark.operators.dedup import hash60, hash60_sql


def _alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    if m == 64:
        return 0.709
    if m == 32:
        return 0.697
    return 0.673


def hll_registers(
    df: DataFrame, group_col: str, key_col: str, p: int = 10
) -> DataFrame:
    """The mergeable half: (group, bucket, M) register rows where
    ``M = max(rho)`` over keys landing in the bucket. Union two
    register tables and re-aggregate ``max(M)`` to merge sketches —
    the incremental/distributed update path. Scale: one partially-
    aggregated shuffle keyed on (group, bucket); at most ``2^p`` rows
    per group survive regardless of input size.
    """
    if not 4 <= p <= 20:
        raise ValueError(f"p must be in [4, 20], got {p}")
    m = 1 << p
    hdf = df.select(F.col(group_col), hash60(F.col(key_col)).alias("_h"))
    # integer `div`, not `/`: double division truncates past 2^53
    w = F.expr(f"_h div {m}")
    rho = (
        F.when(w > 0, F.lit(60 - p) - F.floor(F.log2(w)))
        .otherwise(F.lit(60 - p + 1))
        .cast("int")
    )
    return (
        hdf.select(
            F.col(group_col),
            (F.col("_h") % m).alias("bucket"),
            rho.alias("_rho"),
        )
        .groupBy(group_col, "bucket")
        .agg(F.max("_rho").alias("M"))
    )


def hll_estimate(
    registers: DataFrame, group_col: str, p: int = 10
) -> DataFrame:
    """Collapse a register table to per-group cardinality estimates.
    Output: (group, hll_distinct) with the estimate floor-scaled to
    1e-4. Closed-form and engine-exact: ``2^-M`` terms are exact
    doubles, absent registers contribute ``2^0 = 1`` each.
    """
    m = 1 << p
    alpha = _alpha(m)
    n_present = F.count(F.lit(1))
    sum_pow = F.sum(F.pow(F.lit(2.0), -F.col("M"))) + (m - n_present)
    raw = F.lit(alpha * m * m) / sum_pow
    v = m - n_present  # registers never observed (rho >= 1 when seen)
    corrected = F.when(
        (raw <= 2.5 * m) & (v > 0), m * F.log(F.lit(float(m)) / v)
    ).otherwise(raw)
    return registers.groupBy(group_col).agg(
        (F.floor(corrected * 10000) / 10000).alias("hll_distinct")
    )


def hll_distinct(
    df: DataFrame, group_col: str, key_col: str, p: int = 10
) -> DataFrame:
    """Per-group approximate distinct count, one call: registers then
    estimate. Standard error ~= 1.04 / sqrt(2^p) (p=10 -> ~3.3%)."""
    return hll_estimate(hll_registers(df, group_col, key_col, p), group_col, p)


def hll_oracle_sql(
    table_expr: str, group_col: str, key_col: str, p: int = 10
) -> str:
    """DuckDB SQL computing the identical estimate (the correctness
    twin of :func:`hll_distinct`)."""
    m = 1 << p
    alpha = _alpha(m)
    h = hash60_sql(key_col)
    return f"""
    WITH occ AS (SELECT {group_col} AS grp,
                        ({h}) % {m} AS bucket,
                        ({h}) // {m} AS w
                 FROM {table_expr}),
    regs AS (SELECT grp, bucket,
                    max(CASE WHEN w > 0
                             THEN {60 - p} - floor(log2(w))
                             ELSE {60 - p + 1} END) AS M
             FROM occ GROUP BY grp, bucket),
    est AS (SELECT grp,
                   count(*) AS n_present,
                   sum(power(2.0, -M)) + ({m} - count(*)) AS sum_pow
            FROM regs GROUP BY grp)
    SELECT grp AS {group_col},
           floor((CASE WHEN ({alpha * m * m} / sum_pow) <= {2.5 * m}
                        AND ({m} - n_present) > 0
                       THEN {m} * ln({float(m)} / ({m} - n_present))
                       ELSE {alpha * m * m} / sum_pow END) * 10000) / 10000
             AS hll_distinct
    FROM est
    """


def _self_check() -> None:  # pragma: no cover - documentation aid
    """The two halves agree by construction; see tests/test_misc_ops.py
    for the executable accuracy + merge properties."""
    assert math.isclose(_alpha(1 << 10), 0.7213 / (1.0 + 1.079 / 1024))


def cm_sketch(
    df: DataFrame, key_col: str, w: int = 1024, d: int = 4
) -> DataFrame:
    """Count-min sketch registers: (r, bucket, c) rows, ``d`` hash
    rows of ``w`` buckets — frequency estimation in ``d*w`` cells no
    matter how many distinct keys (the heavy-hitter companion to the
    HLL cardinality sketch; same engine-portable md5-prefix hashing,
    so estimates are bit-identical across engines). Merge sketches by
    unioning register tables and summing per (r, bucket) — the
    incremental/distributed path.

    Scale: ONE scan — the d (row, bucket) pairs explode map-side
    inline with the projection (until round 6 this was a d-way
    self-union, i.e. d scans of the source); one partially-aggregated
    shuffle keyed on (r, bucket); at most ``d * w`` rows survive.
    The same expression runs unchanged over a readStream
    (:func:`petastorm_spark.streaming.feed.cm_sketch_stream`) because
    the state is the register table itself.
    """
    if w < 2 or d < 1:
        raise ValueError(f"w >= 2 and d >= 1 required, got {w=} {d=}")
    return (
        df.select(F.explode(_cm_pairs(key_col, w, d)).alias("_p"))
        .select(F.col("_p.r").alias("r"), F.col("_p.bucket").alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _cm_pairs(key_col: str, w: int, d: int):
    """The d (r, bucket) pairs for one key, as an array column, hashed
    as cm_estimate's probes are."""
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                (hash60(F.col(key_col), seed=r) % w).alias("bucket"),
            )
            for r in range(d)
        ]
    )


def cm_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, w: int = 1024, d: int = 4
) -> DataFrame:
    """Point-query a count-min sketch for every row of ``keys``:
    estimate = min over the d rows of that key's bucket count (an
    upper bound on the true frequency; error <= N*e/w with prob
    1-e^-d). The sketch is tiny (d*w rows) — BROADCAST into the probe
    join, so estimation is a pure map over the key set."""
    probes = [
        keys.select(
            F.col(key_col),
            F.lit(r).alias("r"),
            (hash60(F.col(key_col), seed=r) % w).alias("bucket"),
        )
        for r in range(d)
    ]
    out = probes[0]
    for p in probes[1:]:
        out = out.unionByName(p)
    # LEFT join: a probe landing in a cell NO corpus key touched has
    # count 0 — an inner join would drop that row and report the min
    # of the remaining (collision-inflated) cells, turning the
    # guaranteed-0 answer for absent keys into a positive estimate
    # (or dropping the key from the output entirely)
    return (
        out.join(F.broadcast(sketch), ["r", "bucket"], "left")
        .groupBy(key_col)
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0)))
            .cast("bigint")
            .alias("cm_count")
        )
    )


def cm_oracle_sql(
    table_expr: str, key_col: str, w: int = 1024, d: int = 4
) -> str:
    """DuckDB SQL computing identical count-min estimates for every
    distinct key of ``table_expr`` (the correctness twin)."""
    def h(seed: int) -> str:
        return f"(({hash60_sql(key_col, seed=seed)}) % {w})"

    occ = "\nUNION ALL\n".join(
        f"SELECT {r} AS r, {h(r)} AS bucket FROM {table_expr}" for r in range(d)
    )
    probe = "\nUNION ALL\n".join(
        f"SELECT {key_col}, {r} AS r, {h(r)} AS bucket"
        f" FROM (SELECT DISTINCT {key_col} FROM {table_expr})"
        for r in range(d)
    )
    return f"""
    WITH occ AS ({occ}),
    sk AS (SELECT r, bucket, count(*) AS c FROM occ GROUP BY r, bucket),
    probe AS ({probe})
    SELECT p.{key_col}, min(sk.c) AS cm_count
    FROM probe p JOIN sk USING (r, bucket)
    GROUP BY p.{key_col}
    """


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct/overlap sketch
# ---------------------------------------------------------------------------


def kmv_sketch(
    df: DataFrame,
    group_col: str,
    elem_col: str,
    k: int = 256,
) -> DataFrame:
    """Per-group KMV sketch: the ``k`` smallest distinct 60-bit md5
    hashes of the group's elements, as one sorted array row per group
    — the third mergeable-sketch family next to HLL (cardinality) and
    count-min (frequency), and the one that supports SET OPERATIONS:
    union/intersection/Jaccard between groups are computable from
    sketches alone (Beyer et al., "On synopses for distinct-value
    estimation under multiset operations").

    Deterministic (md5, no RNG), so estimates are bit-reproducible
    across engines and a SQL oracle can rebuild them. Scale: one
    distinct shuffle on (group, hash), then an EXACT k-min per group
    via grouped_rank — range-partitioned, never a one-task-per-group
    window — and a k-bounded collect per group. Merge sketches by
    array_union + re-sort + cap, so shards/ingest batches combine
    without rescanning."""
    from petastorm_spark.operators.dedup import hash60
    from petastorm_spark.operators.rank import grouped_rank

    h = (
        df.select(
            F.col(group_col).alias("g"),
            hash60(F.col(elem_col).cast("string")).alias("h"),
        )
        .distinct()
    )
    topk = grouped_rank(h, ["g"], ["h"], rank_col="_r").where(F.col("_r") <= k)
    return (
        topk.groupBy("g")
        .agg(F.array_sort(F.collect_list("h")).alias("sketch"))
        .select(F.col("g").alias(group_col), "sketch")
    )


def kmv_distinct_estimate(sketch, k: int):
    """Distinct-count estimate from a KMV sketch column: exact |sketch|
    when the group had fewer than k distinct elements, else
    (k-1) / frac(h_k) with frac the k-th smallest hash normalized to
    [0,1)."""
    from petastorm_spark.predicates import HASH_SPACE

    s = F.col(sketch) if isinstance(sketch, str) else sketch
    return F.when(F.size(s) < k, F.size(s).cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.element_at(s, k).cast("double") / F.lit(HASH_SPACE))
    )


def kmv_overlap(
    sketches: DataFrame,
    group_col: str,
    k: int = 256,
) -> DataFrame:
    """Pairwise Jaccard estimates between groups from their KMV
    sketches ONLY (no second corpus pass): for each pair, the union's
    k-min values are the merged-sketch cap, and the estimate is the
    fraction of those present in both sketches. Output:
    (group_a, group_b, est_jaccard, est_distinct_a, est_distinct_b)
    for group_a < group_b.

    Scale: the input is one row per group — the pair join is
    sketch-table-sized (tiny) regardless of corpus size; that is the
    entire point of sketching the corpus down first."""
    a = sketches.select(
        F.col(group_col).alias("group_a"), F.col("sketch").alias("_sa")
    )
    b = sketches.select(
        F.col(group_col).alias("group_b"), F.col("sketch").alias("_sb")
    )
    union_k = F.slice(
        F.array_sort(F.array_union(F.col("_sa"), F.col("_sb"))), 1, k
    )
    inter = F.array_intersect(
        F.array_intersect(F.col("_sa"), F.col("_sb")), F.col("_uk")
    )
    return (
        a.crossJoin(b)
        .where(F.col("group_a") < F.col("group_b"))
        .withColumn("_uk", union_k)
        .select(
            "group_a",
            "group_b",
            F.round(
                F.size(inter) / F.least(F.lit(k), F.size(F.col("_uk"))), 4
            ).alias("est_jaccard"),
            F.round(kmv_distinct_estimate("_sa", k), 2).alias("est_distinct_a"),
            F.round(kmv_distinct_estimate("_sb", k), 2).alias("est_distinct_b"),
        )
    )


def log2_histogram(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    sub_bits: int = 3,
) -> DataFrame:
    """Deterministic mergeable quantile sketch: bucket positive
    integers into log2 octaves refined by ``sub_bits`` mantissa bits
    (an HDR-histogram-style layout) — at sub_bits=3 every bucket spans
    <= 12.5% relative width, so a quantile read from bucket lower
    bounds carries <= 12.5% relative error. State is CAPPED at
    ~64 * 2^sub_bits buckets per group no matter how many values
    arrive, and two sketches merge by summing bucket counts — the
    quantile member of the sketch family (HLL = distinct,
    count-min = frequency, KMV = set ops).

    The binning is PURE INTEGER (msb position via length(bin(v)),
    shift, mask) — no log() float whose last-ulp could flip a bucket
    between engines — so an external SQL oracle reproduces the sketch
    bit-exactly. Output: (group..., p, m, cnt, lower) where [lower,
    next-bucket-lower) is the bucket's value range. Non-positive
    values are dropped (log scale; shift negatives into range
    upstream).

    Scale: one partial-aggregated groupBy — the exchange carries at
    most #groups * #buckets rows, never values."""
    if sub_bits < 0:
        raise ValueError(f"sub_bits must be >= 0, got {sub_bits}")
    g = list(group_cols or [])
    v = F.col(value_col).cast("bigint")
    p = (F.length(F.bin(v)) - 1).alias("p")
    shift = F.greatest(F.col("p") - sub_bits, F.lit(0))
    binned = (
        df.where(v > 0)
        .select(*g, v.alias("_v"), p)
        .withColumn("_sh", shift)
        # pyspark's shiftright/shiftleft only take a literal bit count;
        # the SQL functions accept a column-valued shift
        .withColumn("m", F.expr("shiftright(_v, _sh)"))
    )
    return (
        binned.groupBy(*g, "p", "m", "_sh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("lower", F.expr("shiftleft(m, _sh)"))
        .drop("_sh")
    )


def histogram_quantiles(
    hist: DataFrame,
    group_cols: list[str] | None = None,
    probs_pct: list[int] = (50, 90, 99),
) -> DataFrame:
    """Quantile estimates from a :func:`log2_histogram`: for each
    integer percentile in ``probs_pct``, the lower bound of the first
    bucket whose cumulative count reaches that fraction of the group
    total. The crossing test is ``cum * 100 >= pct * N`` — all-integer
    arithmetic, so estimates are engine-exact, never a float epsilon
    away from flipping a bucket.

    Scale: the window runs over the SKETCH (<= ~512 rows per group),
    not the data; output is one row per group."""
    from pyspark.sql import Window

    g = list(group_cols or [])
    w = (
        Window.partitionBy(*g).orderBy("p", "m")
        if g
        else Window.partitionBy(F.lit(1)).orderBy("p", "m")
    )
    wt = (
        Window.partitionBy(*g) if g else Window.partitionBy(F.lit(1))
    )
    c = hist.withColumn("_cum", F.sum("cnt").over(w)).withColumn(
        "_n", F.sum("cnt").over(wt)
    )
    aggs = [
        F.min(
            F.when(
                F.col("_cum") * 100 >= F.lit(int(pct)) * F.col("_n"),
                F.col("lower"),
            )
        ).alias(f"p{int(pct)}")
        for pct in probs_pct
    ]
    return c.groupBy(*g).agg(
        F.max("_n").cast("bigint").alias("n_values"), *aggs
    )
