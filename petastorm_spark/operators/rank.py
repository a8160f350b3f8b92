"""Scalable exact global ranking — and the operators it unlocks
(exact equi-depth histograms, exact global ntile).

Spark's own ``Window.orderBy`` WITHOUT a partitionBy collapses the
whole dataset into ONE task — the classic scale ceiling (fine at 60 K
rows, dead at 100 TB). The distributed-exact alternative is the
classic three-step:

1. ``repartitionByRange`` on the order key — each task owns one
   contiguous key range (sampled boundaries, no global sort barrier);
2. partition-local ordinal — ``monotonically_increasing_id`` assigns
   ``(partition_id << 33) + local_offset`` in sort order, so the local
   ordinal is a pure projection, NO window exchange;
3. per-partition row counts (a tiny aggregate) cumulated into starting
   offsets and broadcast back — global_rank = offset + local ordinal.

Total cost: one range exchange + one partition-count-sized broadcast.
Nothing ever sees the whole dataset in one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from petastorm_spark.session import materialize


def global_rank(
    df: DataFrame,
    order_cols: list[Column | str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global row_number over ``order_cols`` (which must
    be a total order — include a unique tie-break column) WITHOUT a
    single-task global window. Appends ``rank_col``.

    Scale: one range exchange + partition-local sort; the offset table
    has one row per partition and broadcasts. The ordinal arithmetic
    relies on ``monotonically_increasing_id``'s documented layout
    (partition_id << 33 | consecutive offset), valid per-partition for
    up to 8.5 B rows each.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # persisted: both the offset aggregate and the output derive from
    # it — without the persist the range exchange (and everything
    # upstream) runs twice (same rationale as dedup.near_dup_pairs)
    ranged = materialize(
        df.repartitionByRange(parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright("_mid", 33).cast("bigint"))
        .withColumn(
            "_local",
            F.col("_mid") - F.shiftleft(F.col("_pid"), 33),
        )
    )
    offsets = (
        ranged.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_offset")
    )
    return (
        ranged.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, (F.col("_offset") + F.col("_local") + 1))
        .drop("_mid", "_pid", "_local", "_offset")
    )


def histogram_equidepth(
    df: DataFrame,
    value_col: str,
    tie_cols: list[str],
    n_bins: int = 16,
) -> DataFrame:
    """Exact equi-depth histogram: rank-cut ``n_bins`` bins of equal
    row count (±1), each with its exact row count and value bounds —
    optimizer-grade column statistics (selectivity estimation, skew
    maps, range-partition boundary picking) with NO sampling error and
    no cross-engine percentile-interpolation drift: every number is a
    count, min, or max over an engine-exact rank cut.

    Output: ``(bin, n_rows, lo, hi)``, bin 0-based in value order.
    Scale: the :func:`global_rank` plan plus one tiny (n_bins-row)
    aggregate; no single-task stage anywhere.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    ranked = global_rank(df, [value_col, *tie_cols], rank_col="_r")
    total = ranked.agg(F.count(F.lit(1)).alias("_n"))
    binned = ranked.crossJoin(F.broadcast(total)).withColumn(
        "bin", F.expr(f"((_r - 1) * {int(n_bins)}) div _n")
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
    )


def global_ntile(
    df: DataFrame,
    order_cols: list[Column | str],
    n: int,
    tile_col: str = "tile",
) -> DataFrame:
    """Exact global NTILE(n) (1-based, SQL semantics: the first
    ``total % n`` tiles get the extra row) without the single-task
    window — same plan as :func:`global_rank` plus a broadcast total.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    ranked = global_rank(df, order_cols, rank_col="_r")
    total = ranked.agg(F.count(F.lit(1)).alias("_n"))
    # SQL NTILE: base = total div n, extra = total % n; tiles 1..extra
    # have base+1 rows
    out = ranked.crossJoin(F.broadcast(total)).withColumn(
        tile_col,
        F.expr(
            f"CASE WHEN (_r - 1) < ((_n div {n}) + 1) * (_n % {n}) "
            f"THEN 1 + ((_r - 1) div ((_n div {n}) + 1)) "
            f"ELSE 1 + (_n % {n}) + "
            f"(((_r - 1) - ((_n div {n}) + 1) * (_n % {n})) div (_n div {n})) "
            f"END"
        ).cast("int"),
    )
    return out.drop("_r", "_n")


def grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column | str],
    rank_col: str = "rank",
    count_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based row_number PER GROUP over ``order_cols`` — without
    ``Window.partitionBy(group)``, whose parallelism is capped at the
    number of groups (5 languages = 5 tasks, a real 100 TB ceiling for
    low-cardinality strata). Optionally appends each group's total row
    count as ``count_col`` (rank cuts need it, and it rides the same
    tiny table for free).

    Plan: range-repartition on (group, order) so each task owns a
    contiguous slice — a GROUP larger than one partition spans several
    tasks, which is the whole point; partition-local ordinals come
    from ``monotonically_increasing_id`` (pure projection); one tiny
    aggregate per (partition, group) — bounded by partitions + groups
    rows, NOT data-scale — yields both the within-partition group
    starts and, cumulated per group in partition order, the
    cross-partition offsets. That table broadcasts back. Total: ONE
    data-scale exchange, zero windows over the data.

    Scope: LOW-cardinality strata (languages, sources, buckets) — the
    offset table has at most ``partitions + n_groups`` rows (groups
    are contiguous under the range partitioning). For HIGH-cardinality
    groups (per-user, per-doc) the plain ``Window.partitionBy(group)``
    is already fully parallel and is the right tool; this operator
    exists for the opposite regime, where group count < task count.
    """
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # persisted for the same two-consumer reason as global_rank
    ranged = materialize(
        df.repartitionByRange(parts, *group_cols, *ocols)
        .sortWithinPartitions(*group_cols, *ocols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright("_mid", 33).cast("bigint"))
    )
    pg = ranged.groupBy("_pid", *group_cols).agg(
        F.min("_mid").alias("_start"), F.count(F.lit(1)).alias("_n")
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_grp = Window.partitionBy(*group_cols)
    pg = pg.withColumn(
        "_offset", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).withColumn("_gn", F.sum("_n").over(w_grp))
    # NULL-safe join on the group columns: a NULL stratum is a real
    # group (Window.partitionBy semantics) and a plain equi-join would
    # silently drop every one of its rows
    pgj = pg.drop("_n").withColumnRenamed("_pid", "_pid2")
    aliases = {c: f"_g{i}" for i, c in enumerate(group_cols)}
    for c, a in aliases.items():
        pgj = pgj.withColumnRenamed(c, a)
    cond = F.col("_pid") == F.col("_pid2")
    for c, a in aliases.items():
        cond = cond & F.col(c).eqNullSafe(F.col(a))
    out = (
        ranged.join(F.broadcast(pgj), cond)
        .withColumn(
            rank_col, F.col("_offset") + (F.col("_mid") - F.col("_start")) + 1
        )
        .drop("_mid", "_pid", "_pid2", "_start", "_offset", *aliases.values())
    )
    if count_col is not None:
        out = out.withColumnRenamed("_gn", count_col)
    else:
        out = out.drop("_gn")
    return out
