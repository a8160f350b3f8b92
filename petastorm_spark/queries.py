"""Query catalog: every operator from SURVEY.md §2 exposed as a
(spark, sf_dir) -> DataFrame callable, with a DuckDB oracle SQL string
for the driver's correctness gate.

Naming contract: every computed column is aliased identically in the
DataFrame code and the oracle SQL — the driver sorts columns by name
and hashes values, so names must line up exactly.

Scale notes are inline per query: each one is written so the same
plan survives a 1000-executor / 100 TB run (broadcast the dims,
partial aggregation before shuffle, filters that reach the parquet
scan).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}
ROWS_ONLY: set[str] = set()


def register(name: str, oracle: str | None = None, rows_only: bool = False):
    """Register a query. Every query MUST either carry a DuckDB
    ``oracle`` SQL string (the value-level correctness gate) or
    explicitly declare ``rows_only=True`` (reserved for genuinely
    non-SQL-expressible ops — iterative algorithms with data-dependent
    round counts — which the driver then checks rows-only). Enforced
    here and by tests/test_registry_contract.py, so a query can never
    silently skip the oracle gate."""
    if (oracle is None) == (not rows_only):
        raise ValueError(
            f"query {name!r} must have exactly one of an oracle or an "
            "explicit rows_only=True declaration"
        )

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        else:
            ROWS_ONLY.add(name)
        return fn

    return deco


# Resolved table HANDLES, keyed by (session identity, path). Re-running
# spark.read.parquet for every query construction re-lists the
# directory, re-reads the footer schema and re-resolves the relation —
# measured r16 at 300-450 ms per table per call on the bench box, the
# dominant cost of every sub-second query's wall (a 6-table TPC-H query
# spent 2.7 s just CONSTRUCTING). A DataFrame is an unresolved plan,
# not data: caching the handle skips the repeated driver-side
# resolution while every execution still scans parquet (no result or
# data caching — clearCache() between bench runs has nothing of this
# to clear, and nothing here survives the process). Production
# analogue: Spark's own filesourcePartitionFileCacheSize caches file
# listings per session; holding the table handle is what any
# long-lived app does. Keyed by id()+applicationId so a stopped
# session's entries can never leak into a new one.
_T_CACHE: dict[tuple, DataFrame] = {}
_T_WIDE_PARTS: dict[tuple, int] = {}


def _session_key(spark: SparkSession) -> tuple:
    return (id(spark), spark.sparkContext.applicationId)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from petastorm_spark.session import ensure_session_confs

    # unconditional (r16 ADVICE): the expensive part being cached is the
    # read.parquet resolution; the conf re-assert is a cheap get/set and
    # must hold at EXECUTION time even if a driver mutated session confs
    # after the handle was first cached (nanosAsLong/UTC are runtime-
    # settable and a cache hit used to skip them)
    ensure_session_confs(spark)
    key = (*_session_key(spark), sf_dir, name)
    df = _T_CACHE.get(key)
    if df is None:
        _evict_dead_sessions(spark)
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _T_CACHE[key] = df
    return df


def _evict_dead_sessions(live: SparkSession) -> None:
    """Drop cached handles whose session is not the live one (r16
    ADVICE: entries for stopped sessions held strong refs to their
    SparkSession forever). Called on the miss path only — one tuple
    compare per cached key, no JVM round trips."""
    live_key = _session_key(live)
    for cache in (_T_CACHE, _T_WIDE_PARTS):
        dead = [k for k in cache if k[:2] != live_key]
        for k in dead:
            del cache[k]


def invalidate_table_cache() -> None:
    """Drop every cached table handle (r16 ADVICE): cached
    spark.read.parquet handles snapshot the file listing/footer schema
    at first resolution, so tools that REGENERATE data under a path
    already read in this session must call this before re-querying (the
    bench/oracle paths never rewrite testdata, so they never need it)."""
    _T_CACHE.clear()
    _T_WIDE_PARTS.clear()


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan + fan-out for COMPUTE-heavy consumers (tokenize/shingle/
    hash/vector math): a small single-row-group parquet file scans as
    ONE task, serializing all per-row map work before the first
    shuffle. When the scan yields fewer splits than cores, round-robin
    repartition first. Self-disabling at scale: a real corpus has
    >= cores splits, the condition is false, and no exchange is added
    — so this never costs anything where it could hurt. The split
    count is a property of the file layout (read-only test data), so
    it is memoized next to the table handle — the ``df.rdd`` probe
    re-ran analysis + physical planning on every construction."""
    df = _t(spark, sf_dir, name)
    key = (*_session_key(spark), sf_dir, name)
    parts = _T_WIDE_PARTS.get(key)
    if parts is None:
        parts = df.rdd.getNumPartitions()  # planning-only, no job
        _T_WIDE_PARTS[key] = parts
    cores = spark.sparkContext.defaultParallelism
    if parts < cores:
        return df.repartition(cores)
    return df


# ---------------------------------------------------------------------------
# Core analytic surface (SURVEY §2.6: aggregations/joins/sorts via Spark
# built-ins — the engine's DataFrame query surface).
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                       AS sum_qty,
           round(sum(l_extendedprice), 2)                                  AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                       AS avg_qty,
           round(avg(l_extendedprice), 4)                                  AS avg_price,
           round(avg(l_discount), 4)                                       AS avg_disc,
           count(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analogue. Scale: single scan + partial agg before the
    6-group shuffle; filter pushed to parquet row-group stats."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analogue. Scale: customer is the small side after the
    segment filter -> broadcast; lineitem never shuffles twice (agg keys
    are a superset of the join key). Deterministic top-10 via orderkey
    tie-break on the rounded revenue."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(
            orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analogue. Scale: region/nation/supplier/customer are all
    dimension tables -> broadcast chain; only orders |><| lineitem is a
    real shuffle, on the natural key."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(
            F.broadcast(
                supp.join(
                    F.broadcast(
                        nation.join(
                            F.broadcast(region),
                            F.col("n_regionkey") == F.col("r_regionkey"),
                        )
                    ),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                )
            ),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 analogue: pure filter + global agg — the canonical
    pushdown showcase (all three predicates reach the parquet scan;
    zero shuffle, single-row result)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analogue: top 20 customers by returned-item revenue.
    Scale: nation broadcast; customer broadcast after date-filtered
    orders shrink the build side; deterministic top-20 tie-break."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_share",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1998-04-01'
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analogue: promo revenue share (conditional agg over a
    broadcast join with part)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_share"))
    )


@register(
    "q18_large_orders",
    oracle="""
    WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
                 FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           round(total_qty, 2) AS total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 analogue: large-volume orders (HAVING over a pre-agg,
    then joins). Scale: the aggregation shrinks lineitem to order
    granularity before any join; the survivors broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_tq"))
        .where(F.col("_tq") > 300)
    )
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("_tq"), 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate <  TIMESTAMP '1997-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analogue: EXISTS -> left-semi join. Scale: semi join
    keeps only the orders keys (no lineitem payload crosses the
    shuffle); the correlated condition rides the join."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    semi = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "anti_join_idle_customers",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS sum_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c_mktsegment
    """,
)
def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS -> left-anti join (TPC-H Q22 shape): customers with no
    recent orders, by segment. Scale: anti join on the key column only."""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    idle = cust.join(
        recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    )
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
    )


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS ship_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
    GROUP BY supp_nation, cust_nation, ship_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analogue: bilateral trade volume between two nations by
    ship year. Scale: both nation joins broadcast; the OR-of-pairs
    predicate prunes before aggregation."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        j.withColumn("ship_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "q8_market_share",
    oracle="""
    WITH trade AS (
      SELECT CAST(year(o_orderdate) AS INT) AS order_year,
             n2.n_name AS supp_nation,
             l_extendedprice * (1 - l_discount) AS rev
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'STANDARD')
    SELECT order_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END)
                 / sum(rev), 6) AS mkt_share
    FROM trade GROUP BY order_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analogue: one nation's share of STANDARD-part revenue
    sold into ASIA, by year. Scale: five broadcast dims around one
    fact-fact shuffle; conditional agg avoids a second pass."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    trade = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        trade.withColumn("order_year", F.year("o_orderdate").cast("int"))
        .groupBy("order_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "q22_idle_rich_customers",
    oracle="""
    WITH cutoff AS (SELECT avg(c_acctbal) AS cut FROM customer WHERE c_acctbal > 0)
    SELECT c_mktsegment, count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer, cutoff
    WHERE c_acctbal > cut
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY c_mktsegment
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold + NOT EXISTS anti
    join — above-average-balance customers who never ordered. Scale:
    the 1-row aggregate broadcasts; anti join on the key only."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    cutoff = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("cut")
    )
    return (
        cust.crossJoin(F.broadcast(cutoff))
        .where(F.col("c_acctbal") > F.col("cut"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "running_totals",
    oracle="""
    WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
               FROM orders WHERE o_custkey < 100)
    SELECT o_custkey, o_orderkey,
           floor(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING) * 100) / 100 AS running_spend,
           floor(avg(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 100) / 100 AS avg_last3
    FROM o
    """,
)
def running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative sum + 3-row moving average per customer
    (window frames). Scale: one exchange on the partition key; frames
    evaluated in a single partition-local sort."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        (
            F.floor(
                F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0))
                * 100
            )
            / 100
        ).alias("running_spend"),
        (F.floor(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)) * 100) / 100).alias(
            "avg_last3"
        ),
    )


@register(
    "pred_in_lambda",
    oracle="""
    SELECT l_returnflag, count(*) AS n_rows
    FROM lineitem
    WHERE l_quantity * (1 - l_discount) > 30
    GROUP BY l_returnflag
    """,
)
def pred_in_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_lambda (P6): an arbitrary Python predicate evaluated as an
    Arrow-batched pandas UDF — the engine's UDF filter path, checked
    against the same logic in SQL. Scale: vectorized batches, but still
    the slow path; prefer Column predicates when expressible."""
    from petastorm_spark.predicates import filter_dataframe, in_lambda

    li = _t(spark, sf_dir, "lineitem")
    pred = in_lambda(
        ["l_quantity", "l_discount"],
        lambda cols: cols["l_quantity"] * (1 - cols["l_discount"]) > 30,
    )
    return filter_dataframe(li, pred).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "numeric_stats",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty,
           round(stddev(l_extendedprice), 4) AS sd_price,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order statistics + dispersion per group (percentile is
    exact interpolated, matching quantile_cont). Scale: percentile
    needs per-group sorted data — at 100 TB prefer approx_percentile
    (t-digest, one pass, mergeable); exact kept for the oracle."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.expr("percentile(l_quantity, 0.9)").alias("p90_qty"),
        F.round(F.stddev("l_extendedprice"), 4).alias("sd_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@register(
    "json_extract_events",
    oracle="""
    SELECT json_extract_string(props, '$.k')::BIGINT % 10 AS k_bucket,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY k_bucket
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a key out of the JSON props
    column and aggregate (get_json_object is JVM-side; at scale,
    from_json with an explicit schema beats repeated path extraction)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.withColumn("k_bucket", k % 10)
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "q13_customer_distribution",
    oracle="""
    WITH counts AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
    SELECT c_count, count(*) AS custdist
    FROM counts GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 analogue: order-count histogram incl. zero-order
    customers (left outer join + two-level agg)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    counts = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 analogue: correlated scalar subquery decorrelated into
    a per-part average joined back — the Catalyst-friendly form (one
    agg + one broadcast join instead of a per-row subquery)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(avg_qty), F.col("ap_key") == F.col("l_partkey"))
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "q19_disjunctive_pushdown",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_rows
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analogue: OR-of-ANDs predicate spanning both join
    sides — exercises disjunctive filter planning over a broadcast
    join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup aggregation (subtotals + grand total) —
    §2.6 surface. Scale: one pass, partial aggregation per grouping
    set before the exchange."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "set_ops_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                                   AND o_orderdate <  TIMESTAMP '1997-01-01'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                                   AND o_orderdate <  TIMESTAMP '1998-01-01'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
                                   AND o_orderdate <  TIMESTAMP '1999-01-01'
    """,
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT set algebra: customers active in both 1996 and
    1997 but not 1998. Scale: three filtered scans of one table; set ops
    hash-shuffle on the single key column only."""
    orders = _t(spark, sf_dir, "orders")

    def active(y: int) -> DataFrame:
        return orders.where(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select("o_custkey")

    return active(1996).intersect(active(1997)).exceptAll(active(1998).distinct())


@register(
    "topk_per_group",
    oracle="""
    WITH r AS (SELECT p_brand, p_partkey, p_retailprice,
                      row_number() OVER (PARTITION BY p_brand
                                         ORDER BY p_retailprice DESC, p_partkey) AS rk
               FROM part)
    SELECT p_brand, p_partkey, p_retailprice, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (3 priciest parts per brand) via ranked window.
    Scale: one exchange on the group key; AQE skew-join handles hot
    brands."""
    from pyspark.sql import Window

    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        part.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rk")
    )


@register(
    "distinct_agg",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation. Scale: expand+two-phase agg by
    Catalyst; approx_count_distinct is the 100 TB variant (HLL, one
    pass) exposed in functions but not oracle-comparable."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Reader-parity surface (SURVEY §2.1/§2.2): projection + predicates.
# ---------------------------------------------------------------------------


@register(
    "scan_projection",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_quantity IS NOT NULL
    """,
)
def scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection + not-null filter (P1/P11): the make_reader
    schema_fields path. Scale: ReadSchema is 5 of 11 columns, filter in
    PushedFilters."""
    return (
        _t(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
            & F.col("l_quantity").isNotNull()
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


# md5-fraction SQL fragment shared by the DuckDB oracles (matches
# petastorm_spark.predicates.md5_fraction bit-for-bit, verified).
_FRAC = "(('0x'||substr(md5(CAST({col} AS VARCHAR)),1,15))::BIGINT / 1152921504606846976.0)"


@register(
    "pred_pseudorandom_split",
    oracle=f"""
    WITH f AS (SELECT o_orderkey, o_totalprice,
                      {_FRAC.format(col='o_orderkey')} AS frac
               FROM orders)
    SELECT CASE WHEN frac < 0.7 THEN 0 WHEN frac < 0.85 THEN 1 ELSE 2 END AS split_id,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_totalprice
    FROM f GROUP BY split_id
    """,
)
def pred_pseudorandom_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (P9): 70/15/15 on o_orderkey.
    Key-stable — a row's subset never changes as the table grows.
    Scale: split_column assigns every row its subset as a CASE
    expression in a SINGLE scan (round 1 unioned three filtered scans —
    3x read amplification); no shuffle until the tiny aggregation. The
    in_pseudorandom_split predicate API remains for per-subset readers."""
    from petastorm_spark.predicates import split_column

    orders = _t(spark, sf_dir, "orders")
    return (
        orders.withColumn(
            "split_id", split_column([0.7, 0.15, 0.15], "o_orderkey")
        )
        .groupBy("split_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"),
        )
    )


@register(
    "shard_distribution",
    oracle=f"""
    SELECT CAST(floor({_FRAC.format(col='l_orderkey')} * 8) AS INT) AS shard_id,
           count(*) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY shard_id
    """,
)
def shard_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharding D1 as a deterministic md5 row-shard: the verification
    query shows every row lands in exactly one of 8 shards with even
    mass. Scale: single scan, 8-group agg."""
    from petastorm_spark.operators.sampling import shard_id

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.withColumn("shard_id", shard_id("l_orderkey", 8))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@register(
    "weighted_mix_events",
    oracle=f"""
    WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'
                    AND {_FRAC.format(col='event_id')} < 0.7),
         buys   AS (SELECT * FROM events WHERE event_type = 'purchase'
                    AND {_FRAC.format(col='event_id')} < 0.3)
    SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM (SELECT * FROM clicks UNION ALL SELECT * FROM buys)
    GROUP BY event_type
    """,
)
def weighted_mix_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WeightedSamplingReader D9, deterministic pipeline flavor: mix a
    0.7 sample of clicks with a 0.3 sample of purchases. Scale: two
    filtered scans unioned, zero shuffle before the 2-group agg."""
    from petastorm_spark.operators.sampling import weighted_mix

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    buys = ev.where(F.col("event_type") == "purchase")
    mixed = weighted_mix([clicks, buys], [0.7, 0.3], "event_id")
    return mixed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "ngram_trigram",
    oracle="""
    WITH e AS (SELECT user_id, event_id, event_type, value,
                      epoch_us(ts) AS ts_us
               FROM events),
         w AS (SELECT user_id,
                      ts_us                                                            AS t0_ts_us,
                      event_type                                                       AS t0_event_type,
                      lead(ts_us, 1)      OVER win AS t1_ts_us,
                      lead(event_type, 1) OVER win AS t1_event_type,
                      lead(ts_us, 2)      OVER win AS t2_ts_us,
                      lead(event_type, 2) OVER win AS t2_event_type,
                      lead(value, 2)      OVER win AS t2_value
               FROM e
               WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id))
    SELECT user_id, t0_ts_us, t0_event_type, t1_event_type, t2_event_type,
           round(t2_value, 2) AS t2_value
    FROM w
    WHERE t1_ts_us IS NOT NULL AND t2_ts_us IS NOT NULL
      AND (t1_ts_us - t0_ts_us) <= 86400000000
      AND (t2_ts_us - t1_ts_us) <= 86400000000
    """,
)
def ngram_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NGram W1: per-user trigrams over event time with a 24-hour
    delta threshold; per-offset column sets (full columns at t0, type
    only at t1, type+value at t2). Scale: one hash exchange on user_id
    + partition-local sort — no driver involvement."""
    from petastorm_spark.operators.ngram import NGram
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", events_ts_us(ev))
    ngram = NGram(
        fields={0: ["ts_us", "event_type"], 1: ["event_type"], 2: ["event_type", "value"]},
        delta_threshold=86_400_000_000,  # 24 h in µs
        timestamp_field="ts_us",
    )
    out = ngram.apply(ev, partition_by=["user_id"], order_tiebreak=["event_id"])
    return out.select(
        "user_id",
        "t0_ts_us",
        "t0_event_type",
        "t1_event_type",
        "t2_event_type",
        F.round(F.col("t2_value"), 2).alias("t2_value"),
    )


@register(
    "sessionization",
    oracle="""
    WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events),
         g AS (SELECT *,
                      CASE WHEN ts_us - lag(ts_us) OVER win > 1800000000
                           OR lag(ts_us) OVER win IS NULL THEN 1 ELSE 0 END AS is_new
               FROM e
               WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         s AS (SELECT *,
                      CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
               FROM g)
    SELECT user_id, session_id, count(*) AS n_events,
           round(sum(value), 2) AS sum_value, min(ts_us) AS session_start_us
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream sessionization (30-min inactivity gap) via lag + running
    sum — the batch twin of the structured-streaming session operator.
    Scale: one exchange on user_id; sessions never cross partitions."""
    from pyspark.sql import Window

    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", events_ts_us(ev))
    win = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = ev.withColumn(
        "is_new",
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(win) > 1_800_000_000)
            | F.lag("ts_us").over(win).isNull(),
            1,
        ).otherwise(0),
    )
    s = g.withColumn(
        "session_id", F.sum("is_new").over(win.rowsBetween(Window.unboundedPreceding, 0))
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.min("ts_us").alias("session_start_us"),
    )


@register(
    "events_hourly",
    oracle="""
    SELECT event_type,
           (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
           count(*) AS n_events,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY event_type, hour_us
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch twin of the
    readStream windowed agg in petastorm_spark.streaming). Scale:
    partial agg map-side, exchange on (type, hour)."""
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", events_ts_us(ev))
    hour = (F.expr("ts_us div 3600000000") * 3_600_000_000).cast("bigint")
    return (
        ev.withColumn("hour_us", hour)
        .groupBy("event_type", "hour_us")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


@register(
    "pred_in_set",
    oracle="""
    SELECT l_returnflag, count(*) AS n_rows, round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
    GROUP BY l_returnflag
    """,
)
def pred_in_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_set predicate (P4) compiled to Column.isin -> parquet pushdown."""
    from petastorm_spark.predicates import in_set

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(in_set(["A", "R"], "l_returnflag").to_column())
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@register(
    "q9_profit_by_nation_year",
    oracle="""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38, 6))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN part     ON p_partkey = l_partkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analogue (revenue per supplier-nation per year; the
    testdata schema has no partsupp/ps_supplycost, so profit reduces to
    revenue). Scale: the three dimension joins (part filter first,
    supplier, nation) broadcast; orders joins on the fact's key; one
    shuffle into the 150-group agg."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            # decimal-exact summation: double sums are order-dependent
            # and this 150-group agg hit a half-cent tie between
            # engines; decimal addition is associative so the rounded
            # cents agree regardless of partitioning
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q12_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
    GROUP BY l_linestatus
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analogue (the testdata has no l_shipmode/commit/receipt
    dates, so the ship-window classification keys on l_linestatus).
    Scale: shipdate range pushes to row-group stats; conditional agg is
    map-side partial; one 2-group exchange."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate <  TIMESTAMP '1998-04-01'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 analogue: supplier(s) with the maximum quarterly
    revenue. Scale: revenue agg is one fact shuffle; the scalar max
    comes back as a 1-row broadcast joined against the tiny revenue
    side — no second fact scan, no window over everything."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("max_rev"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        revenue.join(
            F.broadcast(top), F.col("total_revenue") == F.col("max_rev")
        )
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q16_part_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13' AND p_size IN (5, 10, 15, 20, 25)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analogue: distinct suppliers per part family, with
    lineitem standing in for partsupp (the actual supplier-part
    relation observed in sales). Scale: filtered part side broadcasts;
    count(distinct) expands to a two-phase exact aggregate."""
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#13") & F.col("p_size").isin(5, 10, 15, 20, 25)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "events_pivot",
    oracle="""
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
)
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type counts as columns. Scale: with the
    pivot values declared literally, Spark plans ONE pass with
    conditional aggregates (no extra distinct-values job) — same shape
    as the hand-written CASE sums in the oracle."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).cast("bigint").alias(k) for k in kinds]
    )


@register(
    "acctbal_percentiles",
    oracle="""
    SELECT c_mktsegment,
           round(quantile_cont(c_acctbal, 0.25), 4) AS p25,
           round(quantile_cont(c_acctbal, 0.50), 4) AS p50,
           round(quantile_cont(c_acctbal, 0.90), 4) AS p90,
           round(avg(c_acctbal), 4) AS mean_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def acctbal_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per segment (Spark `percentile`
    == DuckDB `quantile_cont`, both linear interpolation). Scale: exact
    percentiles sort per group — at 100 TB swap to approx_percentile
    (t-digest) and accept the documented error bound; kept exact here
    because the oracle must agree bit-for-bit."""
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.round(F.percentile("c_acctbal", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("c_acctbal", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("c_acctbal", F.lit(0.90)), 4).alias("p90"),
        F.round(F.avg("c_acctbal"), 4).alias("mean_bal"),
    )


@register(
    "cube_order_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate: all 2^2 grouping sets in one pass (rollup's big
    sibling; agg_rollup covers the hierarchy case). Scale: Spark
    expands the cube map-side before one exchange — no per-set rescan."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@register(
    "skew_join_salted",
    oracle="""
    SELECT s_name, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_name
    """,
)
def skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join equivalence: the (key, salt) join with the
    small side replicated must reproduce the plain join bit-for-bit
    (the oracle IS the plain join). Scale: whale suppkeys spread over
    8 reducers instead of one straggler; the replication cost rides
    the dimension side only."""
    from petastorm_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    joined = salted_join(li, supp, "l_suppkey", "s_suppkey", salt=8)
    return joined.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               round(sum(l_extendedprice * (1 - l_discount)) / sum(l_quantity), 4)
                 AS unit_cost
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_size IN (15, 25)
        GROUP BY l_partkey, l_suppkey),
    ranked AS (
        SELECT l_partkey, l_suppkey, unit_cost,
               row_number() OVER (PARTITION BY l_partkey
                                  ORDER BY unit_cost, l_suppkey) AS rn
        FROM cost)
    SELECT l_partkey AS p_partkey, s_name, unit_cost
    FROM ranked JOIN supplier ON s_suppkey = l_suppkey
    WHERE rn = 1
    ORDER BY p_partkey
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analogue (no partsupp table: the observed unit cost in
    lineitem stands in for ps_supplycost). Cheapest supplier per part in
    a size slice, ties broken by suppkey. Scale: part filter broadcasts
    into the fact scan; one (part, supp) agg shuffle; the rank window
    partitions by part (thousands of small groups, no funnel)."""
    from pyspark.sql import Window

    part = _t(spark, sf_dir, "part").where(F.col("p_size").isin(15, 25))
    li = _t(spark, sf_dir, "lineitem")
    cost = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                / F.sum("l_quantity"),
                4,
            ).alias("unit_cost")
        )
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    supp = _t(spark, sf_dir, "supplier")
    return (
        cost.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"), "s_name", "unit_cost"
        )
        .orderBy("p_partkey")
    )


@register(
    "q11_important_parts",
    oracle="""
    WITH val AS (
        SELECT l_partkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_value
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE n_name = 'NATION_3'
        GROUP BY l_partkey)
    SELECT l_partkey AS p_partkey, part_value
    FROM val
    WHERE part_value > (SELECT sum(part_value) * 0.002 FROM val)
    ORDER BY part_value DESC, p_partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analogue: parts whose traded value through one
    nation's suppliers exceeds a fraction of that nation's total.
    Scale: nation+supplier dims broadcast; one part agg shuffle; the
    scalar total comes back as a 1-row broadcast, not a second scan of
    the aggregate (the val frame is reused across both sides)."""
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    li = _t(spark, sf_dir, "lineitem")
    val = (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("l_partkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("part_value")
        )
    )
    total = val.agg((F.sum("part_value") * 0.002).alias("threshold"))
    return (
        val.join(F.broadcast(total))
        .where(F.col("part_value") > F.col("threshold"))
        .select(F.col("l_partkey").alias("p_partkey"), "part_value")
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


@register(
    "q20_excess_suppliers",
    oracle="""
    SELECT s_suppkey, s_name, round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
    GROUP BY s_suppkey, s_name
    HAVING sum(l_quantity) > 100
    ORDER BY s_suppkey
    """,
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analogue: suppliers who moved a large volume of a part
    family in one year. Scale: the part-family id list is a broadcast
    LEFT SEMI join (no row duplication); shipdate range reaches the
    row-group stats; HAVING is post-agg on tiny groups."""
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        li.join(
            F.broadcast(part.select("p_partkey")),
            F.col("p_partkey") == F.col("l_partkey"),
            "left_semi",
        )
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 100)
        .orderBy("s_suppkey")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    WITH ls AS (
        SELECT l_orderkey, l_suppkey,
               max(CASE WHEN CAST(l_shipdate AS DATE) >
                             CAST(o_orderdate AS DATE) + 90
                        THEN 1 ELSE 0 END) AS late
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        GROUP BY l_orderkey, l_suppkey),
    per_order AS (
        SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late
        FROM ls GROUP BY l_orderkey)
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM ls
    JOIN per_order USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE late = 1 AND n_supp >= 2 AND n_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analogue (no receipt/commit dates: 'late' = shipped
    more than 90 days after the order date). Suppliers who were the
    SOLE late supplier on a multi-supplier order — the exists/not-exists
    pair re-expressed as one grouped pass plus an order-level profile
    join, so the fact table is scanned once, not three times.
    Scale: two shuffles ((order,supp) agg, then order profile), both
    key-partitioned; supplier dim broadcasts; deterministic total
    order before the LIMIT."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    late_flag = F.when(
        F.to_date("l_shipdate") > F.date_add(F.to_date("o_orderdate"), 90), 1
    ).otherwise(0)
    ls = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late_flag).alias("late"))
    )
    per_order = ls.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("late").alias("n_late")
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        ls.join(per_order, "l_orderkey")
        .where((F.col("late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@register(
    "events_ewma",
    # r3 ADVICE: both coefficients derive from the SAME float64
    # computation the Spark-side fold uses (1.0 - alpha, which is NOT
    # the literal 0.7 — it differs by 1 ulp), so the engines disagree
    # only by accumulation order, which round(4) absorbs.
    oracle=f"""
    WITH g AS (SELECT user_id,
                      list(value ORDER BY ts, value) AS vals,
                      epoch_us(max(ts)) AS last_ts_us
               FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           round(list_reduce(vals, (acc, x) -> 0.3*x + {1.0 - 0.3!r}*acc), 4)
             AS ewma,
           last_ts_us
    FROM g
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values in (ts, value) order — an
    order-dependent fold no built-in aggregate expresses, so the
    pandas-UDF path (applyInPandas, vectorized closed-form fold) is the
    right tool; its streaming twin
    (streaming/feed.py:running_ewma_stream) runs the same fold through
    operators/stateful.fold_by_key. Scale:
    one key shuffle, Arrow-batched groups."""
    from petastorm_spark.operators.stateful import ewma_by_key
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    # normalize event time to epoch-µs up front so the pandas fold and
    # the emitted last_ts are integer µs whatever the parquet layout
    ev = ev.withColumn("ts_us", events_ts_us(ev))
    out = ewma_by_key(ev, "user_id", "ts_us", "value", alpha=0.3)
    return out.select(
        "user_id",
        "n_events",
        F.round("ewma", 4).alias("ewma"),
        F.col("last_ts").alias("last_ts_us"),
    )


@register(
    "events_ewma_agg",
    oracle=f"""
    WITH g AS (SELECT user_id,
                      list(value ORDER BY ts, value) AS vals,
                      epoch_us(max(ts)) AS last_ts_us
               FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           round(list_reduce(vals, (acc, x) -> 0.3*x + {1.0 - 0.3!r}*acc), 4)
             AS ewma,
           last_ts_us
    FROM g
    """,
)
def events_ewma_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA as a pure JVM fold: sort_array(collect_list) +
    F.aggregate — the zero-Python twin of :func:`events_ewma`. Same
    left-to-right float64 iteration as DuckDB's list_reduce, so parity
    is bit-exact, and no Arrow exchange: one key shuffle, then an
    in-JVM lambda over per-key arrays (bounded by events-per-key).
    Prefer this when per-key histories fit an array column;
    operators/stateful.fold_by_key's pandas folds cover unbounded
    streams and multi-column state."""
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", events_ts_us(ev))
    g = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts_us", "value"))).alias("vs"),
        F.max("ts_us").alias("last_ts_us"),
    )
    fold = F.aggregate(
        F.expr("slice(vs, 2, greatest(size(vs) - 1, 0))"),
        F.element_at("vs", 1)["value"].cast("double"),
        lambda acc, x: F.lit(0.3) * x["value"] + F.lit(1.0 - 0.3) * acc,
    )
    return g.select(
        "user_id",
        F.size("vs").cast("bigint").alias("n_events"),
        F.round(fold, 4).alias("ewma"),
        "last_ts_us",
    )


@register(
    "asof_join_clicks",
    oracle="""
    WITH e AS (SELECT user_id, event_id, event_type, value,
                      epoch_us(ts) AS ts_us
               FROM events),
         clicks AS (SELECT user_id, event_id, ts_us FROM e
                    WHERE event_type = 'click'),
         purch AS (SELECT user_id, ts_us, max(value) AS pvalue
                   FROM e WHERE event_type = 'purchase'
                   GROUP BY user_id, ts_us)
    SELECT c.user_id, c.event_id, c.ts_us,
           p.ts_us AS asof_ts_us,
           round(p.pvalue, 2) AS asof_pvalue
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND p.ts_us <= c.ts_us
    """,
)
def asof_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click gets the user's most recent purchase
    value at-or-before it (the canonical trades-vs-quotes shape).
    Spark has no ASOF JOIN; the operator expresses it as union + one
    keyed window pass — one exchange, no nested-loop join (see
    operators/temporal.py). Oracle is DuckDB's native ASOF LEFT JOIN,
    an independent implementation of the same semantics. Right side is
    pre-aggregated per (user, ts) so ties are well-defined."""
    from petastorm_spark.operators.temporal import asof_join
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", events_ts_us(ev))
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts_us"
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_us")
        .agg(F.max("value").alias("pvalue"))
    )
    out = asof_join(clicks, purch, "user_id", "ts_us", ["pvalue"])
    return out.select(
        "user_id",
        "event_id",
        "ts_us",
        "asof_ts_us",
        F.round("asof_pvalue", 2).alias("asof_pvalue"),
    )


@register(
    "range_join_campaigns",
    oracle="""
    WITH e AS (SELECT user_id, value, epoch_us(ts) AS ts_us FROM events),
         iv AS (SELECT DISTINCT (ts_us // 86400000000) * 86400000000 AS start_us,
                       (ts_us // 86400000000) * 86400000000 + 43200000000 AS end_us
                FROM e
                WHERE (ts_us // 86400000000) % 3 = 0)
    SELECT iv.start_us, count(*) AS n_events,
           round(avg(e.value), 4) AS avg_value,
           count(DISTINCT e.user_id) AS n_users
    FROM e JOIN iv ON e.ts_us >= iv.start_us AND e.ts_us < iv.end_us
    GROUP BY iv.start_us
    """,
)
def range_join_campaigns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (point-in-interval) join: events against 12-hour campaign
    windows on every third day, aggregated per window. Spark plans a
    raw inequality join as a nested loop; ``range_join_binned``
    rewrites it to a bin-bucketed equi-join + residual filter, which
    hash-partitions on BOTH sides and survives big-big inputs (the
    interval table here is small, but the plan shape is the general
    one). Oracle: DuckDB inequality join."""
    from petastorm_spark.operators.temporal import range_join_binned
    from petastorm_spark.session import events_ts_us

    DAY = 86_400_000_000
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", events_ts_us(ev)).select(
        "user_id", "value", "ts_us"
    )
    day_start = (F.expr(f"ts_us div {DAY}") * DAY).cast("bigint")
    iv = (
        ev.where(F.expr(f"(ts_us div {DAY}) % 3 = 0"))
        .select(day_start.alias("start_us"))
        .distinct()
        .withColumn("end_us", (F.col("start_us") + DAY // 2).cast("bigint"))
    )
    joined = range_join_binned(
        ev, iv, "ts_us", "start_us", "end_us", bin_width=3_600_000_000
    )
    return joined.groupBy("start_us").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "resample_user_values",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t, value, event_id
               FROM events WHERE user_id < 50),
    o AS (SELECT user_id, b, value FROM (
        SELECT user_id, (t // 86400000000) * 86400000000 AS b, value,
               row_number() OVER (PARTITION BY user_id,
                                               (t // 86400000000)
                                  ORDER BY t DESC, event_id DESC) AS rn
        FROM e) WHERE rn = 1),
    s AS (SELECT user_id, min(b) AS lo, max(b) AS hi FROM o GROUP BY user_id),
    g AS (SELECT user_id, unnest(range(lo, hi + 1, 86400000000)) AS grid_ts
          FROM s),
    j AS (SELECT g.user_id, g.grid_ts, o.value AS v_obs
          FROM g LEFT JOIN o ON o.user_id = g.user_id AND o.b = g.grid_ts),
    f AS (SELECT user_id, grid_ts, v_obs,
                 last_value(v_obs IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY grid_ts
                     ROWS UNBOUNDED PRECEDING) AS v
          FROM j)
    SELECT user_id, CAST(grid_ts AS BIGINT) AS grid_ts,
           round(v, 4) AS value_ff,
           CAST(v_obs IS NULL AS INT) AS is_gap
    FROM f
    """,
)
def resample_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily resampling with forward fill — the hypertable
    time_bucket_gapfill + locf pair over each user's event values
    (users < 50): last observation per day wins (ts, event_id
    tie-break), missing days carry the previous value, is_gap flags
    the filled rows. See operators/temporal.resample_ffill for the
    bucket-collapse-before-window scale shape."""
    from petastorm_spark.operators.temporal import resample_ffill
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    ev = (
        ev.withColumn("ts_us", events_ts_us(ev))
        .where(F.col("user_id") < 50)
        .select("user_id", "ts_us", "value", "event_id")
    )
    out = resample_ffill(
        ev, "user_id", "ts_us", "value", 86_400_000_000, "event_id"
    )
    return out.select(
        "user_id",
        F.col("grid_ts").cast("bigint").alias("grid_ts"),
        F.round("value_ff", 4).alias("value_ff"),
        "is_gap",
    )


@register(
    "resample_user_interp",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t, value, event_id
               FROM events WHERE user_id < 50),
    o AS (SELECT user_id, b, value FROM (
        SELECT user_id, (t // 86400000000) * 86400000000 AS b, value,
               row_number() OVER (PARTITION BY user_id,
                                               (t // 86400000000)
                                  ORDER BY t DESC, event_id DESC) AS rn
        FROM e) WHERE rn = 1),
    s AS (SELECT user_id, min(b) AS lo, max(b) AS hi FROM o GROUP BY user_id),
    g AS (SELECT user_id, unnest(range(lo, hi + 1, 86400000000)) AS grid_ts
          FROM s),
    j AS (SELECT g.user_id, g.grid_ts, o.value AS v_obs
          FROM g LEFT JOIN o ON o.user_id = g.user_id AND o.b = g.grid_ts),
    f AS (SELECT user_id, grid_ts, v_obs,
                 last_value(v_obs IGNORE NULLS) OVER wp AS pv,
                 last_value(CASE WHEN v_obs IS NOT NULL THEN grid_ts END
                            IGNORE NULLS) OVER wp AS pt,
                 first_value(v_obs IGNORE NULLS) OVER wf AS nv,
                 first_value(CASE WHEN v_obs IS NOT NULL THEN grid_ts END
                             IGNORE NULLS) OVER wf AS nt
          FROM j
          WINDOW wp AS (PARTITION BY user_id ORDER BY grid_ts
                        ROWS UNBOUNDED PRECEDING),
                 wf AS (PARTITION BY user_id ORDER BY grid_ts
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, CAST(grid_ts AS BIGINT) AS grid_ts,
           round(CASE WHEN v_obs IS NOT NULL THEN v_obs
                      WHEN nv IS NULL THEN pv
                      ELSE pv + (nv - pv)
                           * (CAST(grid_ts - pt AS DOUBLE)
                              / CAST(nt - pt AS DOUBLE)) END, 4)
               AS value_ff,
           CAST(v_obs IS NULL AS INT) AS is_gap
    FROM f
    """,
)
def resample_user_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The linear-interpolation fill mode of the gapfill pair (the
    hypertable `interpolate()` next to resample_user_values' locf):
    interior gaps take the line between the previous and next observed
    daily buckets — exact bigint time deltas, one fixed scalar
    expression, bit-reproducible doubles; trailing gaps carry
    forward."""
    from petastorm_spark.operators.temporal import resample_ffill
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    ev = (
        ev.withColumn("ts_us", events_ts_us(ev))
        .where(F.col("user_id") < 50)
        .select("user_id", "ts_us", "value", "event_id")
    )
    out = resample_ffill(
        ev, "user_id", "ts_us", "value", 86_400_000_000, "event_id",
        fill="interp",
    )
    return out.select(
        "user_id",
        F.col("grid_ts").cast("bigint").alias("grid_ts"),
        F.round("value_ff", 4).alias("value_ff"),
        "is_gap",
    )


@register(
    "rollup_multigrain",
    oracle="""
    WITH e AS (SELECT event_type, value, epoch_us(ts) AS ts_us FROM events)
    SELECT 'hour' AS grain, (ts_us // 3600000000) * 3600000000 AS bucket_us,
           event_type, count(*) AS n_events, round(avg(value), 4) AS avg_value
    FROM e GROUP BY bucket_us, event_type
    UNION ALL
    SELECT 'day', (ts_us // 86400000000) * 86400000000,
           event_type, count(*), round(avg(value), 4)
    FROM e GROUP BY 2, event_type
    UNION ALL
    SELECT 'week', (ts_us // 604800000000) * 604800000000,
           event_type, count(*), round(avg(value), 4)
    FROM e GROUP BY 2, event_type
    """,
)
def rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup ladder: hour/day/week aggregates of the
    events table from ONE scan (explode to (grain, bucket) structs
    map-side, then partial agg) — three scans of a 100 TB table become
    one. Oracle: three grouped scans unioned."""
    from petastorm_spark.operators.temporal import rollup_time_grains
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", events_ts_us(ev)).select(
        "event_type", "value", "ts_us"
    )
    return rollup_time_grains(
        ev,
        "ts_us",
        {"hour": 3_600_000_000, "day": 86_400_000_000, "week": 604_800_000_000},
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        ],
    )


# LLM-pipeline catalog registers itself on import (dedup / text /
# similarity queries live in queries_llm.py).
from petastorm_spark import queries_llm  # noqa: E402,F401  (import side effect)
