"""Iterative graph analytics over DataFrames: PageRank by power
iteration.

Connected components (operators/dedup.py:connected_components) covers
the clustering side; PageRank is the centrality side — used in data
pipelines to rank hosts/documents in a link graph (e.g. harmonic-
centrality or PageRank features in web-corpus quality filters, as in
Common Crawl host-level ranking).

Design for scale: edges are the only large state. Each power
iteration is one equi-join (edges x current ranks, shuffled on the
rank key) plus one partial-aggregated groupBy(dst); ranks are
node-sized. With a FIXED iteration count the rank chain is linear
(each table read exactly once), so no per-round materialization is
needed — the whole ladder compiles into ONE lazy plan and ONE job,
with edges and the node table cached because every round re-reads
them. Past ``checkpoint_interval`` rounds the chain is persisted and
cut so plan depth stays bounded for deep iteration counts. A fixed
count (the common production choice) also makes results
deterministic and lets an external SQL oracle unroll the exact same
ladder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from petastorm_spark.session import materialize, release


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 5,
    damping: float = 0.85,
    checkpoint_interval: int = 10,
    seeds: list | None = None,
) -> DataFrame:
    """PageRank over a directed edge list, ``iters`` power iterations
    from the uniform vector. Output: (node, rank) with rank rounded to
    6 decimals (engine-portable summation). Nodes = src ∪ dst; edges
    are de-duplicated. Dangling nodes (no out-edges) simply contribute
    nothing — feed an undirected (symmetrized) edge list when every
    node should both give and receive (then no mass dangles).

    r_{k+1}(v) = (1-d)*s(v) + d * Σ_{(u,v)∈E} r_k(u) / outdeg(u)

    ``seeds=None`` is classic PageRank: s(v) = 1/N everywhere. A seed
    list makes it PERSONALIZED PageRank — the restart vector
    concentrates on the seeds (s(v) = 1/|seeds| for seed nodes, else
    0) and ranks become relevance TO that seed set (seeded
    recommendation / topic-scoped quality, the random-walk-with-
    restart primitive). Seeds ride the plan as an ``isin`` literal, so
    keep the set broadcast-small (thousands, not millions).

    Edge/node caches are dropped on error; after a normal return they
    back the (lazy) result — call ``session.release_persisted()`` once
    the result is consumed.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = materialize(e.join(deg, "src"))
    nodes_cached = materialize(
        ed.select(F.col("src").alias("node"))
        .unionByName(ed.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = nodes_cached
    interim = None
    try:
        n = nodes.count()  # the only driver-side action before the result
        if n == 0:
            raise ValueError("pagerank: empty edge list (no nodes)")
        if seeds is not None:
            seed_set = sorted(set(seeds))
            if not seed_set:
                raise ValueError("pagerank: seeds must be non-empty when given")
            # a seed absent from the graph would silently contribute
            # nothing — restart mass would sum to < 1 and ranks would
            # no longer form a probability distribution; fail loudly
            # instead (one filtered count over the cached node table)
            n_present = nodes.where(F.col("node").isin(seed_set)).count()
            if n_present < len(seed_set):
                raise ValueError(
                    f"pagerank: {len(seed_set) - n_present} of "
                    f"{len(seed_set)} seeds are not nodes of the edge "
                    "list; drop them or fix the seed ids"
                )
            s_col = F.when(
                F.col("node").isin(seed_set), F.lit(1.0 / len(seed_set))
            ).otherwise(F.lit(0.0))
        else:
            s_col = F.lit(1.0 / n)
        nodes = nodes.withColumn("_s", s_col)
        ranks = nodes.select("node", F.col("_s").alias("rank"))
        # r17 A/B-REJECTED: explicitly broadcasting the node-sized
        # sides (ranks into the contribution join, contrib into the
        # update join) when n <= 4M left the executed structure
        # byte-identical (15 jobs / 62 stages / 1356 tasks on
        # pagerank_purchases) — AQE already flips both joins to
        # broadcast — and min-of-3 walls were worse (5.22 -> 6.93 s).
        # Keep the shuffle-planned loop and let AQE pick.
        for i in range(iters):
            contrib = (
                ed.join(ranks, ed.src == ranks.node)
                .groupBy("dst")
                .agg(F.sum(F.col("rank") / F.col("deg")).alias("_in"))
            )
            ranks = (
                nodes.join(contrib, nodes.node == contrib.dst, "left")
                .select(
                    "node",
                    (
                        F.lit(1.0 - damping) * F.col("_s")
                        + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                    ).alias("rank"),
                )
            )
            # the chain is linear (each round read once), so rounds need
            # no cache — only cut plan DEPTH for deep iteration counts;
            # the previous interim is freed once the new one is filled
            if (i + 1) % checkpoint_interval == 0 and (i + 1) < iters:
                ranks = materialize(ranks)
                ranks.count()
                release(interim)
                interim = ranks
        return ranks.select("node", F.round("rank", 6).alias("rank"))
    except Exception:
        release(ed, nodes_cached, interim)
        raise


def triangle_census(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle census of an undirected graph: ONE row
    ``(n_triangles, n_wedges, clustering_coeff)`` — triangle count,
    open+closed two-paths (wedges), and the global clustering
    coefficient 3*triangles/wedges (0.0 when the graph has no wedge).
    The triad statistics web-corpus link-graph features and
    community-quality checks read.

    Edges are canonicalized (undirected, self-loops dropped,
    deduplicated) first, so multigraph input is safe.

    Scale (100 TB of edges): the classic degree-ordered orientation —
    every edge points from its lower-(degree, id) endpoint to the
    higher one, so each node's out-degree is bounded by ~sqrt(m) and
    wedge generation (the quadratic step) is sum(out_deg^2), the
    provably minimal orientation, instead of sum(deg^2) which
    explodes on hubs. Each triangle is counted exactly once (its
    lowest-ranked vertex emits the wedge; orientation makes the
    closing edge unique). Three shuffles total: degree count, wedge
    self-join on the pivot, closure equi-join on (v1, v2) — no
    nested loops anywhere. The rank tie-break on node id makes the
    orientation (and the count) deterministic for any id type."""
    # eager cut (the label_propagation precedent): e feeds the degree
    # count AND the orientation join; without the cut each consumer
    # replans and re-runs the dedup shuffle
    e = materialize(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct(),
        cut=True,
    )
    # node-sized; feeds wedges + both sides of the rank join — one cut
    # saves three recomputes of the explode + aggregate
    deg = materialize(
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg")),
        cut=True,
    )
    # wedges (open two-paths, closed or not) need only the degree
    # table; sum the (even) product in bigint and halve with integer
    # division — double division would round above 2^53 wedges
    wedges = deg.agg(
        F.expr(
            "CAST((coalesce(sum(deg * (deg - 1)), 0) div 2) AS BIGINT)"
        ).alias(
            "n_wedges"
        )
    )
    # orient by (deg, id): u -> v iff rank(u) < rank(v)
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_db"))
    ranked = e.join(da, "a").join(db, "b")
    lower_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    # eager cut: oriented feeds BOTH wedge sides and the closing
    # semi-join — three consumers, one materialization (this was the
    # dominant fixed stage cost at bench scale: ~40 stages from
    # replanning the two-join orientation per consumer)
    oriented = materialize(
        ranked.select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lower_first, F.col("_db")).otherwise(F.col("_da")).alias("_rv"),
        ),
        cut=True,
    )
    release(e)  # the result reads only deg and oriented
    o1 = oriented.select(
        F.col("u"), F.col("v").alias("v1"), F.col("_rv").alias("_r1")
    )
    o2 = oriented.select(
        F.col("u"), F.col("v").alias("v2"), F.col("_rv").alias("_r2")
    )
    wedge_pairs = o1.join(o2, "u").where(
        (F.col("_r1") < F.col("_r2"))
        | ((F.col("_r1") == F.col("_r2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tri = wedge_pairs.join(closing, ["v1", "v2"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    return tri.crossJoin(wedges).select(
        F.col("n_triangles").cast("bigint").alias("n_triangles"),
        "n_wedges",
        F.round(
            F.when(
                F.col("n_wedges") > 0,
                3.0 * F.col("n_triangles") / F.col("n_wedges"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("clustering_coeff"),
    )


def kcore_decompose(
    edges: DataFrame,
    k: int = 3,
    max_rounds: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core membership by iterative peeling: repeatedly drop nodes
    with degree < ``k`` (each removal lowers neighbors' degrees) until
    a fixed point or ``max_rounds``. Returns the surviving node set
    with its in-core degree: (node, deg) — the dense-subgraph spam /
    community-strength signal link-graph curation reads (a node in a
    high k-core sits in a tightly-knit cluster; isolated or chain-y
    pages peel away).

    A FIXED round count keeps the plan deterministic and lets an
    external SQL oracle unroll the identical ladder (the pagerank
    convention); real graphs converge in a handful of rounds because
    each peel removes entire fringes at once. Convergence inside
    ``max_rounds`` is not detected — callers wanting certainty compare
    round R-1 and R counts.

    Scale: each round is one degree count (explode + partial-agg
    groupBy) and one semi-join of the edge list against surviving
    nodes — edge-scale exchanges, no windows, no driver state beyond
    the loop counter. The surviving-node set is cut with its own
    eager ``localCheckpoint`` before the semi-joins: both joins
    reference it, and without the cut Catalyst plans the explode +
    degree aggregate TWICE per round (visible as two HashAggregate
    subtrees in the round plan). The cut also yields the set's exact
    count for free, so rounds where it fits comfortably in a task
    (``node_broadcast_limit``) broadcast it — the edge table then
    never re-shuffles; larger node sets take the sort-merge path, so
    the choice stays adaptive at cluster scale. Each round's edge
    table is cut with an EAGER ``localCheckpoint`` — persist+count
    alone leaves the logical plan nesting round-over-round and
    re-analysis cost compounds (measured: round 5 took 6x round 2
    under persist; flat under checkpoint). A round's edge and node
    tables are released as soon as the next edge table is cut, so one
    checkpoint (the final edge table, read by the lazy result) stays
    registered whatever ``max_rounds`` is."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    node_broadcast_limit = 4_000_000
    prev = materialize(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct(),
        cut=True,
    )
    for _ in range(max_rounds):
        deg = (
            prev.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = materialize(
            deg.where(F.col("deg") >= k).select("node"), cut=True
        )
        small = keep.count() <= node_broadcast_limit
        side = F.broadcast(keep) if small else keep
        cur = materialize(
            prev.join(
                side.select(F.col("node").alias("a")), "a", "left_semi"
            )
            .join(side.select(F.col("node").alias("b")), "b", "left_semi")
            .select("a", "b"),
            cut=True,
        )
        release(prev, keep)
        prev = cur
    # degrees over the surviving edge set, NO final >= k filter: that
    # would be an extra half-peel beyond max_rounds, breaking the
    # "exactly max_rounds rounds" contract the unrolled oracle mirrors
    return (
        prev.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity of an undirected graph: the Pearson
    correlation of endpoint degrees over the edge list (each
    canonical edge contributes both orientations, the standard
    convention) — positive means hubs attach to hubs (social-ish),
    negative means hubs attach to leaves (web/infrastructure-ish).
    The one-number topology fingerprint next to
    :func:`triangle_census`'s clustering coefficient. Output: one row
    (n_edges, assortativity); assortativity NULL for degree-regular
    graphs (zero variance).

    Scale: canonicalize + one degree aggregate + two id-keyed joins
    to attach endpoint degrees, then five scalar sums — no windows,
    no quadratic stage; exact, not sampled."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_db"))
    both = e.join(da, "a").join(db, "b")
    # both orientations: (da, db) and (db, da) — Pearson over the
    # symmetrized pair list, all moments exact bigint sums
    pairs = both.select(
        F.col("_da").alias("x"), F.col("_db").alias("y")
    ).unionAll(both.select(F.col("_db").alias("x"), F.col("_da").alias("y")))
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    return agg.select(
        (n / 2).cast("bigint").alias("n_edges"),
        F.round(
            F.when(
                (var_x > 0) & (var_y > 0),
                cov / F.sqrt(var_x.cast("double") * var_y.cast("double")),
            ),
            4,
        ).alias("assortativity"),
    )


# Cut the iterated label plan's lineage every this many LPA rounds:
# shallow ladders (the 3-round benches) run cut-free — each round's
# labels feed exactly one consumer, so nothing re-executes — while
# deep ladders keep analysis cost and plan depth bounded.
_LPA_CUT_INTERVAL = 8


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by synchronous label propagation: every
    node starts with its own id as label; each round it adopts the
    most frequent label among its neighbors (ties -> the smallest
    label, so the algorithm is fully deterministic and an external
    SQL oracle can unroll the identical ladder). Output after
    ``rounds`` rounds: (node, label) — nodes sharing a label form a
    community. The density-based sibling of connected components
    (which only finds REACHABILITY); LPA splits a connected graph
    into internally-dense groups, the host/topic clustering signal
    for corpus curation.

    Synchronous fixed-round LPA (vs the asynchronous original) is
    the standard distributed formulation — deterministic, oracle-
    checkable, and every round is pure bulk dataframe work. Classic
    LPA caveat applies: labels can oscillate on bipartite-ish
    structure; fixed rounds simply report that round's state.

    Scale: per round ONE label-keyed equi-join (edges x labels) +
    one partial-agg (node, label) count + one per-node argmax, all
    edge-scale exchanges. Numeric labels fuse the argmax into a
    single ``max(struct(count, -label))`` aggregate (struct
    comparison is lexicographic: count first, ties to the smallest
    label) — one exchange instead of the three the type-agnostic
    two-phase path needs; string labels keep the two-phase path.
    The symmetric edge table is repartitioned on the join key and
    PERSISTED (r16: InMemoryRelation keeps hashpartitioning, a
    localCheckpoint scan comes back UnknownPartitioning), so every
    round's edge side reads the cache partition-aligned.

    r17 round shape: the per-round label tables are NOT cut any more
    for shallow ladders. Each round's labels feed exactly one
    consumer (the next round's join), so the chain is linear — no
    subtree ever re-executes without a cut — and the round's final
    ``groupBy(node)`` aggregate leaves the labels hashpartitioned on
    node, which IS the next join's key (aliased to the edge column):
    the label side joins the persisted edge cache with no exchange.
    The r16 per-round eager localCheckpoint both destroyed that
    alignment (UnknownPartitioning again) and submitted an eager
    materialization job per round — one wasted label-scale exchange
    plus one job per round, measured 3 jobs / 9 stages fewer on the
    3-round benches. Deep ladders still cut every
    ``_LPA_CUT_INTERVAL`` rounds so plan depth and re-analysis cost
    stay bounded (the kcore_decompose lesson applies to ITERATED
    plans only when they grow unboundedly)."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    # persist, NOT localCheckpoint (r16): a checkpointed RDD scan
    # comes back with UnknownPartitioning — measured on the executed
    # plan — so the repartition("b") ahead of it was a full edge-scale
    # exchange whose alignment every round then threw away. The
    # InMemoryRelation KEEPS hashpartitioning(b), so each round's
    # edge-side join reads the cache partition-aligned (the original
    # design intent); sym is static across rounds (no compounding
    # re-analysis — the kcore lesson applies to the ITERATED tables,
    # which keep their per-round checkpoint below). It stays
    # registered: the returned labels are lazy and read it.
    sym = materialize(
        e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition("b")
    )
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    from pyspark.sql.types import NumericType

    numeric_labels = isinstance(
        labels.schema["label"].dataType, NumericType
    )
    cut = None
    for i in range(rounds):
        neigh = sym.join(
            labels.select(F.col("node").alias("b"), "label"), "b"
        ).select(F.col("a").alias("node"), "label")
        counts = neigh.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("_c")
        )
        if numeric_labels:
            # fused argmax: lexicographic struct max = highest count,
            # ties to the smallest (= max negated) label
            labels = (
                counts.groupBy("node")
                .agg(
                    F.max(
                        F.struct(F.col("_c"), (-F.col("label")).alias("_nl"))
                    ).alias("_m")
                )
                .select("node", (-F.col("_m._nl")).alias("label"))
            )
        else:
            # two-phase, type-agnostic argmax (labels may be strings):
            # best count per node, then the smallest label achieving it
            best = counts.groupBy("node").agg(F.max("_c").alias("_bc"))
            labels = (
                counts.join(best, "node")
                .where(F.col("_c") == F.col("_bc"))
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
        # depth cut for deep ladders only — see docstring; the previous
        # cut is freed once the new one is filled
        if (i + 1) % _LPA_CUT_INTERVAL == 0 and (i + 1) < rounds:
            labels = materialize(labels, cut=True)
            release(cut)
            cut = labels
    return labels
