"""Privacy / re-identification risk operators — the compliance leg of
the curation pipeline (PII *scrubbing* lives in operators/text.py;
this module measures and enforces what scrubbing can't: rows whose
QUASI-identifier combination is rare enough to re-identify someone
even with direct identifiers removed).

k-anonymity (Sweeney 2002, "k-Anonymity: a model for protecting
privacy"): a release is k-anonymous when every combination of
quasi-identifier values is shared by at least k rows. The report is
one groupBy over the QI columns; enforcement (suppression) is a
left-semi join against the safe classes — both partial-aggregate
before their single exchange, so they scale like any count.

Reference: the reference engine has no privacy surface (SURVEY §2 —
it moves tensors); this is beyond-parity curation tooling.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from petastorm_spark.session import arrow_local_df, materialize


def k_anonymity_report(
    df: DataFrame, qi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """One row per quasi-identifier equivalence class:
    ``(*qi_cols, class_size, at_risk)`` with ``at_risk = 1`` when the
    class has fewer than ``k`` members (the rows a linkage attack can
    single out). Scale: one partially-aggregated groupBy on the QI
    key; output is bounded by the QI domain product, not N."""
    return (
        df.groupBy(*[F.col(c) for c in qi_cols])
        .agg(F.count(F.lit(1)).alias("class_size"))
        .withColumn("at_risk", (F.col("class_size") < k).cast("int"))
    )


def k_anonymity_summary(
    df: DataFrame, qi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """The scalar rollup a release gate reads: (n_rows, n_classes,
    n_at_risk_classes, n_rows_at_risk, min_class_size, k). A dataset
    is k-anonymous over ``qi_cols`` iff ``n_rows_at_risk == 0``
    (equivalently ``min_class_size >= k``)."""
    rep = k_anonymity_report(df, qi_cols, k)
    # coalesce the sums so an EMPTY release (trivially k-anonymous)
    # reads n_rows_at_risk == 0, not NULL — the gate condition must
    # pass, not evaluate falsy-by-accident; min_class_size stays NULL
    # (there is no class to have a size)
    return rep.agg(
        F.coalesce(F.sum("class_size"), F.lit(0))
        .cast("bigint")
        .alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.coalesce(F.sum("at_risk"), F.lit(0))
        .cast("bigint")
        .alias("n_at_risk_classes"),
        F.coalesce(F.sum(F.col("class_size") * F.col("at_risk")), F.lit(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
        F.min("class_size").cast("bigint").alias("min_class_size"),
        F.lit(k).cast("int").alias("k"),
    )


def suppress_small_classes(
    df: DataFrame, qi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """Enforce k-anonymity by SUPPRESSION: drop every row whose QI
    class has fewer than ``k`` members (the standard alternative to
    generalizing the QI values — see the bucket columns callers
    usually pre-compute, e.g. ``floor(acctbal / 1000)``). Left-semi
    join against the safe classes, null-safe on the QI key so NULL
    QI values form their own class exactly as groupBy counted them."""
    safe = (
        k_anonymity_report(df, qi_cols, k)
        .where(F.col("at_risk") == 0)
        .select(*qi_cols)
    )
    cond = None
    for c in qi_cols:
        eq = df[c].eqNullSafe(safe[c])
        cond = eq if cond is None else (cond & eq)
    return df.join(safe, cond, "left_semi")


def _laplace_noise(u, b: float):
    """Inverse-CDF Laplace(0, b) sample from a uniform [0,1) column:
    -b * sign(u - 0.5) * ln(1 - 2*|u - 0.5|), the tail clamped at
    1e-12 so a pathological u=0 draw yields a large-but-finite sample
    instead of -inf. IEEE double ops over the same u reproduce
    bit-identically in any engine (the unigram_logprob ln contract)."""
    c = F.greatest(
        F.lit(1e-12), F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5))
    )
    sgn = F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    return F.lit(-float(b)) * sgn * F.log(c)


def dp_group_release(
    df: DataFrame,
    group_col: str,
    epsilon: float = 1.0,
    seed: int = 0,
    value_col: str | None = None,
    clip_lo: float = 0.0,
    clip_hi: float = 1.0,
    micro: int = 10**6,
    delta: float | None = None,
) -> DataFrame:
    """Differentially-private group release (Dwork et al. 2006, the
    Laplace mechanism): per group, the exact count plus Laplace(1/eps)
    noise — and, when ``value_col`` is given, the [clip_lo, clip_hi]-
    clipped sum plus Laplace((clip_hi-clip_lo)/eps). The aggregate-
    release leg of the privacy family: k-anonymity gates which ROWS
    may ship, dp_group_release makes shipped AGGREGATES safe.

    DP GUARANTEE — read carefully, the released KEY SET matters:
    noisy statistics are emitted only for groups OBSERVED in the
    data, so with ``delta=None`` (the default) the release is eps-DP
    per statistic ONLY over a PUBLIC/KNOWN group-key domain (e.g. a
    fixed enum of event types): a key present in one dataset and
    absent in a neighbor is distinguished with certainty by its mere
    presence in the output, regardless of noise. For an UNBOUNDED or
    data-dependent key domain pass ``delta`` to enable the
    stability-based histogram (Korolova et al. 2009): groups are
    released only when ``noisy_count >= 1 + ln(1/(2*delta))/epsilon``
    (P[Lap(1/eps) crosses the gap from a count of 1] <= delta), making
    the count release (eps, delta)-DP — and, when ``value_col`` is
    also given, the joint release (2*eps, delta)-DP by composition —
    under add/remove-one-row adjacency with each row in one group.

    DETERMINISM CAVEAT, by design: the noise draw is the md5-keyed
    uniform (seed|group) through the inverse CDF, so runs are
    reproducible and an external engine can verify the release
    mechanics bit-for-bit. Reproducible noise is the TEST/audit mode:
    a production release must draw from a secure RNG and never
    publish the seed (a known seed lets anyone subtract the noise).

    Scale: one partially-aggregated groupBy (counts + the micro-
    quantized exact-integer clipped sum, immune to float order);
    noise is a per-GROUP-row map after aggregation — output-sized,
    never corpus-sized."""
    from petastorm_spark.predicates import md5_fraction

    if epsilon <= 0:
        raise ValueError(f"epsilon must be > 0, got {epsilon}")
    if delta is not None and not 0 < delta < 1:
        raise ValueError(f"delta must be in (0, 1), got {delta}")
    if value_col is not None and clip_hi <= clip_lo:
        raise ValueError(
            f"clip_hi must exceed clip_lo, got [{clip_lo}, {clip_hi}]"
        )
    g = F.col(group_col)
    aggs = [F.count(F.lit(1)).alias("_n")]
    if value_col is not None:
        clipped = F.least(
            F.greatest(F.col(value_col).cast("double"), F.lit(clip_lo)),
            F.lit(clip_hi),
        )
        aggs.append(
            F.sum(F.round(clipped * micro, 0).cast("decimal(38,0)")).alias(
                "_sq"
            )
        )
    out = df.groupBy(g).agg(*aggs)
    # concat_ws SKIPS nulls — coalesce the (real) NULL group to a
    # sentinel so its noise key is distinct and the SQL replay
    # (coalesce(col, chr(0))) reproduces it bit-for-bit
    gkey = F.coalesce(F.col(group_col).cast("string"), F.lit("\x00"))
    u_n = md5_fraction(F.concat_ws("|", F.lit(f"{seed}n"), gkey))
    cols = [
        g,
        F.round(
            F.col("_n").cast("double") + _laplace_noise(u_n, 1.0 / epsilon),
            6,
        ).alias("noisy_count"),
    ]
    if value_col is not None:
        u_s = md5_fraction(F.concat_ws("|", F.lit(f"{seed}s"), gkey))
        b_s = (clip_hi - clip_lo) / epsilon
        cols.append(
            F.round(
                F.col("_sq").cast("double") / F.lit(float(micro))
                + _laplace_noise(u_s, b_s),
                6,
            ).alias("noisy_sum")
        )
    released = out.select(*cols)
    if delta is not None:
        # stability threshold: a group of true count 1 survives with
        # probability P[Lap(1/eps) >= tau - 1] <= delta. Filtering the
        # released (post-noise) value is pure post-processing.
        import math

        tau = 1.0 + math.log(1.0 / (2.0 * delta)) / epsilon
        released = released.where(F.col("noisy_count") >= F.lit(tau))
    return released


def l_diversity_report(
    df: DataFrame,
    qi_cols: Sequence[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """Distinct l-diversity (Machanavajjhala et al. 2006) — the
    attribute-disclosure extension of k-anonymity: a class can be
    large (k-anonymous) yet reveal everyone's sensitive value if the
    class is HOMOGENEOUS in it. One row per QI equivalence class:
    ``(*qi_cols, class_size, n_sensitive_values, at_risk)`` with
    ``at_risk = 1`` when the class carries fewer than ``l`` distinct
    sensitive values (NULLs excluded — an absent value discloses
    nothing). Gate with at_risk like the k-anonymity report; suppress
    with :func:`suppress_small_classes` semantics on the flagged
    classes. Scale: one partially-aggregated groupBy on the QI key
    (count + exact count-distinct of the sensitive column); output
    bounded by the QI domain, not N."""
    return (
        df.groupBy(*[F.col(c) for c in qi_cols])
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct(F.col(sensitive_col)).alias(
                "n_sensitive_values"
            ),
        )
        .withColumn(
            "at_risk", (F.col("n_sensitive_values") < l).cast("int")
        )
    )


def t_closeness_report(
    df: DataFrame,
    qi_cols: Sequence[str],
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """t-closeness (Li, Li & Venkatasubramanian 2007) — the
    distribution rung of the privacy ladder (k-anonymity: class size;
    l-diversity: distinct sensitive values; t-closeness: the class's
    sensitive DISTRIBUTION must stay within ``t`` of the global one,
    killing skewness attacks l-diversity misses). Distance = Earth
    Mover's over the ORDERED sensitive domain, the 2007 paper's
    formulation for numeric attributes: mean absolute difference of
    the two cumulative distributions over the m observed values.

    One row per QI class (NULL sensitive rows excluded — they
    disclose nothing; a NULL QI VALUE is its own class, exactly as
    groupBy counts it — the grid join is null-safe like
    :func:`suppress_small_classes`): ``(*qi_cols, class_size, emd,
    at_risk)``.

    Engine-exact: the cumulative counts are exact integers, the
    per-step difference is the cross-multiplied
    ``|cumC * N - cumG * n_q|`` DECIMAL(38,0) integer (division by
    n_q * N * (m-1) happens ONCE at the end, in IEEE double over
    identical integers). Scale: ONE corpus scan — the (qi, value)
    count table feeds the class sizes, the global CDF (collected,
    value-domain-bounded), and the cumulative walk on the classes x
    domain grid (QI-domain x value-domain, never N); the global CDF
    and domain ride the plan as a broadcast literal frame."""
    from pyspark.sql import Window

    s = F.col(sensitive_col)
    base = df.where(s.isNotNull())
    # NaN would misalign the two CDF orderings: Python's sorted() has
    # no total order under NaN while Spark windows order NaN last —
    # exclude NaN like NULL (it carries no orderable information)
    if df.schema[sensitive_col].dataType.simpleString() in ("float", "double"):
        base = base.where(~F.isnan(s))
    qi = [F.col(c) for c in qi_cols]

    cv = materialize(
        base.groupBy(*qi, s.alias("_v")).agg(F.count(F.lit(1)).alias("_c")),
        cut=True,
    )
    # global CDF, domain size, corpus size: all from the (value)
    # rollup of cv — value-domain-bounded driver state, no extra
    # corpus scans
    g_rows = sorted(
        cv.groupBy("_v").agg(F.sum("_c").alias("_g")).collect(),
        key=lambda r: r["_v"],
    )
    m = len(g_rows)
    n_total = sum(int(r["_g"]) for r in g_rows)
    cums, acc = [], 0
    for r in g_rows:
        acc += int(r["_g"])
        cums.append(acc)
    v_type = cv.schema["_v"].dataType.simpleString()
    glob = arrow_local_df(
        df.sparkSession,
        {"_v": [r["_v"] for r in g_rows], "_cum_g": cums},
        f"_v {v_type}, _cum_g bigint",
    )
    vals = glob.select("_v")

    cls = cv.groupBy(*qi).agg(F.sum("_c").alias("_nq"))
    grid_base = cls.crossJoin(F.broadcast(vals))
    # rename the probe side (cls derives from cv, so joining cv back
    # unaliased is an ambiguous self-join); null-safe on the QI key
    # (NULL QI is a real class); _v never null
    cvj = cv.select(
        *[F.col(c).alias(f"_r_{i}") for i, c in enumerate(qi_cols)],
        F.col("_v").alias("_r_v"),
        F.col("_c").alias("_r_c"),
    )
    cond = grid_base["_v"] == cvj["_r_v"]
    for i, c in enumerate(qi_cols):
        cond = cond & grid_base[c].eqNullSafe(cvj[f"_r_{i}"])
    grid = grid_base.join(cvj, cond, "left").select(
        *[grid_base[c] for c in qi_cols],
        grid_base["_nq"],
        grid_base["_v"],
        F.coalesce(cvj["_r_c"], F.lit(0)).alias("_c"),
    )
    wc = (
        Window.partitionBy(*qi_cols)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stepped = (
        grid.withColumn(
            "_cum_c", F.sum("_c").over(wc).cast("decimal(38,0)")
        )
        .join(F.broadcast(glob), "_v")
        .withColumn(
            "_diff",
            F.abs(
                F.col("_cum_c") * F.lit(n_total)
                - F.col("_cum_g").cast("decimal(38,0)") * F.col("_nq")
            ),
        )
    )
    agg = stepped.groupBy(*qi_cols, "_nq").agg(
        F.sum("_diff").cast("decimal(38,0)").alias("_num")
    )
    denom = (
        F.col("_nq").cast("double")
        * F.lit(float(n_total))
        * F.lit(float(max(m - 1, 0)))
    )
    emd = F.when(
        F.lit(m) > 1,
        F.round(F.col("_num").cast("double") / denom, 6),
    ).otherwise(F.lit(0.0))
    return agg.select(
        *qi_cols,
        F.col("_nq").alias("class_size"),
        emd.alias("emd"),
    ).withColumn("at_risk", (F.col("emd") > t).cast("int"))


def suppress_low_diversity(
    df: DataFrame,
    qi_cols: Sequence[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """Enforce distinct l-diversity by SUPPRESSION: drop every row
    whose QI class carries fewer than ``l`` distinct sensitive values
    (the class is homogeneous enough to disclose its members'
    attribute even when k-anonymous) — the enforcement twin of
    :func:`l_diversity_report`, shaped exactly like
    :func:`suppress_small_classes`: one left-semi join against the
    safe classes, null-safe on the QI key."""
    safe = (
        l_diversity_report(df, qi_cols, sensitive_col, l)
        .where(F.col("at_risk") == 0)
        .select(*qi_cols)
    )
    cond = None
    for c in qi_cols:
        eq = df[c].eqNullSafe(safe[c])
        cond = eq if cond is None else (cond & eq)
    return df.join(safe, cond, "left_semi")


def suppress_low_closeness(
    df: DataFrame,
    qi_cols: Sequence[str],
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """Enforce t-closeness by SUPPRESSION: drop every row whose QI
    class's sensitive DISTRIBUTION drifts more than ``t`` (ordered
    EMD) from the corpus's — the enforcement twin of
    :func:`t_closeness_report` and the top rung of the suppression
    ladder (:func:`suppress_small_classes` gates class SIZE,
    :func:`suppress_low_diversity` distinct VALUES, this one the
    distribution a skewness attack reads). Same shape as its
    siblings: one left-semi join against the safe classes, null-safe
    on the QI key. NaN/NULL sensitive rows contribute nothing to the
    report but ARE kept or dropped with their class (row membership
    is the QI key, not the sensitive value) — including classes whose
    sensitive values are ALL NULL/NaN: those never enter the report
    (its base excludes null/NaN), carry no orderable distribution for
    a skewness attack to read, and are unioned into the safe set
    here rather than silently suppressed."""
    rep_safe = (
        t_closeness_report(df, qi_cols, sensitive_col, t)
        .where(F.col("at_risk") == 0)
        .select(*qi_cols)
    )
    s = F.col(sensitive_col)
    informative = s.isNotNull()
    if df.schema[sensitive_col].dataType.simpleString() in ("float", "double"):
        informative = informative & ~F.isnan(s)  # report excludes NaN too
    all_null = (
        df.groupBy(*[F.col(c) for c in qi_cols])
        .agg(F.max(F.when(informative, 1).otherwise(0)).alias("_has"))
        .where(F.col("_has") == 0)
        .select(*qi_cols)
    )
    safe = rep_safe.unionByName(all_null)
    cond = None
    for c in qi_cols:
        eq = df[c].eqNullSafe(safe[c])
        cond = eq if cond is None else (cond & eq)
    return df.join(safe, cond, "left_semi")
