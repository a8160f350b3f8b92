"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard near-dup.

Everything is expressed with built-in Spark SQL functions (JVM-side);
hashes are md5-prefix integers so the semantics are reproducible in
any engine (the DuckDB oracles recompute them bit-for-bit).

Scale design notes (100 TB):
  - exact dedup: one hash-shuffle on the digest — the minimum possible;
  - minhash signatures: pure map (explode shingles -> 16 min-aggregates
    per doc); LSH banding turns all-pairs into per-bucket joins, the
    standard linear-ish near-dup path;
  - simhash: pure map + one small agg; near-dup PAIRS via banded
    self-join on fingerprint bit-bands (simhash_dup_pairs) — pigeonhole
    makes the bucket join exact for hamming <= bands-1;
  - jaccard pairs: EXACT similarity join via prefix-filtered inverted
    indexing (PPJoin family): only each doc's rarest-first prefix is
    indexed, so hub shingles never drive the join; candidates verified
    on the full sets.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from petastorm_spark.operators import index_store
from petastorm_spark.operators.text import tokens
from petastorm_spark.session import arrow_local_df, materialize, release

# 60-bit integer from an md5 prefix, seedable. Matches the oracle SQL
# fragment hash60_sql() below.
def hash60(col, seed: int | None = None) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    payload = c if seed is None else F.concat(F.lit(f"{seed}|"), c)
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("bigint")


def hash60_sql(expr: str, seed: int | None = None) -> str:
    payload = expr if seed is None else f"'{seed}|' || {expr}"
    return f"(('0x'||substr(md5({payload}),1,15))::BIGINT)"


def shingles_from_tokens(tok_col, n: int = 3) -> Column:
    """Positional n-token shingles (distinct) from a MATERIALIZED token
    array column. Keep the token array a real column — expressions
    inside transform() lambdas are re-evaluated per element, so passing
    tokens(text) directly re-runs split() O(len) times per row."""
    t = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    idx = F.sequence(F.lit(0), F.size(t) - n)
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, (i + k + 1).cast("int")) for k in range(n)]
        ),
    )
    return F.when(F.size(t) >= n, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def exploded_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """id, sh rows: tokenize once into a column, then explode shingles."""
    return (
        df.withColumn("_toks", tokens(text_col))
        .select(F.col(id_col), F.explode(shingles_from_tokens("_toks", n)).alias("sh"))
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on md5(text): one surviving row (min id) per digest,
    with the copy count. groupBy on the digest — single shuffle."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# Carter-Wegman double hashing: ONE md5 per shingle yields two 30-bit
# integers (h1 from hex[0:8], h2 from hex[9:17], forced odd); the i-th
# hash is (h1 + i*h2) mod 2^30. 30-bit space keeps i*h2 far from int64
# overflow in every engine. 16x fewer md5 evaluations than seeded-md5.
MINHASH_MOD = 1 << 30


def cw_hash_pair(col) -> tuple[Column, Column]:
    c = F.col(col) if isinstance(col, str) else col
    digest = F.md5(c)
    h1 = F.conv(F.substring(digest, 1, 8), 16, 10).cast("bigint") % MINHASH_MOD
    h2 = (
        F.conv(F.substring(digest, 9, 8), 16, 10).cast("bigint") % MINHASH_MOD
    ).bitwiseOR(F.lit(1))
    return h1, h2


def cw_hash_pair_sql(expr: str) -> tuple[str, str]:
    d = f"md5({expr})"
    h1 = f"((('0x'||substr({d},1,8))::BIGINT) % {MINHASH_MOD})"
    h2 = f"(((('0x'||substr({d},9,8))::BIGINT) % {MINHASH_MOD}) | 1)"
    return h1, h2


def shingle_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int = 3
) -> DataFrame:
    """(id, sh_set) — the distinct-shingle array per doc, docs shorter
    than ``shingle_n`` dropped. The one tokenize+shingle pass every
    downstream minhash/verify consumer derives from."""
    # The short-doc filter keys on token count, NOT size(sh_set):
    # filter pushdown substitutes the filtered column's expression, and
    # size(<shingle transform>) below the project re-evaluates the
    # inlined split() per array ELEMENT (no CSE in transform lambdas) —
    # measured 30x slower at sf0.1. size(_toks) >= n is equivalent
    # (shingles_from_tokens is non-empty exactly then) and substitutes
    # to one cheap split() per row.
    return (
        df.withColumn("_toks", tokens(text_col))
        .where(F.size("_toks") >= shingle_n)
        .select(
            F.col(id_col),
            shingles_from_tokens("_toks", shingle_n).alias("sh_set"),
        )
    )


def minhash_from_sets(
    sets_df: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """Per-doc MinHash signature (id, mh_0..mh_{k-1}) from a
    (id, sh_set) shingle-set table: explode, one md5 per shingle
    (Carter-Wegman double hashing), ``num_hashes`` min-aggregates.

    Explode + codegen'd hash aggregate deliberately: a per-row
    array_min(transform(...)) formulation avoids the groupBy shuffle
    but measured ~12x slower at sf0.1 — higher-order functions are
    evaluated per element outside whole-stage codegen, while the
    explode path stays fully code-generated end to end.

    explode_outer, NOT explode: InferFiltersFromGenerate adds
    ``size(sh_set) > 0 AND isnotnull(sh_set)`` under a non-outer
    explode of an attribute, and pushing those through the projection
    re-inlines the whole shingle transform (split() re-run per lambda
    element) — measured 35x slower at sf0.1. The rule skips outer
    explodes, and :func:`shingle_sets` already guarantees non-empty
    arrays, so the two are semantically identical here."""
    sh = sets_df.select(F.col(id_col), F.explode_outer("sh_set").alias("sh"))
    h1, h2 = cw_hash_pair(F.col("sh"))
    sh = sh.select(F.col(id_col), h1.alias("h1"), h2.alias("h2"))
    aggs = [
        F.min((F.col("h1") + s * F.col("h2")) % MINHASH_MOD).alias(f"mh_{s}")
        for s in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_row_exprs(sh_set, num_hashes: int = 16) -> list[Column]:
    """Per-ROW MinHash signature columns over a shingle-set array —
    bit-identical to :func:`minhash_from_sets` (same Carter-Wegman
    double hashing, same min over the same distinct set) but computed
    with ``array_min(transform(...))``: no explode, no groupBy. The
    batch path keeps the exploded aggregate (higher-order lambdas run
    outside whole-stage codegen — measured ~12x slower per row); this
    formulation exists for STREAMS, where signing a document must be a
    stateless map so the one streaming-aggregation slot stays free for
    the consumer (see streaming/feed.incremental_near_dup_stream)."""
    c = F.col(sh_set) if isinstance(sh_set, str) else sh_set

    def mh(i: int) -> Column:
        def one(s):
            h1, h2 = cw_hash_pair(s)
            return (h1 + F.lit(i) * h2) % MINHASH_MOD

        return F.array_min(F.transform(c, one)).alias(f"mh_{i}")

    return [mh(i) for i in range(num_hashes)]


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: id, mh_0..mh_{k-1}; docs shorter
    than ``shingle_n`` are dropped."""
    return minhash_from_sets(
        shingle_sets(df, text_col, id_col, shingle_n), id_col, num_hashes
    )


def _band_hash_exprs(num_hashes: int, bands: int) -> list[Column]:
    """One xxhash64 Column per LSH band over the mh_* signature
    columns (shared by the self-join pair generator and the persistent
    index builder, so both produce identical buckets)."""
    if num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}); trailing "
            "signature rows would otherwise be silently dropped from banding"
        )
    rows_per_band = num_hashes // bands
    return [
        F.xxhash64(
            *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        )
        for b in range(bands)
    ]


def lsh_candidate_pairs(
    sig_df: DataFrame, id_col: str, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Band the signature (``bands`` bands of ``num_hashes/bands``
    rows), hash each band, and self-join per (band, band_hash) bucket.
    Returns candidate pairs (id_a < id_b), each exactly once.

    First-match emission (the trick :func:`simhash_pair_candidates`
    pioneered here): every bucket row carries the doc's FULL band-hash
    array, and a colliding pair is emitted only from its minimal
    matching band — a pair sharing all ``bands`` bands costs one output
    row instead of ``bands`` rows plus a global ``distinct`` shuffle of
    the candidate set. On dup-heavy corpora (multiplicity m dup groups
    make m^2/2 candidate pairs per matching band) this cuts the
    pair-stage shuffle ~``bands``-fold and removes the distinct
    exchange entirely; the emitted SET is identical, so downstream
    verify / oracle parity is unchanged."""
    # 8-byte xxhash64 band hashes, not md5 hex: the full band-hash
    # array rides EVERY exploded bucket row through the self-join for
    # first-match emission, so a 32-char hex string per band would
    # grow the bucket-stage shuffle payload ~bands x 32 bytes per row;
    # the emitted pair set is identical to any other injective band
    # hash (the DuckDB oracles use md5 over the same minhash concat —
    # equality of either hash <=> equality of the band's values)
    band_cols = _band_hash_exprs(num_hashes, bands)
    # posexplode_outer, not posexplode: the non-outer generate invites
    # InferFiltersFromGenerate to push a size()>0 filter into the
    # projection that builds the array, re-inlining the band-hash md5s
    # (same trap documented on minhash_from_sets); the array is always
    # length ``bands`` and non-null, so outer is semantically identical
    buckets = sig_df.select(
        F.col(id_col), F.array(*band_cols).alias("bhs")
    ).select(id_col, "bhs", F.posexplode_outer("bhs").alias("band", "bh"))
    # shuffle_hash pins the self-join to the exchange-sharing plan
    # (the embedding_near_dup_pairs pattern): both sides are the SAME
    # subtree hashed on the same (band, bh) key, so the second side
    # becomes a ReusedExchange and everything above the exchange —
    # tokenize + shingle explode + the 16-min-agg MinHash signature,
    # the expensive part — executes ONCE. Left to the planner, a
    # small/estimate-shrunk side triggers a broadcast join whose
    # build side RE-EXECUTES the whole signature pipeline (a
    # BroadcastExchange subtree is not the shuffle exchange, so
    # exchange reuse can never apply): measured r16, the minhash
    # verify family paid the signature aggregate twice. An r16 A/B
    # also rejected persist() here — at bench scale the cache write +
    # un-coalesced cached partitions cost MORE than the recompute
    # (dedup_minhash_lsh 2.15s -> 3.26s); exchange reuse dedups the
    # subtree with zero extra materialization at any scale.
    a = buckets.alias("a")
    b = buckets.hint("shuffle_hash").alias("b")
    first_match = F.lit(bands - 1)
    for j in reversed(range(bands - 1)):
        first_match = F.when(
            F.col("a.bhs")[j] == F.col("b.bhs")[j], F.lit(j)
        ).otherwise(first_match)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(F.col("a.band") == first_match)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
    )


# ---------------------------------------------------------------------------
# Persistent LSH signature index: build once over the corpus, write
# partitioned by bucket shard, then dedup every INCREMENTAL batch of new
# documents against it with batch-sized work — the production shape of
# near-dup dedup on a growing corpus (the near-dup complement of
# incremental_exact_dedup's digest anti-join, and the text analog of the
# persistent IVF index in operators/similarity.py).
# ---------------------------------------------------------------------------


def lsh_index_build(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    n_shards: int = 256,
) -> tuple[DataFrame, DataFrame]:
    """Build the index tables: ``(buckets, signatures)``.

    ``buckets`` is (id, band, bh, bh_shard) — one row per doc per band,
    ``bh_shard = pmod(bh, n_shards)`` being the partition key the
    persisted layout shards on. ``signatures`` is the (id, mh_0..mh_k)
    MinHash table, kept for signature-agreement similarity estimates at
    query time (no text is stored — candidates are verified against
    signatures, and callers who need exact Jaccard join texts by id on
    the emitted pairs).

    Scale: one corpus scan (tokenize -> shingle -> 16 min-aggregates),
    then a map to band hashes. Both outputs are corpus-row-scale."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    band_cols = _band_hash_exprs(num_hashes, bands)
    buckets = (
        sigs.select(F.col(id_col), F.array(*band_cols).alias("_bhs"))
        .select(id_col, F.posexplode_outer("_bhs").alias("band", "bh"))
        .withColumn("bh_shard", F.pmod(F.col("bh"), F.lit(n_shards)).cast("int"))
    )
    return buckets, sigs


def lsh_index_write(
    index_url: str, buckets: DataFrame, signatures: DataFrame
) -> None:
    """Persist the index (layout: README "Persisted indexes"). Buckets
    are partitioned by bh_shard, so an incremental batch's probe prunes
    to the shards its band hashes land in. Compact append-heavy bucket
    directories with etl.compact.compact_dataset(...,
    partition_by=["bh_shard"]) — omitting partition_by flattens the
    shard layout and destroys probe pruning."""
    index_store.write(
        index_url,
        [("buckets", buckets, "bh_shard"), ("signatures", signatures, None)],
    )


def lsh_index_append(
    index_url: str, buckets: DataFrame, signatures: DataFrame,
    check_ids: bool = True, id_col: str | None = None,
) -> None:
    """Fold a new batch into a persisted index (append-only parquet —
    the batch was deduped against the index first, so appended ids are
    the accepted survivors).

    ``check_ids`` (default on) semi-joins the batch's ids against the
    index's signature ids and refuses overlaps — an id appended twice
    would permanently plant duplicate bucket and signature rows that
    every later probe re-emits. The check reads ONE column-pruned id
    column of the index semi-joined to a batch-sized side; disable it
    only when the pipeline already guarantees fresh ids. ``id_col``
    names the id column explicitly (default: the batch's first column,
    validated against the persisted index's schema so a reordered
    signatures frame cannot silently semi-join on a minhash column)."""
    if check_ids:
        existing = index_store.read_table(
            signatures.sparkSession, index_url, "signatures"
        )
        if id_col is None:
            # The persisted index's first column IS the id (written by
            # lsh_index_write from minhash_signatures, id first) — use
            # it, not the batch's first column, so a column-reordered
            # batch frame cannot silently semi-join on a minhash column.
            id_col = existing.columns[0]
        if id_col not in existing.columns or id_col not in signatures.columns:
            raise ValueError(
                f"lsh_index_append: id column {id_col!r} not present in "
                f"both the batch ({signatures.columns[:3]}…) and the "
                f"persisted index ({existing.columns[:3]}…); pass id_col="
            )
        index_store.refuse_stored_ids(
            "lsh_index_append",
            existing,
            signatures,
            id_col,
            index_store.table_url(index_url, "signatures"),
        )
    index_store.write_table(index_url, "buckets", buckets, "bh_shard", mode="append")
    index_store.write_table(index_url, "signatures", signatures, mode="append")


def lsh_index_read(spark, index_url: str) -> tuple[DataFrame, DataFrame]:
    """Load a persisted index: ``(buckets, signatures)``."""
    return (
        index_store.read_table(spark, index_url, "buckets"),
        index_store.read_table(spark, index_url, "signatures"),
    )


def lsh_index_tombstone(index_url: str, ids: DataFrame) -> None:
    """Mark index entries DEAD without rewriting the shard layout:
    append the ids to the index's ``tombstones/`` table (LSM-style —
    parquet appends only; the physical bucket/signature rows stay on
    disk until :func:`lsh_index_compact`). ``ids`` must be a one-column
    frame whose column name matches the index's id column.

    Dead ids stop matching immediately: :func:`lsh_index_read_live`
    anti-joins them out, so probes never emit a tombstoned ``old_id``.
    Cost: one batch-sized append — nothing corpus-sized moves."""
    if len(ids.columns) != 1:
        raise ValueError(
            f"tombstone frame must have exactly the id column, got "
            f"{ids.columns}"
        )
    index_store.write_table(index_url, "tombstones", ids.distinct(), mode="append")


def lsh_live_view(
    buckets: DataFrame,
    sigs: DataFrame,
    tombstones: DataFrame | None,
) -> tuple[DataFrame, DataFrame]:
    """Apply a tombstone set to index tables: dead ids stop matching.
    The anti-join sits ABOVE the (possibly shard-pruned) scan, so
    probe-side ``bh_shard`` pushdown is preserved; the tombstone side
    is broadcast (it is batch-scale by construction — compact before
    it is not)."""
    if tombstones is None:
        return buckets, sigs
    id_col = tombstones.columns[0]
    return (
        buckets.join(F.broadcast(tombstones), id_col, "left_anti"),
        sigs.join(F.broadcast(tombstones), id_col, "left_anti"),
    )


def lsh_index_read_live(
    spark, index_url: str
) -> tuple[DataFrame, DataFrame]:
    """Load the LIVE view of a persisted index: ``(buckets,
    signatures)`` with tombstoned ids anti-joined out
    (:func:`lsh_live_view`). An unreadable ``tombstones/`` raises."""
    return lsh_live_view(
        *lsh_index_read(spark, index_url),
        index_store.read_optional_table(spark, index_url, "tombstones"),
    )


def lsh_index_compact(spark, index_url: str) -> dict:
    """Physically drop tombstoned rows: rewrite ``buckets`` (keeping
    the ``bh_shard`` partition layout — flattening it would destroy
    probe pruning) and ``signatures`` minus the tombstone set, then
    clear ``tombstones/``. Run when the dead fraction grows (every
    probe pays the anti-join against the tombstone table) or before
    re-appending an id that was tombstoned earlier — a plain re-append
    would resurrect its DEAD rows too, since a tombstone kills every
    row of the id regardless of generation.

    Returns ``{"dropped_ids": n, "live_ids": m}``. Not atomic on a
    plain filesystem (rewrite happens via a sibling temp dir + rename);
    schedule it like any table-maintenance job."""
    tomb = index_store.read_optional_table(spark, index_url, "tombstones")
    n_dead = 0
    if tomb is not None:
        n_dead = tomb.distinct().count()
        buckets, sigs = lsh_live_view(*lsh_index_read(spark, index_url), tomb)
        index_store.replace_table(spark, index_url, "buckets", buckets, "bh_shard")
        index_store.replace_table(spark, index_url, "signatures", sigs)
        index_store.drop_table(spark, index_url, "tombstones")
    n_live = index_store.read_table(spark, index_url, "signatures").count()
    return {"dropped_ids": n_dead, "live_ids": n_live}


def incremental_near_dup(
    new_df: DataFrame,
    index_buckets: DataFrame,
    index_sigs: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_est: float = 0.5,
    n_shards: int = 256,
) -> DataFrame:
    """Near-dup matches of a NEW document batch against an existing
    LSH index: (new_id, old_id, est_jaccard), where ``est_jaccard`` is
    the MinHash agreement fraction — the unbiased Jaccard estimate
    ``|{i: mh_i(new) = mh_i(old)}| / num_hashes`` (granularity
    ``1/num_hashes``) — kept at or above ``min_est``. New ids should
    be disjoint from indexed ids (they are different corpus
    generations); the candidate join drops ``new_id == old_id`` rows
    so a re-probed id can never match itself, but distinct documents
    SHARING an id across generations are the caller's bug — and
    :func:`lsh_index_append` refuses them rather than corrupting the
    index with duplicate-id bucket rows.

    Scale: work is BATCH-sized, never corpus-sized. The new batch is
    signed and banded (one pass over the batch), then equi-joined to
    the index on (band, bh). The batch's distinct ``bh_shard`` values
    — at most ``n_shards`` ints — are pushed into the bucket scan as
    an ``isin`` filter, so a parquet index written by
    :func:`lsh_index_write` reads only the probed shards' directories
    (the same collected-probe pruning the IVF index uses; for small
    batches that is a small fraction of the corpus buckets). Candidate multiplicity is bounded by ``bands``,
    and the estimate is two id-keyed joins against the signature
    tables — no text is touched."""
    new_buckets, new_sigs = lsh_index_build(
        new_df, text_col, id_col, num_hashes, bands, shingle_n, n_shards
    )
    # persist the batch SIGNATURES: they are the shared ancestor of
    # every consumer here — the bucket table (shard collect + candidate
    # join) derives from them by a cheap band-hash map, and the
    # est_jaccard join reads them directly. Without the cut the batch
    # was tokenized + shingled + min-aggregated once per consumer
    # (batch-sized, but the tokenize pass is the expensive part of the
    # probe). Both caches back the lazy result.
    new_sigs = materialize(new_sigs)
    # the shard collect below materializes this batch-sized cache, so
    # the candidate join does not re-sign the batch
    new_buckets = materialize(new_buckets)
    shards = sorted(
        r.bh_shard for r in new_buckets.select("bh_shard").distinct().collect()
    )
    index_buckets = index_buckets.where(F.col("bh_shard").isin(shards))
    cand = (
        new_buckets.select(F.col(id_col).alias("new_id"), "band", "bh")
        .join(
            index_buckets.select(F.col(id_col).alias("old_id"), "band", "bh"),
            ["band", "bh"],
        )
        # self-match guard: an id probed against an index that already
        # contains it would otherwise emit (id, id, 1.0)
        .where(F.col("new_id") != F.col("old_id"))
        .select("new_id", "old_id")
        .distinct()  # multiplicity <= bands by construction
    )
    agree = sum(
        (F.col(f"_a.mh_{i}") == F.col(f"_b.mh_{i}")).cast("int")
        for i in range(num_hashes)
    )
    return (
        cand.join(
            new_sigs.select(F.col(id_col).alias("new_id"), "*").drop(id_col).alias("_a"),
            "new_id",
        )
        .join(
            index_sigs.select(F.col(id_col).alias("old_id"), "*").drop(id_col).alias("_b"),
            "old_id",
        )
        .withColumn("_est", agree / F.lit(num_hashes))
        .where(F.col("_est") >= min_est)
        .select(
            "new_id", "old_id", F.round("_est", 4).alias("est_jaccard")
        )
    )


# Packed-lane SimHash vote accumulators: 3 counters of _VOTE_FIELD
# bits per 64-bit sum. A counter holds the COUNT of tokens with that
# bit set (not the signed vote), so majority "votes_b > 0" becomes the
# integer-exact "2*count_b > n_tokens". Safe while every doc has
# < 2^20 distinct tokens (a ~10 MB document is ~10^5 distinct unigrams;
# the top field then stays < 2^60, no carry and no bigint overflow).
_VOTE_FIELD = 20
_VOTE_PER_LANE = 3


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 60) -> DataFrame:
    """60-bit SimHash over unigram tokens: per-bit signed vote of token
    hashes, majority -> bit set. One explode + one agg — and the
    ``bits`` per-bit vote sums are packed 3-per-long (20-bit count
    fields), so the aggregation state is 21 longs instead of 60 and
    each input row contributes bit shifts instead of 60 CASE branches.
    Exactly the same signature: count_b > half ⟺ signed vote > 0."""
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    ).withColumn("h", F.coalesce(hash60(F.col("tok")), F.lit(0).cast("bigint")))
    n_lanes = (bits + _VOTE_PER_LANE - 1) // _VOTE_PER_LANE
    packed = []
    for j in range(n_lanes):
        fields = [
            F.shiftleft(
                F.shiftright(F.col("h"), j * _VOTE_PER_LANE + f).bitwiseAND(
                    F.lit(1)
                ),
                _VOTE_FIELD * f,
            )
            for f in range(_VOTE_PER_LANE)
            if j * _VOTE_PER_LANE + f < bits
        ]
        packed.append(
            F.sum(reduce(lambda a, b: a + b, fields)).alias(f"p_{j}")
        )
    per_doc = tok.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"), *packed
    )
    mask = F.lit((1 << _VOTE_FIELD) - 1)

    def count_bit(b: int):
        j, f = divmod(b, _VOTE_PER_LANE)
        return F.shiftright(F.col(f"p_{j}"), _VOTE_FIELD * f).bitwiseAND(mask)

    sim = reduce(
        lambda acc, b: acc
        + F.when(
            count_bit(b) * 2 > F.col("_n"), F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint")),
        range(bits),
        F.lit(0).cast("bigint"),
    )
    # Overflow guard (r16 verdict #5): a doc with >= 2^20 distinct
    # tokens would silently corrupt adjacent 20-bit count lanes — fail
    # LOUDLY instead (one per-DOC comparison after the agg; the old
    # 60-agg had no cliff, this one now has a fence). _n counts
    # distinct tokens, and every per-bit count <= _n, so _n < 2^20
    # guarantees no lane carries.
    guarded = F.when(F.col("_n") < F.lit(1 << _VOTE_FIELD), sim).otherwise(
        F.raise_error(
            F.concat(
                F.lit("simhash: document "),
                F.col(id_col).cast("string"),
                F.lit(
                    f" has >= 2^{_VOTE_FIELD} distinct tokens; packed vote"
                    " lanes would overflow (split the document or widen"
                    " _VOTE_FIELD)"
                ),
            )
        )
    )
    return per_doc.select(F.col(id_col), guarded.alias("simhash"))


def _pair_join(
    buckets: DataFrame,
    id_col: str,
    keys: list[str],
    carry: list[str] | None = None,
) -> DataFrame:
    """Self-join a bucket table on ``keys``, returning candidate pairs
    (id_a < id_b) with both fingerprints carried along. ``carry``
    columns ride through from the join (key-equal or a/b-suffixed).
    The join is pinned to shuffle_hash so both sides share one
    exchange (ReusedExchange) instead of a broadcast build side
    re-executing the fingerprint subtree — see the note on `marked`
    in :func:`simhash_pair_candidates`."""
    a = buckets.alias("a")
    b = buckets.hint("shuffle_hash").alias("b")
    cond = reduce(
        lambda acc, k: acc & (F.col(f"a.{k}") == F.col(f"b.{k}")),
        keys[1:],
        F.col(f"a.{keys[0]}") == F.col(f"b.{keys[0]}"),
    ) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    cols = [
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.simhash").alias("sig_a"),
        F.col("b.simhash").alias("sig_b"),
    ]
    for c in carry or []:
        if c in keys:
            cols.append(F.col(f"a.{c}").alias(c))
        else:
            cols.append(F.col(f"a.{c}").alias(f"{c}_a"))
            cols.append(F.col(f"b.{c}").alias(f"{c}_b"))
    return a.join(b, cond).select(*cols)


def _min_zero_window(xor_col, windows: list[tuple[int, int]]):
    """Index of the FIRST all-zero (offset, width) bit window of
    ``xor_col`` — the per-row test that lets every banded self-join
    emit a colliding pair exactly once (from its minimal matching
    band) instead of deduplicating with a shuffle."""
    expr = F.lit(len(windows) - 1)
    for j in reversed(range(len(windows) - 1)):
        off, w = windows[j]
        zero = (
            F.shiftright(xor_col, off).bitwiseAND(F.lit((1 << w) - 1)) == 0
        )
        expr = F.when(zero, F.lit(j)).otherwise(expr)
    return expr


# the input fingerprint column plus every column the bucket tables build
_CANDIDATE_COLS = frozenset(
    {"simhash", "bk", "band", "val", "_n", "rest", "sb", "sub", "subval"}
)


def simhash_pair_candidates(
    sig: DataFrame,
    id_col: str,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    hot_threshold: int = 1000,
    prefilter_hamming: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs from a SimHash signature table
    (columns: id, simhash): a SUPERSET of the true pairs restricted to
    hamming <= max_hamming — every such pair appears exactly once;
    FALSE candidates (hamming > max_hamming) may or may not appear, so
    callers must verify with bit_count (``simhash_dup_pairs`` does).
    It is NOT the full band-collision set: a false candidate whose
    minimal matching band lands in a hot bucket is suppressed by the
    sub-band refinement. Never quadratic in any bucket.

    Level 1 (pigeonhole): any pair within hamming ``< bands`` agrees
    exactly on >= 1 of the ``bands`` bit-bands, so candidates collide on
    a (band, value) bucket. A ``bands=4``/``bits=60`` split gives 15-bit
    buckets — at 10^9+ docs a single band value (e.g. near-empty
    boilerplate docs) can hold ~N/2^15 docs and the per-bucket self-join
    goes quadratic.

    Level 2 (hot-bucket refinement, Manku-style prefix widening): bucket
    sizes are counted first; buckets above ``hot_threshold`` docs are
    re-joined on an ADDITIONAL sub-band key. Within a hot (band, value)
    bucket every doc agrees on that band, so a qualifying pair's
    remaining ``bits - width`` fingerprint bits differ in at most
    ``max_hamming`` positions; splitting them into ``max_hamming + 1``
    sub-bands pigeonholes again — the pair agrees exactly on >= 1
    sub-band. The effective match prefix widens from 15 to ~26 bits
    exactly where density demands it, with ZERO recall loss (both levels
    are pigeonhole-exact, verified by the final bit_count check).
    Refinement applies recursively in spirit; one level cuts the largest
    bucket by ~2^11, which covers any corpus whose band collisions fit
    in memory per executor after a 2048x split.

    Scale: the bucket-size count is one partial agg over bands*N rows;
    the hot list is tiny (<= N/hot_threshold entries) and broadcast.

    Dedup-free emission: a pair colliding in several bands/sub-bands is
    emitted exactly once — by its minimal matching (band[, sub]) window,
    a per-row bit test on the fingerprint XOR — so there is NO distinct
    over the pair stream (previously the dominant shuffle: the pair
    stream is quadratic in dup multiplicity). Guarantee preserved: every
    pair with hamming <= max_hamming appears exactly once. (A FALSE
    candidate — hamming > max_hamming — whose minimal matching band is
    hot may be suppressed rather than surfaced; callers always verify
    with bit_count, so only noise is dropped, earlier.)
    """
    if id_col in _CANDIDATE_COLS:
        raise ValueError(
            f"id_col {id_col!r} collides with a column simhash_pair_candidates "
            f"builds internally: {sorted(_CANDIDATE_COLS)}"
        )
    width = bits // bands
    mask = (1 << width) - 1
    band_structs = []
    for b in range(bands):
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
        )
    # NOTE: `rest` (the fingerprint with the matching band excised, the
    # column the hot path's sub-bands slice) is NOT carried through the
    # exchange — it is pure bit math over (simhash, band) and is derived
    # AFTER the shuffle on the hot branch only. Carrying it made the two
    # union branches' exchanges differ (the planner pruned it from the
    # cold side), so the whole upstream fingerprint pipeline — tokenize
    # + vote agg for text, a decode Python UDF for image/audio/video —
    # executed once PER BRANCH; with identical projections both branches
    # share ONE exchange (ReusedExchange) and the pipeline runs once,
    # and the hot branch's shuffle is 8 bytes/row narrower.
    buckets = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        id_col,
        "simhash",
        F.col("bk.band").alias("band"),
        F.col("bk.val").alias("val"),
    )
    # bucket sizes via a window over the SAME key the self-join shuffles
    # on — no separate agg job or broadcast marking join, and Spark
    # reuses the (band, val) exchange across both join sides.
    from pyspark.sql import Window

    marked = buckets.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("band", "val"))
    )
    # `marked` feeds FOUR subtree references (cold a/b, hot a/b), and
    # the signature pipeline above it is the expensive part of every
    # caller — tokenize + 60-vote agg for text SimHash, a decode
    # Python UDF for the image/audio/video fingerprints. All four
    # references share the ONE hashpartitioning(band, val) exchange
    # the window creates — the hot join's (band, val, sub, subval)
    # keys are satisfied by subset clustering
    # (requireAllClusterKeysForCoPartition=false, see session.py) —
    # PROVIDED no side is planned as a broadcast build (a
    # BroadcastExchange subtree is not the shuffle exchange, so reuse
    # can never apply; measured r16: 16 parquet scans / 16 decode
    # MapInPandas in the audio_dup_pairs plan, 8x the fingerprint
    # work). _pair_join therefore pins the self-joins to
    # shuffle_hash, the embedding_near_dup_pairs pattern; an r16 A/B
    # rejected persist() here (cache write + un-coalesced cached
    # partitions cost more than they save at bench scale, and the
    # exchange-sharing plan dedups the subtree at any scale).
    cold = marked.where(F.col("_n") <= hot_threshold)
    # first-match emission instead of a distinct: a pair colliding in
    # several bands is emitted only by its MINIMAL matching band — a
    # per-row bit test on the fingerprint XOR — so no global
    # candidate-dedup shuffle is ever needed (at corpus scale that
    # shuffle moves ~copies^2 rows; measured 109.6M pairs at the 6M-row
    # study tier). Hot/cold consistency: both members of a collision
    # share the (band, val) bucket and therefore its _n, so exactly one
    # path owns each pair's minimal band.
    band_windows = [(k * width, width) for k in range(bands)]
    xor = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    cold_pairs = _pair_join(cold, id_col, ["band", "val"], carry=["band"])
    cold_pairs = cold_pairs.where(
        F.col("band") == _min_zero_window(xor, band_windows)
    ).drop("band")

    # sub-band split of the remaining bits: max_hamming+1 slices, the
    # leftover bits folded into the last slice (still pigeonhole-exact).
    rest_bits = bits - width
    nsub = max_hamming + 1
    base = rest_bits // nsub
    sub_structs = []
    off = 0
    for j in range(nsub):
        w = base if j < nsub - 1 else rest_bits - base * (nsub - 1)
        sub_structs.append(
            F.struct(
                F.lit(j).alias("sub"),
                F.shiftright(F.col("rest"), off)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("subval"),
            )
        )
        off += w
    # post-shuffle twin of the old pre-exchange `rest` struct field:
    # high bits (above band b) shifted down next to the low bits.
    # shiftleft(1L, band*width) - 1 is the low-bits mask; CAST keeps the
    # shift in bigint (an int32 literal 1 would overflow at band*15=45).
    rest_expr = F.expr(
        f"shiftleft(shiftright(simhash, (band + 1) * {width}), band * {width})"
        f" | (simhash & (shiftleft(CAST(1 AS BIGINT), band * {width}) - 1))"
    )
    hot_rows = (
        marked.where(F.col("_n") > hot_threshold)
        .withColumn("rest", rest_expr)
        .select(
            id_col, "simhash", "band", "val", "rest",
            F.explode(F.array(*sub_structs)).alias("sb"),
        )
        .select(
            id_col, "simhash", "band", "val", "rest",
            F.col("sb.sub").alias("sub"), F.col("sb.subval").alias("subval"),
        )
    )
    sub_windows = []
    off = 0
    for j in range(nsub):
        w = base if j < nsub - 1 else rest_bits - base * (nsub - 1)
        sub_windows.append((off, w))
        off += w
    hot_pairs = _pair_join(
        hot_rows, id_col, ["band", "val", "sub", "subval"],
        carry=["band", "sub", "rest"],
    )
    rest_xor = F.col("rest_a").bitwiseXOR(F.col("rest_b"))
    hot_pairs = hot_pairs.where(
        (F.col("band") == _min_zero_window(xor, band_windows))
        & (F.col("sub") == _min_zero_window(rest_xor, sub_windows))
    ).drop("band", "sub", "rest_a", "rest_b")
    cand = cold_pairs.unionByName(hot_pairs)
    if prefilter_hamming is not None:
        # the hamming verify is a per-row map — apply it before
        # anything downstream shuffles the pair stream
        cand = cand.where(
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
            <= prefilter_hamming
        )
    return cand


def simhash_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    hot_threshold: int = 1000,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= max_hamming,
    via the two-level pigeonhole banded self-join of
    ``simhash_pair_candidates`` (exact — never all pairs, never a
    quadratic hot bucket) followed by the bit_count verify.

    Requires ``bands > max_hamming`` (distance d can touch at most d
    bands) and ``bands | bits``.
    """
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) for the "
            "pigeonhole guarantee (distance d can touch at most d bands)"
        )
    if bits % bands:
        raise ValueError(f"bands ({bands}) must divide bits ({bits})")
    sig = simhash(df, text_col, id_col, bits=bits)
    cand = simhash_pair_candidates(
        sig, id_col, bits=bits, bands=bands,
        max_hamming=max_hamming, hot_threshold=hot_threshold,
        prefilter_hamming=max_hamming,
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select(
        "id_a", "id_b", hamming.cast("int").alias("hamming")
    )


def near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The composed near-dup operator: MinHash+LSH candidate generation
    followed by an EXACT shingle-Jaccard verify, in one call — the
    "run jaccard only after LSH has cut candidates" mandate as an
    operator instead of a docstring.

    Scale: the verify joins the candidate-pair table to per-doc shingle
    SETS by id (two id-keyed equi-joins over ~|candidates| rows), never
    the shingle inverted index — so the quadratic posting-list blowup of
    raw ``jaccard_pairs`` cannot occur. Shingle arrays ride the shuffle
    but are bounded by document length. Recall is the LSH recall: a pair
    missed by every band is not verified (the standard trade).

    The text is tokenized+shingled ONCE: the (id, sh_set) table is
    persisted (memory, spilling to disk) and both the signature
    derivation — a pure per-row map, see :func:`attach_minhash` — and
    the Jaccard verify read from it. Round-3 verdict flagged the
    previous double scan; at corpus scale a second full text pass
    costs more than materializing the shingle sets.
    """
    sets_df = materialize(shingle_sets(df, text_col, id_col, shingle_n))
    sig = minhash_from_sets(sets_df, id_col, num_hashes)
    cand = lsh_candidate_pairs(sig, id_col, num_hashes, bands)
    a = sets_df.select(F.col(id_col).alias("id_a"), F.col("sh_set").alias("sa"))
    b = sets_df.select(F.col(id_col).alias("id_b"), F.col("sh_set").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("_j", jac)
        .where(F.col("_j") >= threshold)
        .select("id_a", "id_b", F.round("_j", 4).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.9,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by shingle-set CONTAINMENT
    ``|A∩B| / min(|A|, |B|)`` — the asymmetric measure that catches a
    short document wholly quoted inside a long one, which Jaccard
    misses (a 50-shingle doc inside a 5000-shingle doc has J≈0.01 but
    containment 1.0). Candidates come from the same MinHash-LSH
    banding as :func:`near_dup_pairs`; note LSH recall follows
    *Jaccard*, so an extreme length mismatch can escape banding — the
    standard trade; lower ``bands`` rows or add a length-stratified
    pass when hunting pure quotations at scale.

    Scale: identical plan shape to near_dup_pairs — shingle sets
    persisted once, signatures derived from them, verify joined by id
    over candidate pairs only.
    """
    sets_df = materialize(shingle_sets(df, text_col, id_col, shingle_n))
    sig = minhash_from_sets(sets_df, id_col, num_hashes)
    cand = lsh_candidate_pairs(sig, id_col, num_hashes, bands)
    a = sets_df.select(F.col(id_col).alias("id_a"), F.col("sh_set").alias("sa"))
    b = sets_df.select(F.col(id_col).alias("id_b"), F.col("sh_set").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    cont = inter / F.least(F.size("sa"), F.size("sb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("_c", cont)
        .where(F.col("_c") >= threshold)
        .select("id_a", "id_b", F.round("_c", 4).alias("containment"))
    )


def estimate_postings_volume(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    sample_docs: int = 100_000,
    inflate: float = 1.25,
) -> float:
    """Estimate sum(df^2) over shingle document frequencies — the
    exact row count of a postings self-join — WITHOUT a full corpus
    pass. Corpora at or under ``sample_docs`` are measured exactly;
    larger ones tokenize only a deterministic md5-keyed doc sample at
    rate p = sample_docs/n and scale up with the unbiased estimator

        E[df'(df'-1)] = p^2 df(df-1),  E[df'] = p df   (df' ~ Bin(df, p))
        => sum(df^2) ~= (sum(df'^2) - sum(df'))/p^2 + sum(df')/p.

    The hub shingles that dominate sum(df^2) (df ~ n) are exactly the
    ones the sample sees thousands of times (relative error
    ~1/sqrt(p*df)), so the heavy component is tight; ``inflate`` adds
    a conservative margin for tail noise, erring toward the
    prefix-filtered plan — the safe side, since it is lossless either
    way. This keeps the plan CHOICE at ~(sample_docs/n) of a corpus
    scan at 100 TB instead of a full tokenize pass (the round-8
    advisory)."""
    from petastorm_spark.predicates import md5_fraction

    n_docs = df.count()  # no tokenization — column-pruned count
    p = 1.0 if n_docs <= sample_docs else sample_docs / n_docs
    src = df
    if p < 1.0:
        src = df.where(
            md5_fraction(
                F.concat_ws("|", F.lit("jpstats"), F.col(id_col).cast("string"))
            )
            < p
        )
    row = (
        exploded_shingles(src, text_col, id_col, shingle_n)
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .agg(
            F.sum(F.col("_df") * F.col("_df")).alias("_ss"),
            F.sum("_df").alias("_s"),
        )
        .collect()[0]
    )
    ss, s = row["_ss"], row["_s"]
    if ss is None:
        return 0.0
    if p >= 1.0:
        return float(ss)
    return inflate * ((ss - s) / (p * p) + s / p)


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    postings_budget_per_core: int = 50_000_000,
) -> DataFrame:
    """EXACT all-pairs shingle-set Jaccard >= ``threshold``,
    scale-adaptive between two lossless plans.

    The decision statistic is sum(df^2) over the shingle document
    frequencies — the row count of a postings self-join — measured
    exactly for corpora up to 100k docs and estimated from a
    deterministic md5-keyed doc sample above that
    (:func:`estimate_postings_volume`), so the plan CHOICE never costs
    a full corpus tokenize pass at scale:

    - ``sum(df^2) <= postings_budget_per_core * defaultParallelism``:
      postings-count join (inverted index joined on the shingle,
      intersection = codegen'd count per pair, sizes broadcast onto
      the aggregated pair table). Highest throughput per joined row
      (~0.1 us measured: 1.1e9-row join in 89s on 32 cores), but the
      volume is quadratic in df — ONE boilerplate shingle in 1M docs
      is 10^12 rows on its own, which is what the budget guards at
      100 TB. The default budget ~= 5 s/core of pure join work.
    - over budget: prefix-filtered index + set verify (the PPJoin
      family — Xiao et al., "Efficient Similarity Joins for Near
      Duplicate Detection", WWW'08). Shingles get a single global
      canonical order (ascending df, ties by value) and each doc
      indexes only its first ``n - ceil(t*n) + 1`` shingles in that
      order: a pair with J >= t must share a prefix shingle (sharing
      none of either prefix caps overlap at ``ceil(t*n) - 1 < t*n <=
      t*|union|``), so the prefix join is lossless. Rare-first
      ordering keeps hub shingles out of prefixes — join volume drops
      from sum(df^2) to sum(df_prefix^2) over the rare ones — and
      candidates verify on the full sets. At ~8 us per candidate
      (array_intersect of string arrays) this only pays where
      prefixes genuinely prune, i.e. Zipfian vocabularies whose tail
      is rare — which is exactly the hub regime the budget detects.
      On the bounded fixtures the postings plan wins outright
      (13s vs 57s at sf1-organic), so the prefix path is the safety
      valve, not the default. Prefix length uses exact decimal
      arithmetic: float ceil(0.8 * 5) = ceil(4.000000000000001)
      would shorten the prefix and silently DROP true pairs.

    Set ``postings_budget_per_core=0`` to force the prefix plan."""
    from pyspark.sql.window import Window

    out_cols = ["id_a", "id_b", F.round("_j", 4).alias("jaccard")]
    budget = postings_budget_per_core * df.sparkSession.sparkContext.defaultParallelism
    if budget > 0:
        join_rows = estimate_postings_volume(df, text_col, id_col, shingle_n)
        if join_rows <= budget:
            # join on hash60(shingle), not the shingle STRING: the
            # 8-byte key more than halves the self-join's shuffled and
            # sorted bytes (measured round 11 at sf10-organic, 1.12e9
            # joined rows: 290s -> 185s with hashed keys). hash60 is
            # the oracle-reproducible md5 prefix, so an (astronomically
            # unlikely) collision affects Spark and the SQL oracle
            # identically — same exactness contract as minhash/simhash
            sh0 = exploded_shingles(df, text_col, id_col, shingle_n).select(
                F.col(id_col), hash60("sh").alias("sh")
            )
            sizes = sh0.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
            a = sh0.alias("a")
            b = sh0.alias("b")
            inter = (
                a.join(
                    b,
                    (F.col("a.sh") == F.col("b.sh"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
                )
                .groupBy(
                    F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                )
                .agg(F.count(F.lit(1)).alias("_i"))
            )
            # no broadcast HINT: the sizes table is doc-count-sized and a
            # forced broadcast would OOM at 1e9 docs — AQE broadcasts it
            # when it is actually small
            sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("_na"))
            sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("_nb"))
            return (
                inter.join(sa, "id_a")
                .join(sb, "id_b")
                .withColumn(
                    "_j", F.col("_i") / (F.col("_na") + F.col("_nb") - F.col("_i"))
                )
                .where(F.col("_j") >= threshold)
                .select(*out_cols)
            )
    sets_df = materialize(shingle_sets(df, text_col, id_col, shingle_n))
    sh = sets_df.select(
        F.col(id_col),
        F.size("sh_set").alias("_n"),
        F.explode("sh_set").alias("sh"),
    )
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    p_len = (
        F.col("_n")
        - F.ceil(F.lit(threshold).cast("decimal(12,8)") * F.col("_n"))
        + 1
    )
    prefix = (
        sh.join(dfreq, "sh")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("_df", "sh")
            ),
        )
        .where(F.col("_rn") <= p_len)
        .select(F.col(id_col), "sh")
    )
    cand = (
        prefix.select(F.col(id_col).alias("id_a"), "sh")
        .join(prefix.select(F.col(id_col).alias("id_b"), "sh"), "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sets_df.select(F.col(id_col).alias("id_a"), F.col("sh_set").alias("sa"))
    sb = sets_df.select(F.col(id_col).alias("id_b"), F.col("sh_set").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_j", jac)
        .where(F.col("_j") >= threshold)
        .select(*out_cols)
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 10,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Character-level near-dup: MinHash+LSH candidate pairs verified
    by Levenshtein edit distance <= ``max_dist`` — the right measure
    for short texts (titles, captions, code lines) where one-character
    edits matter and shingle Jaccard is too coarse. Output:
    (id_a, id_b, edit_dist).

    Scale: the quadratic-cost distance only ever runs on LSH
    candidates (never all pairs), and uses Spark's bounded variant
    ``levenshtein(a, b, threshold)`` — O(max_dist * min_len) per pair
    with early exit, not O(len_a * len_b). Texts join back to the
    candidate list via two id-keyed hash joins; bound the text length
    upstream (chunk or cap) if documents are long, since each pair
    carries both strings through one shuffle.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    # persist the signature input: lsh_candidate_pairs self-joins the
    # band table, and without a materialization point Spark evaluates
    # the whole tokenize->shingle->minhash subtree once PER JOIN SIDE
    # (same double-scan near_dup_pairs was flagged for in round 3)
    sigs = materialize(
        minhash_from_sets(
            shingle_sets(df, text_col, id_col, shingle_n), id_col, num_hashes
        )
    )
    cand = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    txt = df.select(F.col(id_col), F.col(text_col).alias("_txt"))
    a = txt.select(F.col(id_col).alias("id_a"), F.col("_txt").alias("_ta"))
    b = txt.select(F.col(id_col).alias("id_b"), F.col("_txt").alias("_tb"))
    # bounded levenshtein returns -1 when the distance exceeds the
    # threshold; the filter keeps exact distances <= max_dist only
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"), max_dist)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("edit_dist", dist)
        .where(F.col("edit_dist") >= 0)
        .select("id_a", "id_b", "edit_dist")
    )


def substring_dup_signals(
    df: DataFrame, text_col: str, id_col: str, k: int = 4
) -> DataFrame:
    """Exact substring-duplication signal (the window-hash half of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022): for every document, the fraction of its k-token sliding
    windows whose exact window text occurs more than once in the whole
    corpus (any document, self-repeats included). High fractions flag
    boilerplate-heavy or copy-paste documents that whole-document
    near-dup (MinHash/SimHash) misses, because the duplication lives in
    *spans*, not the document as a unit.

    Output: (id, n_windows bigint, dup_window_frac) with the fraction
    floor-scaled to 1e-4 (cross-engine float determinism). Docs shorter
    than k tokens are dropped (no window exists).

    Scale (100 TB): the window text never shuffles — each window
    travels as a 60-bit md5-prefix integer (:func:`hash60`, the engine-
    portable hash contract), so both exchanges carry 8-byte keys: ONE
    occurrence-scale shuffle on the window hash (the explicit
    ``repartition(_h)`` satisfies both the (doc, hash) grouping — via
    subset clustering, ``requireAllClusterKeysForDistribution`` is
    false by default — and the per-hash corpus-total window, so
    Catalyst inserts no second occurrence exchange; measured −30% vs
    the groupBy-then-window formulation at sf0.1), then the small
    per-doc rollup. The explode lives inline with the projection that
    builds the window array (the generator-placement rule pinned in
    tests/test_plans.py); the per-hash window is skew-bounded because
    one window text's occurrences collapse to one row per containing
    doc in the pre-window aggregate.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from pyspark.sql import Window

    base = df.withColumn("_toks", tokens(text_col)).where(F.size("_toks") >= k)
    # guarded like shingles_from_tokens: Catalyst may evaluate the
    # projection on pre-filter rows where sequence(0, n-k) descends
    wins = F.when(
        F.size("_toks") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("_toks") - k),
            lambda i: hash60(
                F.concat_ws(" ", F.slice("_toks", i + 1, k))
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    cnt = (
        base.select(F.col(id_col), F.explode(wins).alias("_h"))
        .repartition(F.col("_h"))
        .groupBy(id_col, "_h")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    tot = cnt.withColumn("_total", F.sum("_c").over(Window.partitionBy("_h")))
    dup = F.sum(F.when(F.col("_total") > 1, F.col("_c")).otherwise(F.lit(0)))
    return tot.groupBy(id_col).agg(
        F.sum("_c").cast("bigint").alias("n_windows"),
        (F.floor(dup / F.sum("_c") * 10000) / 10000).alias("dup_window_frac"),
    )


def _cc_local(spark, rows, id_a: str, id_b: str, id_type: str = "bigint") -> DataFrame:
    """Driver-side union-find for graphs far below executor memory —
    identical output contract to the distributed path (cluster_id =
    component minimum, sizes included)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r[id_a], r[id_b]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    label = {n: find(n) for n in parent}
    sizes: dict = {}
    for lbl in label.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    nodes = list(label)
    return arrow_local_df(
        spark,
        {
            "doc_id": nodes,
            "cluster_id": [label[n] for n in nodes],
            "cluster_size": [sizes[label[n]] for n in nodes],
        },
        f"doc_id {id_type}, cluster_id {id_type}, cluster_size bigint",
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    local_threshold: int = 300_000,
) -> DataFrame:
    """Connected components over an undirected pair list — the step
    every production dedup pipeline ends with: near-dup PAIRS become
    CLUSTERS, and one canonical document per cluster survives.

    Scale-adaptive (the AQE idea applied to an iterative algorithm):
    the pair list is counted first; at or below ``local_threshold``
    edges the component structure fits trivially in driver memory and
    a union-find computes it in one pass — replacing up to ~10
    SEQUENTIAL Spark jobs of the iterative path whose per-job latency
    dominates small graphs (measured 6.0s -> 2.1s on the sf0.1 bench
    fixture). The default threshold is the measured crossover (~0.3M
    edges: above it the python union-find pass itself outweighs the
    saved job latency — the 6M-row study fixture runs distributed).
    Above the threshold the label-propagation path below runs
    unchanged — the collect is strictly bounded by the threshold, so
    this is a latency fast path, never a scale ceiling. Set
    ``local_threshold=0`` to force the distributed path.

    Returns ``(doc_id, cluster_id, cluster_size)`` for every node that
    appears in ``pairs``; ``cluster_id`` is the minimum node id in the
    component (so the canonical member is ``doc_id == cluster_id``).
    Singletons (docs in no pair) are by definition their own canonical
    doc and are not emitted.

    Algorithm: min-label propagation with pointer jumping. Each round
    is (1) label(x) <- min over neighbours' labels (one join + one
    partial-aggregated shuffle) then (2) label(x) <- label(label(x))
    (path halving through the label table itself), so convergence is
    O(log diameter) rounds, not O(diameter) — 20 rounds covers chains
    beyond any real corpus. Labels are monotone non-increasing and the
    unique fixpoint assigns every node its component minimum, so the
    result is deterministic regardless of execution order. Each round
    cuts the new label table with an eager ``localCheckpoint`` (the
    pointer-jump references its input twice, so anything short of a
    plan cut grows the logical plan 2^rounds-fold) and the convergence
    check reads the checkpointed table.

    Convergence check: labels are per-node monotone non-increasing
    (the self-loop puts a node's own label in every min, and pointer
    jumping maps through labels that are themselves <= the node id),
    so sum(label) over the fixed node set strictly decreases until the
    fixpoint. The per-round action is therefore ONE aggregate over the
    just-persisted label table — it both materializes the cache and
    decides convergence — instead of a separate join-against-old-labels
    probe job (the r5 finding). decimal(38,0) keeps the sum exact out
    to ~1e12 nodes x 2^63 ids.

    Scale: per round two key-partitioned shuffles over |V| rows; no
    driver-side state beyond the one-row convergence sum. The
    alternating-contraction family (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — the reference engine has no
    clustering step at all.
    """
    # Persist the (typically expensive: LSH + verify) upstream pair
    # pipeline ONCE: edges below reference the pair list four times
    # (both union branches, plus both again under nodes' distinct) —
    # without this cache the upstream plan executes four times inside
    # the edge materialization.
    sym = materialize(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    )
    if local_threshold > 0:
        n_edges = sym.count()  # materializes the upstream cache either way
        if n_edges <= local_threshold:
            pdf = sym.toPandas()  # Arrow transfer, not row collect
            out = _cc_local(
                sym.sparkSession,
                list(zip(pdf["a"].tolist(), pdf["b"].tolist())),
                0,
                1,
                id_type=sym.schema["a"].dataType.simpleString(),
            )
            release(sym)
            return out
    edges = sym.unionByName(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    nodes = edges.select("a").distinct()
    # self-loops make "min over neighbours" include the node itself;
    # pre-partitioning on the loop's join key (b) lets every round's
    # edges-side join read the cache partition-aligned instead of
    # re-shuffling |E| rows per round
    edges = materialize(
        edges.unionByName(nodes.select("a", F.col("a").alias("b")))
        .repartition("b")
    )
    labels = materialize(edges.groupBy("a").agg(F.min("b").alias("label")))
    from pyspark.sql.types import NumericType

    numeric_ids = isinstance(
        labels.schema["label"].dataType, NumericType
    )

    def _label_sum(t: DataFrame):
        # numeric ids: exact decimal sum — monotone labels make sum
        # equality <=> fixpoint (the r5 one-aggregate probe). Other id
        # types (string/uuid keys) cast to NULL and would fake instant
        # convergence, so they take a join-based changed probe instead
        # (one extra job per round — the type-compatibility path).
        return t.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    if numeric_ids:
        prev_sum = _label_sum(labels)  # also materializes the caches
    else:
        labels.count()
        prev_sum = None
    release(sym)  # folded into the edge cache by the action above
    for _ in range(max_iter):
        nb = (
            edges.join(
                labels.select(F.col("a").alias("b"), "label"), "b"
            )
            .groupBy("a")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: every label value is itself a node id, so
        # rewriting through the label table halves remaining chains.
        # The round is cut with an EAGER localCheckpoint, not persist:
        # jumped references nb TWICE, so with persist the LOGICAL plan
        # doubles per round (2^rounds nodes) and every downstream
        # reference — including canonicalize_by's two reads of the
        # returned cluster table — pays exponential re-analysis even
        # though execution hits the cache (measured: the survivors
        # plan of dedup_keep_best at sf1 carried 22,902
        # InMemoryTableScans and took 74s of pure planning; with the
        # checkpoint cut it is flat). Same lesson as graph.py:239.
        jumped = materialize(
            nb.alias("x")
            .join(
                nb.select(
                    F.col("a").alias("_ln"), F.col("label").alias("_l2")
                ).alias("m"),
                F.col("x.label") == F.col("_ln"),
            )
            .select(F.col("x.a").alias("a"), F.col("_l2").alias("label")),
            cut=True,
        )
        if numeric_ids:
            cur_sum = _label_sum(jumped)
            converged = cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            changed = (
                jumped.alias("nw")
                .join(labels.alias("od"), "a")
                .where(F.col("nw.label") != F.col("od.label"))
                .limit(1)
                .count()
            )
            converged = changed == 0
        release(labels)
        labels = jumped
        if converged:
            break
    release(edges)
    from pyspark.sql import Window

    size_w = Window.partitionBy("cluster_id")
    return labels.select(
        F.col("a").alias("doc_id"), F.col("label").alias("cluster_id")
    ).withColumn("cluster_size", F.count(F.lit(1)).over(size_w))


def canonicalize(
    df: DataFrame,
    id_col: str,
    clusters: DataFrame,
) -> DataFrame:
    """Keep one canonical row per dup cluster: drop every row whose id
    appears in ``clusters`` with ``doc_id != cluster_id``. Rows in no
    cluster pass through. One left-anti join on the id — the minimal
    plan for the final drop step of a dedup pipeline."""
    losers = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def incremental_dedup(
    new_df: DataFrame,
    seen_digests: DataFrame,
    text_col: str,
    id_col: str,
    digest_col: str = "digest",
) -> DataFrame:
    """Ingest-time exact dedup against a historical digest store: drop
    every new document whose md5(text) already exists in
    ``seen_digests`` (one ``digest_col`` column), then exact-dedup the
    batch against itself keeping the minimum id per digest — the
    incremental twin of :func:`exact_dedup` for pipelines that append
    to a 100 TB corpus instead of re-deduping it from scratch.

    Returns the surviving rows of ``new_df`` (original columns).
    Appending ``md5(text)`` of the survivors to the store completes
    the cycle.

    Scale: one digest-keyed left-anti join (the store side holds
    digests only, never text) + one digest shuffle for the intra-batch
    keep-first — both partition on the same key, and the anti-join's
    build side is the NEW batch, so cost scales with the ingest
    increment, not the corpus.
    """
    from pyspark.sql import Window

    d = new_df.withColumn("_dg", F.md5(F.col(text_col)))
    fresh = d.join(
        seen_digests.select(F.col(digest_col).alias("_dg")),
        "_dg",
        "left_anti",
    )
    w = Window.partitionBy("_dg")
    return (
        fresh.withColumn("_keep", F.min(id_col).over(w))
        .where(F.col(id_col) == F.col("_keep"))
        .drop("_dg", "_keep")
    )


def contamination_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination signal: for every training doc, the
    number of DISTINCT token shingles it shares with an evaluation
    corpus. ``(id_col, n_overlap)``, rows only for docs with >= 1
    shared shingle.

    Scale: the eval corpus is tiny next to 100 TB of training text, so
    its distinct-shingle set is broadcast by default and the whole
    operator is a map-side semi-join + one partial-aggregated count per
    doc — the train side is scanned exactly once and never shuffled on
    the shingle. Set ``broadcast_eval=False`` when the eval set is too
    big to broadcast (falls back to a shingle-keyed shuffle join).
    """
    ev = (
        exploded_shingles(eval_df, text_col, id_col, shingle_n)
        .select("sh")
        .distinct()
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    tr = exploded_shingles(train, text_col, id_col, shingle_n)
    return tr.join(ev, "sh").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_overlap")
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    min_overlap: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Drop training docs sharing >= ``min_overlap`` distinct shingles
    with the eval corpus: contamination signal + one id-keyed
    left-anti join."""
    bad = (
        contamination_overlap(
            train, eval_df, text_col, id_col, shingle_n, broadcast_eval
        )
        .where(F.col("n_overlap") >= min_overlap)
        .select(id_col)
    )
    return train.join(bad, id_col, "left_anti")


def contamination_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    m: int = 1 << 20,
    d: int = 3,
) -> DataFrame:
    """Bloom-filter contamination signal: per training doc, the count
    of distinct shingles whose ``d`` seeded hash positions are ALL set
    in an ``m``-bit filter built from the eval corpus — a SUPERSET of
    the exact overlap (:func:`contamination_overlap`): no contaminated
    shingle is ever missed, a clean one false-positives with
    probability ~``(1 - e^(-d*n/m))^d``. Output: (id, n_suspect).

    Why it exists: the exact operator broadcasts the eval corpus's
    distinct SHINGLE STRINGS — fine for one benchmark, unbounded for a
    large eval suite. The bloom form broadcasts at most ``m`` distinct
    bit POSITIONS (integers) no matter how much eval text there is —
    the fixed-size-state version of decontamination, same shape the
    sketch family gives counting (operators/sketch.py). Engine-exact
    like everything else (seeded md5-prefix positions), so even the
    false positives reproduce bit-for-bit in the DuckDB oracle.

    Scale: train side is scanned once; each distinct (doc, shingle)
    fans out d position probes map-side into a broadcast-hash join;
    only MATCHED probes reach the (doc, shingle-hash) count shuffle,
    so shuffle volume tracks contamination + false positives, not the
    corpus. The shingle never travels as text — its 60-bit hash is the
    group key.
    """
    if m < 2 or d < 1:
        raise ValueError(f"m >= 2 and d >= 1 required, got {m=} {d=}")
    ev_sh = exploded_shingles(eval_df, text_col, id_col, shingle_n)
    pos_parts = [
        ev_sh.select((hash60(F.col("sh"), seed=r) % m).alias("pos"))
        for r in range(d)
    ]
    positions = pos_parts[0]
    for p in pos_parts[1:]:
        positions = positions.unionByName(p)
    positions = positions.distinct()

    tr = exploded_shingles(train, text_col, id_col, shingle_n).select(
        F.col(id_col),
        hash60(F.col("sh")).alias("_shid"),
        F.explode(
            F.array(*[(hash60(F.col("sh"), seed=r) % m) for r in range(d)])
        ).alias("pos"),
    )
    matched = tr.join(F.broadcast(positions), "pos")
    suspects = (
        matched.groupBy(id_col, "_shid")
        .agg(F.count(F.lit(1)).alias("_hits"))
        .where(F.col("_hits") == d)
    )
    return suspects.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_suspect")
    )


def excise_dup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 4,
    min_count: int = 3,
) -> DataFrame:
    """The cleaning half of exact substring dedup (Lee et al. 2022):
    rewrite each document with every token excised that is covered by
    a k-token window occurring >= ``min_count`` times in the corpus —
    boilerplate spans (headers, disclaimers, license blocks) vanish
    from every document while unique prose survives. Output:
    (id, cleaned text, n_tokens_removed).

    Scale: window occurrences shuffle once on the 60-bit window hash
    (8 bytes, partially aggregated) to find qualifying hashes — a
    table bounded by how much true boilerplate exists (raise
    ``min_count`` on pathological corpora), BROADCAST back against
    the occurrence stream (same two-phase shape as
    text.boilerplate_ngrams). Covered positions then aggregate
    per-doc (a doc-keyed shuffle of covered occurrences only — dup
    density, not corpus size) and the rewrite is a map-side indexed
    ``F.filter`` over the token array; the text itself never
    shuffles.
    """
    if k < 2 or min_count < 2:
        raise ValueError(f"k >= 2 and min_count >= 2 required, got {k=} {min_count=}")
    base = df.withColumn("_toks", tokens(text_col))
    wins = F.when(
        F.size("_toks") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("_toks") - k),
            lambda i: hash60(F.concat_ws(" ", F.slice("_toks", i + 1, k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    occ = base.select(F.col(id_col), F.posexplode(wins).alias("_i", "_h"))
    qualifying = (
        occ.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("_h")
    )
    covered = (
        occ.join(F.broadcast(qualifying), "_h")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("_i"), F.col("_i") + (k - 1))).alias("_p"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("_p")).alias("_cov"))
    )
    joined = base.join(covered, id_col, "left")
    cov = F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    kept = F.filter("_toks", lambda x, i: ~F.array_contains(cov, i.cast("int")))
    # untouched documents keep their ORIGINAL text verbatim — the
    # token-join rewrite (lowercased, whitespace-collapsed) is the
    # price of excision and must not be paid by docs with nothing to
    # excise (review finding: casing/formatting was being destroyed
    # corpus-wide)
    cleaned = F.when(
        F.size(kept) == F.size("_toks"), F.col(text_col)
    ).otherwise(F.concat_ws(" ", kept))
    return joined.select(
        F.col(id_col),
        cleaned.alias("cleaned_text"),
        (F.size("_toks") - F.size(kept)).cast("bigint").alias("n_tokens_removed"),
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    weights: dict[str, float],
    seed: int = 0,
) -> DataFrame:
    """Train/val/test split that never separates near-duplicates: the
    split key is the document's near-dup CLUSTER (minimum member id
    via :func:`connected_components`; singletons key on themselves),
    so a benchmark answer can't leak from train into eval through a
    near-copy — the step naive per-doc splits get wrong.

    ``weights`` maps split name -> probability mass (must sum to ~1);
    assignment is the key-stable md5 fraction over ``seed|cluster_id``
    (same engine-exact scheme as ``in_pseudorandom_split``), cut at
    cumulative boundaries in sorted-name-insertion order of the dict.

    Output: the input rows plus ``cluster_id`` and ``split``. Scale:
    the CC labels (nodes appearing in any pair — dup-cluster-sized,
    far smaller than the corpus) broadcast onto one corpus map; no
    extra corpus shuffle beyond what CC itself does.
    """
    from petastorm_spark.predicates import md5_fraction

    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"weights must sum to ~1, got {total}")
    labels = connected_components(pairs).select(
        F.col("doc_id").alias(id_col), "cluster_id"
    )
    joined = df.join(F.broadcast(labels), id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    frac = md5_fraction(
        F.concat_ws("|", F.lit(str(seed)), F.col("cluster_id").cast("string"))
    )
    split = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = frac < F.lit(acc)
        split = (
            F.when(cond, F.lit(name))
            if split is None
            else split.when(cond, F.lit(name))
        )
    split = (
        F.lit(names[-1])
        if split is None
        else split.otherwise(F.lit(names[-1]))
    )
    return joined.withColumn("split", split)


def blocked_fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_text: str,
    right_text: str,
    max_dist: int = 2,
    block_prefix: int = 8,
) -> DataFrame:
    """Two-table entity resolution (record linkage): candidate pairs
    from a BLOCKING equi-join — here the classic prefix block: rows
    whose normalized text shares its first ``block_prefix`` characters
    — verified by Levenshtein edit distance <= ``max_dist``. The
    two-table sibling of :func:`edit_distance_pairs` (self-dedup), for
    matching a dirty feed against a master table. Output:
    (left key, right key, edit_dist).

    A one-character corruption INSIDE the prefix escapes a single
    block (the standard blocking trade); run a second pass blocked on
    a suffix or sorted-neighborhood key to close it. Scale: the
    quadratic distance only runs within blocks; the join is a plain
    equi-shuffle on the block key, skew-handled by AQE.
    """
    if left_key == right_key:
        # the output aliases back to the caller's key names; identical
        # names would yield two same-named columns and make every
        # downstream select ambiguous (mirrors interval_attribution's
        # collision guard)
        raise ValueError(
            f"left_key and right_key must differ (both {left_key!r}); "
            "alias one side first, e.g. "
            "right.withColumnRenamed(key, key + '_r')"
        )
    lb = (
        left.select(
            F.col(left_key).alias("_lk"),
            F.lower(F.trim(F.col(left_text))).alias("_lt"),
        )
        .where(F.length("_lt") > 0)  # empty texts would share one
        .withColumn("_blk", F.substring(F.col("_lt"), 1, block_prefix))
    )  # cross-product block of vacuous distance-0 "matches"
    rb = (
        right.select(
            F.col(right_key).alias("_rk"),
            F.lower(F.trim(F.col(right_text))).alias("_rt"),
        )
        .where(F.length("_rt") > 0)
        .withColumn("_blk", F.substring(F.col("_rt"), 1, block_prefix))
    )
    return (
        lb.join(rb, "_blk")
        .withColumn("edit_dist", F.levenshtein(F.col("_lt"), F.col("_rt")))
        .where(F.col("edit_dist") <= max_dist)
        .select(
            F.col("_lk").alias(left_key),
            F.col("_rk").alias(right_key),
            "edit_dist",
        )
    )


def canonicalize_by(
    df: DataFrame,
    id_col: str,
    clusters: DataFrame,
    score_col,
    keep: str = "max",
) -> DataFrame:
    """Survivorship policy for dup clusters: instead of keep-lowest-id
    (:func:`canonicalize`), keep each cluster's best row by
    ``score_col`` — keep-longest, keep-highest-quality, keep-most-
    recent are all this with a different score (ties break to the
    lower id, so the choice is deterministic). Rows in no cluster pass
    through untouched.

    Scale: the policy runs on the (dup-cluster-sized) id table, never
    the full rows — scores join onto cluster members by id, one
    per-cluster argmax partial aggregate picks winners, and the corpus
    sees a single left-anti join against the loser ids.
    """
    if keep not in ("max", "min"):
        raise ValueError(f"keep must be 'max' or 'min', got {keep!r}")
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    scored = clusters.select("doc_id", "cluster_id").join(
        df.select(F.col(id_col).alias("doc_id"), s.alias("_score")), "doc_id"
    )
    # two-phase, type-agnostic argmax (ids and scores can be strings /
    # timestamps — no numeric negation trick): best score per cluster,
    # then the lowest id among rows achieving it
    best = scored.groupBy("cluster_id").agg(
        (F.max("_score") if keep == "max" else F.min("_score")).alias("_best")
    )
    winners = (
        scored.join(best, "cluster_id")
        .where(F.col("_score").eqNullSafe(F.col("_best")))
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("_winner"))
    )
    losers = (
        clusters.join(winners, "cluster_id")
        .where(F.col("doc_id") != F.col("_winner"))
        .select(F.col("doc_id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    algorithm): from each sliding window of ``w`` consecutive k-gram
    hashes, select the minimum (rightmost occurrence on ties — the
    "robust winnowing" rule), then dedupe selections. Guarantees: any
    shared substring of length >= k + w - 1 contributes at least one
    SHARED selected fingerprint, while only ~2/(w+1) of all k-grams
    are kept — position-aware substring matching at a fraction of the
    index size (the property fixed-stride windows don't have).
    Output: (id, pos, fp) distinct selected fingerprints.

    Scale: tokenize + k-gram hash are pure maps; the window min runs
    per document ordered by position (one doc-keyed exchange, O(w)
    state); selection never leaves the document. The rightmost-tie
    rule is one struct min — (hash, -pos) minimized lexicographically
    — so no second ranking pass exists."""
    from pyspark.sql import Window

    t = tokens(text_col)
    d = df.select(F.col(id_col), t.alias("_t")).where(F.size("_t") >= k)
    idx = F.sequence(F.lit(0), F.size("_t") - k)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at("_t", (i + j + 1).cast("int")) for j in range(k)]
        ),
    )
    kg = d.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "_g")
    ).withColumn("h", hash60("_g"))
    wn = Window.partitionBy(id_col)
    frame = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = (
        kg.withColumn("_n", F.count("*").over(wn))
        .withColumn(
            "_m", F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(frame)
        )
        .where(F.col("pos") <= F.col("_n") - w)
        .select(
            F.col(id_col),
            (-F.col("_m").getField("np")).alias("pos"),
            F.col("_m").getField("h").alias("fp"),
        )
        .distinct()
    )
    return sel


def winnowing_matches(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 5,
    max_df: int = 10,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints
    — the MOSS match report. Fingerprints appearing in more than
    ``max_df`` documents are dropped before pairing (common-trigram
    stopgap, the same df-cap every fingerprint index applies): hot
    fingerprints carry no plagiarism signal and would make the
    per-fingerprint pair fan-out quadratic. Output:
    (id_a, id_b, n_shared).

    Scale: selection is per-document (see winnow_fingerprints); the
    pair stage groups by fingerprint VALUE with group size capped at
    max_df, so pair fan-out per fingerprint is C(max_df, 2) at worst
    — never corpus-quadratic."""
    from pyspark.sql import Window

    sel = winnow_fingerprints(df, text_col, id_col, k, w).select(
        F.col(id_col), "fp"
    ).distinct()
    # r16: the df-cap as a WINDOW over the same fp key the pair join
    # shuffles on, instead of a separate groupBy + filter-join. The
    # expensive selection pass (tokenize + k-gram hash + window-min
    # over the corpus) previously fed THREE subtree references — the
    # df-count aggregate and both pair-join sides, each re-executing
    # it whenever one side was planned as a broadcast build. Now every
    # consumer sits above ONE hashpartitioning(fp) exchange: the
    # window counts each fingerprint's docs post-shuffle, the cap
    # filter runs in place, and the shuffle_hash-pinned self-join
    # reuses the exchange for its second side (ReusedExchange; the
    # simhash_pair_candidates / embedding_near_dup_pairs pattern).
    # Selection runs once, and two corpus-scale exchanges disappear —
    # at any scale.
    rare = sel.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    ).where(F.col("_df") <= max_df)
    a = rare.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = rare.hint("shuffle_hash").select(
        F.col("fp"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def lsh_plan(
    threshold: float,
    num_hashes: int,
    curve_points: tuple[float, ...] = (0.2, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
) -> dict:
    """Choose (bands, rows) for MinHash LSH at a target Jaccard
    ``threshold`` — the MMDS s-curve rule: candidate probability for
    similarity s is 1 - (1 - s^r)^b, and the curve's steepest point
    sits near (1/b)^(1/r), so pick the divisor pair of ``num_hashes``
    whose knee lands closest to the threshold (ties -> more bands =
    recall-leaning, the usual dedup preference). Returns the chosen
    plan plus the s-curve so a caller can SEE the false-positive /
    false-negative mass they signed up for before paying for the
    banded join:

        {"bands": b, "rows": r, "knee": (1/b)^(1/r),
         "curve": {s: P(candidate | jaccard=s), ...}}

    Driver-side arithmetic only — this is the sizing companion to
    :func:`minhash_signatures` / the banded-bucket join, the same
    role auto_n_cells plays for the IVF graph (a computed rule, not
    a docstring rule)."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if num_hashes < 2:
        raise ValueError(f"num_hashes must be >= 2, got {num_hashes}")
    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        knee = (1.0 / b) ** (1.0 / r)
        key = (abs(knee - threshold), -b)
        if best is None or key < best[0]:
            best = (key, b, r, knee)
    _, b, r, knee = best
    curve = {
        s: round(1.0 - (1.0 - s**r) ** b, 6) for s in curve_points
    }
    return {"bands": b, "rows": r, "knee": round(knee, 6), "curve": curve}
