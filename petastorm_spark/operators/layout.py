"""Multi-dimensional data layout: Z-order (Morton) interleaving for
write-time clustering.

At 100 TB the scan you never run is the fastest one: parquet keeps
min/max statistics per row group and file, and Spark prunes on them —
but only if the data is CLUSTERED on the filter column. Sorting by one
column makes its stats tight and every other column's stats useless; a
Z-order curve interleaves the bits of several columns so each file
covers a small HYPER-RECTANGLE of the key space, and predicates on ANY
of the interleaved dimensions prune files (the Delta/Iceberg OPTIMIZE
ZORDER story, as a plain column expression).

Everything here is built-in integer arithmetic (shiftright / bitwise
and / multiply-add) — whole-stage-codegen, zero Python, and exactly
reproducible in ANSI SQL, so even the layout math is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from petastorm_spark.session import arrow_local_df, materialize


def zorder_value(cols: list[Column | str], bits: int = 10) -> Column:
    """Morton/Z-value of ``cols``: interleaves the low ``bits`` bits of
    each column round-robin (column 0 contributes the least-significant
    bit). Inputs must already be NON-NEGATIVE integer bucket numbers in
    ``[0, 2^bits)`` — derive them with :func:`int_bucket` (integer
    `div`, engine-exact) or any modular/ranked scheme; values are
    masked to ``bits`` bits defensively.

    The expression is ``bits * len(cols)`` shift-mask-add terms — a
    single codegen'd projection, no shuffle, no UDF. With the default
    10 bits x 2 columns the z-value fits easily in a bigint (up to 3
    columns x 21 bits do).
    """
    ncols = len(cols)
    if ncols < 2:
        raise ValueError(f"zorder needs >= 2 columns, got {ncols}")
    if bits < 1 or bits * ncols > 63:
        raise ValueError(
            f"bits * len(cols) must fit a signed 64-bit int, got {bits}x{ncols}"
        )
    z = F.lit(0).cast("bigint")
    for j, col in enumerate(cols):
        c = (F.col(col) if isinstance(col, str) else col).cast("bigint")
        for i in range(bits):
            z = z + F.shiftright(c, i).bitwiseAND(F.lit(1)) * F.lit(
                1 << (i * ncols + j)
            )
    return z


def zorder_value_sql(exprs: list[str], bits: int = 10) -> str:
    """The ANSI-SQL twin of :func:`zorder_value` (same bit order), for
    DuckDB oracles and SQL-surface users."""
    terms = []
    for j, e in enumerate(exprs):
        for i in range(bits):
            terms.append(f"((({e}) >> {i}) & 1) * {1 << (i * len(exprs) + j)}")
    return "(" + " + ".join(terms) + ")"


def int_bucket(col_name: str, width: int) -> Column:
    """Engine-exact integer bucketing: ``col div width`` (NOT double
    division + cast — double quotients lose integer precision near
    2^53 and round instead of truncate; same rule as
    ``temporal.range_join_binned``). Takes the column NAME so the
    `div` operator can be generated as SQL."""
    return F.expr(f"`{col_name}` div {int(width)}")


def zorder_repartition(
    df: DataFrame,
    zcol: Column,
    num_partitions: int,
) -> DataFrame:
    """Range-partition + sort by the z-value so each output file covers
    one compact segment of the curve — i.e. a small hyper-rectangle in
    every interleaved dimension. Follow with ``.write.parquet`` and
    row-group/file stats prune on any dimension.

    Scale: one range exchange (sampled boundaries, AQE-friendly) and a
    partition-local sort — the standard price of any clustered write;
    there is no global sort barrier beyond the exchange itself.
    """
    return (
        df.withColumn("_z", zcol)
        .repartitionByRange(num_partitions, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def shard_plan(
    df: DataFrame,
    weight_col: str,
    order_cols: list[Column | str],
    budget: int,
    shard_col: str = "shard_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Write-side shard planning: assign each row to a contiguous
    output shard of ~``budget`` total ``weight_col`` (token counts,
    byte sizes) in the total order given by ``order_cols`` (include a
    unique tie-break column). A row's shard is its EXCLUSIVE global
    prefix sum ``div budget`` — shards are contiguous runs in the
    order, deterministic, and each shard's weight stays under
    ``budget`` plus its last row's weight (the standard one-straddler
    overflow of greedy packing). This is the planner in front of a
    partitioned training-shard write: balanced shards mean no
    stragglers among downstream readers.

    Scale (the :func:`operators.rank.global_rank` two-phase pattern,
    applied to SUMS): one range exchange + partition-local sort, a
    per-partition weight total (one row per partition) broadcast as
    prefix offsets, and one partition-aligned running sum. Call it on
    a NARROW projection (keys + weight) — the payload never moves;
    join the plan back by id for the write. Weights must be
    non-negative (a negative weight breaks prefix-sum monotonicity
    and the contiguity guarantee; enforce upstream)."""
    from pyspark.sql import Window

    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = materialize(
        df.repartitionByRange(parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright("_mid", 33).cast("bigint"))
    )
    offsets = (
        ranged.groupBy("_pid")
        .agg(F.sum(weight_col).alias("_w"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_w").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).cast("bigint"),
        )
        .select("_pid", "_offset")
    )
    local_ex = F.coalesce(
        F.sum(weight_col).over(
            Window.partitionBy("_pid")
            .orderBy("_mid")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    ).cast("bigint")
    return (
        ranged.join(F.broadcast(offsets), "_pid")
        .withColumn("_cum", F.col("_offset") + local_ex)
        .withColumn(
            shard_col, F.expr(f"CAST(_cum div {int(budget)} AS BIGINT)")
        )
        .drop("_mid", "_pid", "_cum")
    )


def file_layout_report(
    spark,
    dataset_url: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Small-files / compaction report for a parquet dataset — the
    table-maintenance readout that keeps a 100 TB layout healthy
    (tiny files bloat scan task counts and NameNode/listing pressure;
    monster files serialize row-group parallelism). Output: one row
    per data file (file, n_rows, bytes, rows_per_mb) plus one
    `_TOTAL_` row carrying the corpus totals and
    `recommended_files` = ceil(total_bytes / target_file_bytes) —
    feed that to repartition()/zorder_repartition before a rewrite.

    Shape: row counts from ONE scan grouped by input_file_name()
    (file-count-sized output); byte sizes from the filesystem the
    scan itself named — local os.stat or the live JVM Hadoop FS for
    remote schemes — bounded by the file count, no data read."""
    import os
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    counts = (
        spark.read.parquet(dataset_url)
        .groupBy(F.input_file_name().alias("_uri"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .collect()
    )

    # remote schemes: ONE listStatus per parent directory (a 100k-file
    # dataset must not issue 100k serial driver py4j getFileStatus
    # round trips against the namenode/listing service)
    # key/lookup on DECODED (scheme, host, path) components: Spark's
    # input_file_name() percent-encodes (e.g. spaces) while Hadoop
    # Path.toString() may not — raw-string keys would KeyError on any
    # path needing encoding
    def _norm_uri(uri: str) -> tuple:
        p = urlparse(uri)
        return (p.scheme, p.netloc, unquote(p.path))

    remote_sizes: dict[tuple, int] = {}
    remote_dirs = {
        uri.rsplit("/", 1)[0]
        for uri in (r["_uri"] for r in counts)
        if urlparse(uri).scheme not in ("", "file")
    }
    if remote_dirs:  # pragma: no cover - remote FS, same listing API
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        for d in remote_dirs:
            hp = jvm.org.apache.hadoop.fs.Path(d)
            for st in hp.getFileSystem(conf).listStatus(hp):
                remote_sizes[_norm_uri(st.getPath().toString())] = st.getLen()

    def size_of(uri: str) -> int:
        parsed = urlparse(uri)
        if parsed.scheme in ("", "file"):
            return os.path.getsize(unquote(parsed.path or uri))
        return remote_sizes[_norm_uri(uri)]  # pragma: no cover - remote FS

    rows = []
    total_rows = total_bytes = 0
    for r in sorted(counts, key=lambda r: r["_uri"]):
        b = size_of(r["_uri"])
        total_rows += int(r["n_rows"])
        total_bytes += b
        rows.append(
            {
                "file": os.path.basename(unquote(urlparse(r["_uri"]).path)),
                "n_rows": int(r["n_rows"]),
                "bytes": int(b),
                "rows_per_mb": round(
                    r["n_rows"] / max(b / 2**20, 1e-9), 1
                ),
                "recommended_files": None,
            }
        )
    rec = max(1, -(-total_bytes // target_file_bytes))
    rows.append(
        {
            "file": "_TOTAL_",
            "n_rows": total_rows,
            "bytes": total_bytes,
            "rows_per_mb": round(
                total_rows / max(total_bytes / 2**20, 1e-9), 1
            ),
            "recommended_files": int(rec),
        }
    )
    return arrow_local_df(
        spark,
        {
            k: [r[k] for r in rows]
            for k in (
                "file", "n_rows", "bytes", "rows_per_mb",
                "recommended_files",
            )
        },
        "file string, n_rows bigint, bytes bigint, rows_per_mb double,"
        " recommended_files int",
    )


def manifest_diff(
    digests_a: DataFrame,
    digests_b: DataFrame,
    part_cols,
) -> DataFrame:
    """The consumer of two :func:`partition_digests` manifests: per
    partition key, 'same' | 'changed' | 'added' | 'removed' (B
    relative to A) with both sides' row counts — the partition-count-
    sized comparison that decides which partitions get the expensive
    row-level diff / re-sync at 100 TB. Null-safe on the partition
    key (a NULL partition value is a real partition)."""
    part_cols = list(part_cols)
    a = digests_a.select(
        *[F.col(c).alias(f"_a_{c}") for c in part_cols],
        F.col("n_rows").alias("n_rows_a"),
        F.col("digest").alias("_dg_a"),
    )
    b = digests_b.select(
        *[F.col(c).alias(f"_b_{c}") for c in part_cols],
        F.col("n_rows").alias("n_rows_b"),
        F.col("digest").alias("_dg_b"),
    )
    cond = None
    for c in part_cols:
        eq = a[f"_a_{c}"].eqNullSafe(b[f"_b_{c}"])
        cond = eq if cond is None else (cond & eq)
    j = a.join(b, cond, "full_outer")
    status = (
        F.when(F.col("_dg_a").isNull(), F.lit("added"))
        .when(F.col("_dg_b").isNull(), F.lit("removed"))
        .when(F.col("_dg_a") == F.col("_dg_b"), F.lit("same"))
        .otherwise(F.lit("changed"))
    )
    return j.select(
        *[
            F.coalesce(F.col(f"_a_{c}"), F.col(f"_b_{c}")).alias(c)
            for c in part_cols
        ],
        "n_rows_a",
        "n_rows_b",
        status.alias("status"),
    )


def partition_digests(
    df: DataFrame,
    part_cols,
    hash_cols=None,
) -> DataFrame:
    """Partition-level content digests — the Merkle-summary primitive
    for cheap snapshot comparison at 100 TB: two snapshots' digest
    tables (partition-count-sized) join on the partition key and only
    partitions whose digests differ get the expensive row-level
    dataset_diff. One row per partition: (*part_cols, n_rows, digest)
    where digest = the exact integer SUM of each row's 60-bit md5
    over ``hash_cols`` (order-free by construction — addition
    commutes, so shuffles/file order can't move the digest; summed as
    DECIMAL(38,0) so it never wraps).

    Collision note: a 60-bit additive digest detects any single-row
    change and all but adversarial/astronomically-unlucky multi-row
    changes — the standard tradeoff for sync manifests; use the
    row-level diff for certainty on flagged partitions. Scale: one
    partially-aggregated groupBy on the partition key."""
    from petastorm_spark.operators.dedup import hash60

    part_cols = list(part_cols)
    hash_cols = (
        list(hash_cols)
        if hash_cols is not None
        else [c for c in df.columns if c not in part_cols]
    )
    # concat_ws SKIPS nulls, which would alias (a, NULL, b) with
    # (a, b) — coalesce every column to an explicit sentinel first
    payload = F.concat_ws(
        "\x1f",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in hash_cols
        ],
    )
    return df.groupBy(*[F.col(c) for c in part_cols]).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(hash60(payload).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("digest"),
    )


MANIFEST_DIRNAME = "_ps_manifest"


def write_dataset_manifest(
    spark,
    dataset_url: str,
    part_cols,
    hash_cols=None,
) -> None:
    """Compute and persist the :func:`partition_digests` manifest as a
    sidecar parquet table under ``<dataset>/_ps_manifest/`` (the
    ``_ps_index`` convention — the leading underscore hides it from
    parquet dataset scans). One scan at WRITE time buys every future
    snapshot comparison: :func:`manifest_diff` over two stored
    manifests is a partition-count-sized join, no dataset re-scan.
    The manifest records its own key so a later diff can self-check
    it compares like with like."""
    part_cols = list(part_cols)
    df = spark.read.parquet(dataset_url)
    man = partition_digests(df, part_cols, hash_cols).withColumn(
        "_manifest_key", F.lit(",".join(part_cols))
    )
    man.write.mode("overwrite").parquet(
        dataset_url.rstrip("/") + "/" + MANIFEST_DIRNAME
    )


def read_dataset_manifest(spark, dataset_url: str) -> DataFrame:
    """Load a dataset's stored :func:`write_dataset_manifest` sidecar
    — feed two of these to :func:`manifest_diff`."""
    return spark.read.parquet(
        dataset_url.rstrip("/") + "/" + MANIFEST_DIRNAME
    )


def snapshot_diff(
    spark,
    url_a: str,
    url_b: str,
    key_col: str,
    compare_cols,
) -> DataFrame:
    """The two-phase 100 TB snapshot diff, end to end: compare two
    engine-written datasets' STORED ``_ps_manifest`` sidecars
    (:func:`manifest_diff` — a partition-count-sized join, zero data
    scanned), then run the row-level
    :func:`operators.diagnostics.dataset_diff` ONLY over the
    partitions whose digest moved — both reads carry a literal
    partition predicate, so a dataset written ``partitionBy`` prunes
    to exactly the changed directories (receipt: the test pins
    ``inputFiles()`` of the pruned reads).

    Output = dataset_diff's difference-sized (key, status,
    old_digest, new_digest). The changed-partition key list is
    collected to the driver to become a plan literal — bounded by the
    PARTITION count (the manifest's own size), never by rows; at 100
    TB a snapshot has thousands of partitions, not millions."""
    from petastorm_spark.operators.diagnostics import dataset_diff

    def manifest_key(url):
        m = read_dataset_manifest(spark, url)
        if "_manifest_key" not in m.columns:
            raise ValueError(
                f"{url}: _ps_manifest has no _manifest_key column — "
                "legacy sidecar; rewrite with write_dataset_manifest"
            )
        row = m.select("_manifest_key").first()
        if row is None:
            raise ValueError(
                f"{url}: _ps_manifest is empty — rewrite with "
                "write_dataset_manifest"
            )
        return m, row["_manifest_key"]

    ma, ka = manifest_key(url_a)
    mb, kb = manifest_key(url_b)
    if ka != kb:
        raise ValueError(
            f"manifest keys differ: {ka!r} (A) vs {kb!r} (B) — "
            "snapshots must be manifested on the same partition columns"
        )
    part_cols = ka.split(",")
    moved = (
        manifest_diff(
            ma.drop("_manifest_key"), mb.drop("_manifest_key"), part_cols
        )
        .where(F.col("status") != "same")
        .select(*part_cols)
        .collect()  # partition-count-bounded (see docstring)
    )
    if not moved:
        # nothing moved: a FALSE-filtered read keeps the exact output
        # schema (key type included) at footer-only cost
        return dataset_diff(
            spark.read.parquet(url_a).where(F.lit(False)),
            spark.read.parquet(url_b).where(F.lit(False)),
            key_col,
            list(compare_cols),
        )

    def key_pred(row):
        cond = None
        for c in part_cols:
            v = row[c]
            eq = F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
            cond = eq if cond is None else (cond & eq)
        return cond

    pred = key_pred(moved[0])
    for r in moved[1:]:
        pred = pred | key_pred(r)
    old = spark.read.parquet(url_a).where(pred)
    new = spark.read.parquet(url_b).where(pred)
    return dataset_diff(old, new, key_col, list(compare_cols))
