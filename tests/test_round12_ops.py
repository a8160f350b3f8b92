"""Round-12 operators: robust embedding statistics and friends."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from petastorm_spark.session import arrow_local_df


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(41, 16)).astype(np.float64)  # odd count
    return arrow_local_df(
        spark,
        {
            "vec_id": list(range(41)),
            "embedding": [list(map(float, v)) for v in vecs],
        },
        "vec_id bigint, embedding array<double>",
    )


def test_robust_stats_match_numpy(spark, corpus):
    """median/MAD per dim vs numpy over the micro-quantized integers —
    odd count here; the even-count .5 interpolation is exercised by the
    second frame below."""
    from petastorm_spark.operators.similarity import embedding_dim_robust_stats

    V = np.array(
        [r["embedding"] for r in corpus.orderBy("vec_id").collect()]
    )[:, :8]
    Q = np.round(V * 1e6)
    got = {
        r["i"]: (r["n"], r["med"], r["mad"])
        for r in embedding_dim_robust_stats(corpus, dims=8).collect()
    }
    assert len(got) == 8
    for i in range(1, 9):
        n, med, mad = got[i]
        col = Q[:, i - 1]
        assert n == len(col)
        assert med == round(float(np.median(col)) / 1e6, 6)
        want_mad = float(np.median(np.abs(col - np.median(col)))) / 1e6
        assert abs(mad - want_mad) < 2e-6


def test_robust_stats_even_count_interpolates(spark):
    """Even n: median must be the mean of the two middle integers, not
    either one — and MAD follows the same rule on the deviations."""
    from petastorm_spark.operators.similarity import embedding_dim_robust_stats

    df = arrow_local_df(
        spark,
        {
            "vec_id": [1, 2, 3, 4],
            "embedding": [[0.000001], [0.000002], [0.000004], [0.000008]],
        },
        "vec_id bigint, embedding array<double>",
    )
    rows = embedding_dim_robust_stats(df, dims=1, out_decimals=7).collect()
    assert len(rows) == 1
    r = rows[0]
    # micro ints 1,2,4,8: median = 3.0 -> 3e-6; deviations |x-3| = 2,1,1,5
    # -> sorted 1,1,2,5 -> MAD = 1.5 -> 1.5e-6 (out_decimals=7 so the
    # half-integer at the micro floor survives the final rounding)
    assert r["n"] == 4
    assert r["med"] == 3e-06
    assert r["mad"] == 1.5e-06


def test_robust_stats_outlier_immunity(spark):
    """The point of MAD: one corrupt vector (1000x blowup) must leave
    median/MAD essentially unchanged while it would wreck mean/std."""
    from petastorm_spark.operators.similarity import embedding_dim_robust_stats

    base = [[0.1], [0.11], [0.12], [0.13], [0.14]]
    clean = arrow_local_df(
        spark,
        {"vec_id": [1, 2, 3, 4, 5], "embedding": base},
        "vec_id bigint, embedding array<double>",
    )
    dirty = arrow_local_df(
        spark,
        {"vec_id": [1, 2, 3, 4, 5, 6], "embedding": base + [[120.0]]},
        "vec_id bigint, embedding array<double>",
    )
    c = embedding_dim_robust_stats(clean, dims=1).collect()[0]
    d = embedding_dim_robust_stats(dirty, dims=1).collect()[0]
    assert abs(d["med"] - c["med"]) < 0.01
    assert abs(d["mad"] - c["mad"]) < 0.01


def test_k_anonymity_report_summary_and_suppression(spark):
    """Hand-built QI classes at k=2: the size-1 class is at risk; the
    size-3, size-2, and NULL-QI (size 2) classes are safe; suppression
    keeps exactly the safe classes' rows (null-safe on the QI key)."""
    from petastorm_spark.operators.privacy import (
        k_anonymity_report,
        k_anonymity_summary,
        suppress_small_classes,
    )

    rows = [
        (1, "US", "A"), (2, "US", "A"), (3, "US", "A"),  # size 3
        (4, "US", "B"), (5, "US", "B"),                  # size 2
        (6, "FR", "A"),                                  # size 1
        (7, None, "C"), (8, None, "C"),                  # NULL QI, size 2
    ]
    df = spark.createDataFrame(rows, ["id", "country", "seg"])
    rep = {
        (r["country"], r["seg"]): (r["class_size"], r["at_risk"])
        for r in k_anonymity_report(df, ["country", "seg"], k=2).collect()
    }
    assert rep == {
        ("US", "A"): (3, 0),
        ("US", "B"): (2, 0),
        ("FR", "A"): (1, 1),
        (None, "C"): (2, 0),
    }
    s = k_anonymity_summary(df, ["country", "seg"], k=2).collect()[0]
    assert (s["n_rows"], s["n_classes"], s["n_at_risk_classes"]) == (8, 4, 1)
    assert (s["n_rows_at_risk"], s["min_class_size"], s["k"]) == (1, 1, 2)
    kept = sorted(
        r["id"] for r in suppress_small_classes(df, ["country", "seg"], k=2).collect()
    )
    assert kept == [1, 2, 3, 4, 5, 7, 8]
    # suppressed output is k-anonymous by construction
    s2 = k_anonymity_summary(
        suppress_small_classes(df, ["country", "seg"], k=2),
        ["country", "seg"],
        k=2,
    ).collect()[0]
    assert s2["n_rows_at_risk"] == 0


def test_knn_graph_edges_and_recall(spark, corpus):
    """Every vector gets exactly k edges (cells are big enough on this
    fixture), no self-edges, cosine within [-1,1], and probing ALL
    cells makes the graph exact (equals brute-force top-k row for
    row)."""
    from petastorm_spark.operators.similarity import cosine_topk, knn_graph

    g = knn_graph(corpus, k=3, n_cells=8, n_probe=2).collect()
    n = corpus.count()
    per_q = {}
    for r in g:
        assert r["query_id"] != r["neighbor_id"]
        assert -1.0001 <= r["cos_sim"] <= 1.0001
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert len(per_q) == n
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())

    full = knn_graph(corpus, k=3, n_cells=8, n_probe=8)
    exact = cosine_topk(corpus, corpus, k=3)
    got = sorted(
        ((r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"]) for r in full.collect())
    )
    want = sorted(
        ((r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"]) for r in exact.collect())
    )
    assert got == want


def test_knn_graph_never_broadcasts_the_corpus(spark, corpus):
    """The candidate stage must be a cell EQUI-join of two corpus-sized
    sides — no BroadcastNestedLoopJoin (the cosine_topk broadcast shape
    would ship the whole corpus at scale)."""
    from petastorm_spark.operators.similarity import knn_graph

    plan = knn_graph(corpus, k=3, n_cells=8, n_probe=2)._jdf.queryExecution().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cell" in plan


def test_whiten_embeddings_identity_covariance(spark, corpus):
    """ZCA contract: the whitened block's sample covariance is ~I, the
    transform is symmetric (ZCA, not PCA — no rotation away from the
    original basis), and output shape matches dims."""
    from petastorm_spark.operators.similarity import whiten_embeddings

    dims = 6
    rows = whiten_embeddings(corpus, dims=dims).orderBy("vec_id").collect()
    Wd = np.array([r["whitened"] for r in rows])
    assert Wd.shape == (len(rows), dims)
    got_cov = np.cov(Wd, rowvar=False, bias=True)
    # quantization + rounded cells leave a small residual off identity
    assert np.abs(got_cov - np.eye(dims)).max() < 0.05
    # whitening twice with the stats of the whitened data is ~no-op
    # (already white), pinning idempotence of the definition
    df2 = arrow_local_df(
        spark,
        {
            "vec_id": [r["vec_id"] for r in rows],
            "embedding": [list(map(float, v)) for v in Wd],
        },
        "vec_id bigint, embedding array<double>",
    )
    rows2 = whiten_embeddings(df2, dims=dims).orderBy("vec_id").collect()
    W2 = np.array([r["whitened"] for r in rows2])
    assert np.abs(W2 - (Wd - Wd.mean(axis=0))).max() < 0.1


def test_k_anonymity_stream_matches_batch(spark, tmp_path_factory):
    """availableNow over a static dir == the batch report row for row
    (the streaming-twin contract of the privacy family)."""
    from petastorm_spark.operators.privacy import k_anonymity_report
    from petastorm_spark.streaming.feed import (
        k_anonymity_stream,
        stream_dataset,
    )

    cust = spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet"
    ).select(
        "c_nationkey",
        "c_mktsegment",
        (F.floor(F.col("c_acctbal").cast("double") / 1000))
        .cast("bigint")
        .alias("bal_bucket"),
    )
    d = str(tmp_path_factory.mktemp("kanon") / "cust")
    cust.coalesce(1).write.parquet(d)
    qi = ["c_nationkey", "c_mktsegment", "bal_bucket"]
    q = (
        k_anonymity_stream(stream_dataset(spark, d), qi, k=5)
        .writeStream.format("memory")
        .queryName("kanon_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    key = lambda r: (r["c_nationkey"], r["c_mktsegment"], r["bal_bucket"])  # noqa: E731
    got = {
        key(r): (r["class_size"], r["at_risk"])
        for r in spark.table("kanon_out").collect()
    }
    want = {
        key(r): (r["class_size"], r["at_risk"])
        for r in k_anonymity_report(cust, qi, k=5).collect()
    }
    assert got == want and len(want) > 0


def test_curate_corpus_k_anon_stage(spark):
    """Opt-in k-anonymity suppression runs LAST among the filters:
    rows whose (source) class falls below k after earlier stages are
    dropped, and the stage appears in the attrition report."""
    from petastorm_spark.operators.pipeline import curate_corpus, curation_report

    rows = [(i, f"plain unique document text number {i}", "web") for i in range(4)]
    rows += [(9, "plain unique document text number 9", "rare")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    stages = curate_corpus(
        df, "text", "doc_id",
        quality_floor=0.0, k_anon_cols=["source"], k_anon_k=2,
    )
    assert list(stages) == [
        "input", "dedup", "quality", "capped", "k_anon", "output"
    ]
    kept = sorted(r["doc_id"] for r in stages["k_anon"].collect())
    assert kept == [0, 1, 2, 3]  # the size-1 'rare' class is suppressed
    rep = {r["stage"]: r["n_rows"] for r in curation_report(stages).collect()}
    assert rep["capped"] == 5 and rep["k_anon"] == 4 and rep["output"] == 4


def test_embedding_outliers_flags_injected_corruption(spark, corpus):
    """Inject one 100x-blown vector into a clean cloud: it must be
    flagged with the right worst_dim, and the clean corpus must flag
    (far) fewer rows than the corrupted one flags for the bad id."""
    from petastorm_spark.operators.similarity import embedding_outliers

    rows = [r["embedding"] for r in corpus.orderBy("vec_id").collect()]
    bad = list(rows[0])
    bad[2] = 100.0  # dim 3 blown out
    dirty = arrow_local_df(
        spark,
        {
            "vec_id": list(range(len(rows))) + [999],
            "embedding": rows + [bad],
        },
        "vec_id bigint, embedding array<double>",
    )
    got = {
        r["vec_id"]: r for r in embedding_outliers(dirty, dims=8, z=3.5).collect()
    }
    assert 999 in got
    assert got[999]["worst_dim"] == 3
    assert got[999]["n_bad_dims"] >= 1
    assert got[999]["worst_ratio_bp"] > 35000  # z=3.5 -> ~51891 bp floor


def test_fingerprint_dup_stream_matches_brute_force(spark, tmp_path_factory):
    """availableNow over a static batch of REAL audio fingerprints must
    emit exactly the brute-force pair set at hamming <= 3 (pigeonhole +
    verify: no recall loss, no false positives)."""
    import numpy as np
    import pandas as pd

    from petastorm_spark.operators.audio import audio_fingerprints, encode_wav
    from petastorm_spark.streaming.feed import (
        fingerprint_dup_stream,
        stream_dataset,
    )

    rng = np.random.default_rng(3)
    base = (rng.normal(0, 3000, 4096)).astype(np.int16)
    clips, ids = [], []
    for i in range(12):
        c = base.copy()
        c[: 300 * i] = (rng.normal(0, 3000, 300 * i)).astype(np.int16)
        ids.append(i)
        clips.append(encode_wav(c.reshape(-1, 1), 8000))
    df = spark.createDataFrame(pd.DataFrame({"doc_id": ids, "audio": clips}))
    sigs = audio_fingerprints(df, "audio", "simhash").select("doc_id", "simhash")

    # index = even ids (static), stream = odd ids
    index = sigs.where("doc_id % 2 = 0")
    index.persist().count()
    newd = str(tmp_path_factory.mktemp("fps") / "new")
    sigs.where("doc_id % 2 = 1").coalesce(1).write.parquet(newd)
    q = (
        fingerprint_dup_stream(
            stream_dataset(spark, newd), index, "doc_id"
        )
        .writeStream.format("memory")
        .queryName("fps_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["new_id"], r["old_id"]): r["hamming"]
        for r in spark.table("fps_out").collect()
    }
    s = {r["doc_id"]: r["simhash"] for r in sigs.collect()}
    want = {
        (a, b): bin(s[a] ^ s[b]).count("1")
        for a in s
        for b in s
        if a % 2 == 1 and b % 2 == 0 and bin(s[a] ^ s[b]).count("1") <= 3
    }
    assert got == want and len(want) > 0
    index.unpersist()


def test_knn_graph_zero_norm_vector_never_wins(spark):
    """A zero-norm (degenerate) vector must rank LAST — not crash ANSI
    division and not NaN-sort to rank 1."""
    from petastorm_spark.operators.similarity import knn_graph

    vecs = [[1.0, 0.0], [0.9, 0.1], [0.8, 0.2], [0.0, 0.0]]
    df = arrow_local_df(
        spark,
        {"vec_id": [1, 2, 3, 4], "embedding": vecs},
        "vec_id bigint, embedding array<double>",
    )
    g = knn_graph(df, k=2, n_cells=2, n_probe=2).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in g if r["rank"] == 1}
    assert top1 and all(n != 4 for n in top1.values()), top1


def test_fingerprint_dup_stream_rejects_lossy_banding(spark):
    """max_hamming >= bands would silently lose recall — must raise,
    matching the batch candidate generator's contract."""
    import pytest

    from petastorm_spark.streaming.feed import fingerprint_dup_stream

    df = arrow_local_df(
        spark, {"doc_id": [1], "simhash": [7]}, "doc_id bigint, simhash bigint"
    )
    with pytest.raises(ValueError, match="must be < bands"):
        fingerprint_dup_stream(df, df, "doc_id", bands=4, max_hamming=4)


def test_k_anonymity_summary_empty_release_passes_gate(spark):
    """An empty release is trivially k-anonymous: the gate scalars must
    be 0, never NULL."""
    from petastorm_spark.operators.privacy import k_anonymity_summary

    df = arrow_local_df(
        spark, {"id": [], "qi": []}, "id bigint, qi string"
    )
    s = k_anonymity_summary(df, ["qi"], k=5).collect()[0]
    assert s["n_rows"] == 0 and s["n_classes"] == 0
    assert s["n_at_risk_classes"] == 0 and s["n_rows_at_risk"] == 0


def test_curate_corpus_all_stages_integration(spark):
    """Every opt-in stage enabled at once: the stage chain keeps its
    documented order, attrition is monotone non-increasing, and the
    output is scrubbed + k-anonymous over the QI."""
    from petastorm_spark.operators.pipeline import curate_corpus, curation_report
    from petastorm_spark.operators.privacy import k_anonymity_summary

    rows = []
    for i in range(8):
        rows.append(
            (i, f"the quick brown fox number {i} jumps over the lazy dog", "web")
        )
    rows.append((100, rows[0][1], "web"))           # exact dup
    rows.append((101, "zq xv wpl qqk mmo ppt", "rare"))  # salad + rare source
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    stages = curate_corpus(
        df, "text", "doc_id",
        quality_floor=0.0,
        near_dedup=True,
        excise_spans=True, excise_min_count=50,  # high floor: no excision
        classifier_floor=None,
        lm_floor=-9.0, lm_model_df=df.where("doc_id < 8"),
        strata_col="source", max_per_stratum=100,
        k_anon_cols=["source"], k_anon_k=2,
    )
    assert list(stages) == [
        "input", "dedup", "near_dedup", "excised", "quality", "lm",
        "capped", "k_anon", "output",
    ]
    rep = [
        (r["stage"], r["n_rows"])
        for r in curation_report(stages).orderBy("stage_idx").collect()
    ]
    counts = [n for _, n in rep]
    assert counts[0] == 10
    assert all(a >= b for a, b in zip(counts, counts[1:])), rep
    s = k_anonymity_summary(stages["output"], ["source"], k=2).collect()[0]
    assert s["n_rows_at_risk"] == 0


def test_reader_ngram_with_transform_and_predicate(spark, tmp_path):
    """Surface-combination probe (the round-10 technique): NGram
    windowing + TransformSpec + a row predicate through make_reader in
    ONE call — transform runs BEFORE windowing (windows see
    transformed values), the predicate prunes rows before windows
    form, and window timestamps stay delta-gated."""
    from petastorm_spark.operators.ngram import NGram
    from petastorm_spark.predicates import in_lambda
    from petastorm_spark.reader import make_reader
    from petastorm_spark.transform import TransformSpec

    url = str(tmp_path / "ngds")
    spark.createDataFrame(
        [(t, t * 10) for t in range(1, 9)], ["ts", "v"]
    ).coalesce(1).write.parquet(url)

    ng = NGram(
        fields={0: ["ts", "v"], 1: ["ts", "v"]},
        delta_threshold=1,
        timestamp_field="ts",
    )
    spec = TransformSpec(lambda pdf: pdf.assign(v=pdf["v"] + 1))
    pred = in_lambda(["ts"], lambda d: d["ts"] != 5)  # break the chain at 5
    with make_reader(
        url,
        spark=spark,
        schema_fields=ng,
        transform_spec=spec,
        predicate=pred,
    ) as r:
        wins = [(w[0].ts, w[0].v, w[1].ts, w[1].v) for w in r]
    # ts=5 removed -> (4,5) and (5,6) windows gone; v transformed +1
    assert sorted(wins) == [
        (1, 11, 2, 21),
        (2, 21, 3, 31),
        (3, 31, 4, 41),
        (6, 61, 7, 71),
        (7, 71, 8, 81),
    ]


def test_in_lambda_rejects_scalar_result(spark, tmp_path):
    """A mis-signatured lambda (treating the column-dict as the column)
    returns one python bool; the predicate must raise loudly instead of
    silently broadcasting keep-all."""
    import pytest

    from petastorm_spark.predicates import in_lambda
    from petastorm_spark.reader import make_reader

    url = str(tmp_path / "sclds")
    spark.range(10).selectExpr("id AS ts").coalesce(1).write.parquet(url)
    with make_reader(
        url,
        spark=spark,
        predicate=in_lambda(["ts"], lambda ts: ts != 5),  # wrong signature
    ) as r:
        with pytest.raises(Exception, match="boolean array of the batch"):
            list(r)


def test_resample_ffill_hand_computed(spark):
    """Grid, forward fill, last-per-bucket tie-break and the
    mis-unit-step guard on a hand-built series."""
    import pytest

    from petastorm_spark.operators.temporal import resample_ffill

    rows = [
        # key a: buckets 0 (two obs, later wins), 30 (gap at 10, 20)
        ("a", 1, 10.0, 1), ("a", 5, 11.0, 2), ("a", 33, 12.0, 3),
        # key a: equal ts in bucket 0? covered by key b below
        ("b", 12, 5.0, 4), ("b", 12, 6.0, 5),  # equal ts -> id 5 wins
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v", "eid"])
    got = {
        (r["k"], r["grid_ts"]): (r["value_ff"], r["is_gap"])
        for r in resample_ffill(df, "k", "ts", "v", 10, "eid").collect()
    }
    assert got == {
        ("a", 0): (11.0, 0),   # later obs (ts=5) wins bucket 0
        ("a", 10): (11.0, 1),  # gap, carried forward
        ("a", 20): (11.0, 1),  # gap
        ("a", 30): (12.0, 0),
        ("b", 10): (6.0, 0),   # equal ts -> higher tiebreak id wins
    }
    # the max_grid_points guard is IN the plan (lazy — construction
    # runs no job, r12 ADVICE); it fires at first materialization
    guarded = resample_ffill(df, "k", "ts", "v", 10, "eid", max_grid_points=2)
    with pytest.raises(Exception, match="max_grid_points"):
        guarded.count()


def test_resample_interp_hand_computed(spark):
    """Linear interpolation across a 2-bucket interior gap hits the
    exact line; trailing gap carries forward."""
    from petastorm_spark.operators.temporal import resample_ffill

    rows = [("a", 0, 10.0, 1), ("a", 30, 40.0, 2), ("a", 45, 7.0, 3)]
    df = spark.createDataFrame(rows, ["k", "ts", "v", "eid"])
    got = {
        r["grid_ts"]: (r["value_ff"], r["is_gap"])
        for r in resample_ffill(
            df, "k", "ts", "v", 10, "eid", fill="interp"
        ).collect()
    }
    assert got == {
        0: (10.0, 0),
        10: (20.0, 1),  # 10 + (40-10) * 10/30
        20: (30.0, 1),  # 10 + (40-10) * 20/30
        30: (40.0, 0),
        40: (7.0, 0),   # bucket 40 observed (ts=45)
    }


def test_reader_schema_evolution_null_fills_old_files(spark, tmp_path):
    """schema_evolution=True: a dataset whose later files ADD a nullable
    column reads end to end — mergeSchema unions the plan-tier schema,
    and the iteration tier null-fills the column for pre-evolution
    files, on both the thread and process pools. Multi-URL reads merge
    columns too; a same-name TYPE conflict still raises."""
    import pytest

    from petastorm_spark.reader import make_batch_reader

    d = str(tmp_path / "evds")
    spark.createDataFrame([(1, 10.0), (2, 20.0)], ["id", "v"]).coalesce(
        1
    ).write.parquet(d)
    spark.createDataFrame(
        [(3, 30.0, "new")], ["id", "v", "extra"]
    ).coalesce(1).write.mode("append").parquet(d)

    for pool in ("thread", "process"):
        with make_batch_reader(
            d, spark=spark, schema_evolution=True, reader_pool_type=pool
        ) as r:
            assert "extra" in r.schema.fields
            rows = {}
            for b in r:
                for i in range(len(b.id)):
                    rows[int(b.id[i])] = b.extra[i]
        assert rows[3] == "new" and rows[1] is None and rows[2] is None, pool

    # multi-URL column merge
    d1, d2 = str(tmp_path / "u1"), str(tmp_path / "u2")
    spark.createDataFrame([(1, 10.0)], ["id", "v"]).write.parquet(d1)
    spark.createDataFrame([(2, 20.0, 7)], ["id", "v", "w"]).write.parquet(d2)
    with make_batch_reader([d1, d2], spark=spark, schema_evolution=True) as r:
        got = sorted(
            (int(i), None if w is None else int(w))
            for b in r
            for i, w in zip(b.id, b.w)
        )
    assert got == [(1, None), (2, 7)]
    # without the flag the old strict contract holds
    with pytest.raises(ValueError, match="must share one schema"):
        make_batch_reader([d1, d2], spark=spark)
    # type conflicts never merge
    d3 = str(tmp_path / "u3")
    spark.createDataFrame([(3, "s", 1)], ["id", "v", "w"]).write.parquet(d3)
    with pytest.raises(Exception, match="conflict|merge|incompatible|Failed"):
        with make_batch_reader([d1, d3], spark=spark, schema_evolution=True) as r:
            list(r)
