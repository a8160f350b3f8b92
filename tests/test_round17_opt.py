"""Round-17 optimization pins.

- simhash overflow guard (r16 verdict #5): the packed 20-bit vote
  lanes silently corrupt for a document with >= 2^20 distinct tokens;
  the r17 guard turns that silent corruption into a loud error while
  leaving every legal document's signature byte-identical.
- label_propagation round shape: shallow ladders run cut-free (each
  round's labels feed exactly one consumer), so no per-round eager
  localCheckpoint job and no label-side exchange destroyed by the
  checkpoint's UnknownPartitioning; the result is pinned against the
  brute-force round unroll.
- lsh_candidate_pairs hot bucket: a bucket where every doc collides
  (the pinned ShuffledHashJoin's worst case) completes and emits each
  pair exactly once.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_simhash_overflow_guard_fails_loudly(spark):
    from petastorm_spark.operators.dedup import _VOTE_FIELD, simhash

    # one synthetic doc with exactly 2^20 distinct tokens ("t0".."tN"),
    # built JVM-side so the driver never materializes the ~8 MB string
    n = 1 << _VOTE_FIELD
    docs = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(n - 1)),
                lambda x: F.concat(F.lit("t"), x.cast("string")),
            ),
        ).alias("text"),
    )
    with pytest.raises(Exception, match="packed vote"):
        simhash(docs, "text", "doc_id").collect()


def test_simhash_guard_leaves_legal_docs_alone(spark):
    from petastorm_spark.session import arrow_local_df
    from petastorm_spark.operators.dedup import simhash

    docs = arrow_local_df(
        spark,
        {"doc_id": [1, 2], "text": ["alpha beta gamma", "alpha beta gamma"]},
        "doc_id bigint, text string",
    )
    rows = simhash(docs, "text", "doc_id").collect()
    sigs = {r["doc_id"]: r["simhash"] for r in rows}
    assert sigs[1] == sigs[2] and sigs[1] is not None


def test_label_propagation_shallow_runs_cut_free(spark):
    """Shallow LPA ladders must not pay a per-round eager
    localCheckpoint: the executed plan of a 3-round run contains no
    checkpoint-RDD scan, and the labels match the brute-force
    synchronous unroll (max count, ties to the smallest label)."""
    from petastorm_spark.session import arrow_local_df, release_persisted
    from petastorm_spark.operators.graph import label_propagation

    # two triangles bridged by one edge: LPA converges to two
    # communities with deterministic smallest-label ties
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)]
    df = arrow_local_df(
        spark,
        {"src": [a for a, _ in edges], "dst": [b for _, b in edges]},
        "src bigint, dst bigint",
    )
    try:
        out = label_propagation(df, rounds=3)
        rows = {r["node"]: r["label"] for r in out.collect()}
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert "Scan ExistingRDD" not in plan, (
            "shallow ladder paid a localCheckpoint cut:\n" + plan
        )

        # brute-force synchronous unroll
        sym = set()
        for a, b in edges:
            if a != b:
                sym.add((a, b))
                sym.add((b, a))
        labels = {n: n for n in {x for e in sym for x in e}}
        for _ in range(3):
            nxt = {}
            for n in labels:
                counts: dict[int, int] = {}
                for a, b in sym:
                    if a == n:
                        lb = labels[b]
                        counts[lb] = counts.get(lb, 0) + 1
                best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
                nxt[n] = best[0]
            labels = nxt
        assert rows == labels
    finally:
        release_persisted()


def test_lsh_candidate_pairs_hot_bucket_exact(spark):
    """A bucket where EVERY doc collides in every band (identical
    docs) — the pinned ShuffledHashJoin's worst case. The join must
    complete and emit each pair exactly once (first-match emission),
    with no pair lost or duplicated."""
    from petastorm_spark.operators.dedup import minhash_signatures, lsh_candidate_pairs

    n = 200
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate document body for every row").alias("text"),
    )
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=16)
    pairs = lsh_candidate_pairs(sigs, "doc_id", num_hashes=16, bands=4).collect()
    seen = {(r["id_a"], r["id_b"]) for r in pairs}
    assert len(pairs) == len(seen) == n * (n - 1) // 2
    assert all(a < b for a, b in seen)


def test_dataframe_debugging_off_by_default(spark):
    """r17 construction-cost lever: pyspark 4's per-call call-site
    capture (2 extra JVM round trips + a traceback walk on EVERY
    Column/functions call) is disabled unless SPARK_GRAFT_DF_DEBUG
    opts back in. Measured: 219-query registry construction 115.7s ->
    46.3s (avg 529 -> 211 ms) at sf0.001. The conf only decorates
    error messages — no plan or result changes."""
    import os

    from petastorm_spark.session import ensure_session_confs

    want = os.environ.get("SPARK_GRAFT_DF_DEBUG", "false")
    ensure_session_confs(spark)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == want
    # the python-side cache must agree (it froze at first wrapped call)
    from pyspark.errors.utils import is_debugging_enabled

    assert is_debugging_enabled() == (want.lower() == "true")


def _python_udf_calls(df) -> dict[int, str]:
    """Operator id -> the UDF call (``name(args)``) of every
    ``ArrowEvalPython`` operator in the FINAL adaptive plan of ``df``,
    read after running the frame: the cross-branch ReusedExchange only
    exists in the final plan, and the details of the initial plan
    (one copy of the subtree per union branch) follow its tree."""
    import re

    from petastorm_spark.plans.checks import _operators, formatted_plan

    df.collect()
    tree = formatted_plan(df).split("== Initial Plan ==")[0]
    final_ids = {int(i) for i in re.findall(r"ArrowEvalPython \((\d+)\)", tree)}
    calls = {}
    for op_id, section in _operators(df).items():
        if op_id in final_ids:
            m = re.search(r"^Arguments: \[(\w+\([^)]*\))", section, re.M)
            if m is None:
                pytest.fail(f"no UDF call in the ArrowEvalPython details:\n{section}")
            calls[op_id] = m.group(1)
    return calls


def test_multimodal_dup_pairs_decode_runs_once(spark):
    """The banded self-join's cold and hot union branches must share
    ONE bucket exchange (identical projections — `rest` is derived
    post-shuffle on the hot branch), so the upstream decode UDF
    executes exactly once, not once per branch; and the blob is the
    decode UDF's only argument (the id stays in the engine). Data
    populates BOTH branches (a 3-copy bucket over hot_threshold=2,
    plus a 2-copy cold bucket)."""
    import re

    import numpy as np

    from petastorm_spark.operators.multimodal import (
        encode_fake_image,
        image_dup_pairs,
    )
    from petastorm_spark.plans.checks import _operators
    from petastorm_spark.session import arrow_local_df

    grad_up = np.tile(np.arange(11, dtype=np.uint8) * 20, (6, 1))
    grad_dn = grad_up[:, ::-1].copy()
    a, b = encode_fake_image(grad_up), encode_fake_image(grad_dn)
    df = arrow_local_df(
        spark,
        {"doc_id": [0, 1, 2, 3, 4], "image": [a, a, a, b, b]},
        "doc_id bigint, image binary",
    )
    out = image_dup_pairs(
        df, "image", "doc_id", max_hamming=3, bands=4, hot_threshold=2
    )
    calls = _python_udf_calls(out)
    assert len(calls) == 1, (
        "decode UDF executed more than once — the union branches no "
        f"longer share the bucket exchange: {calls}"
    )
    (call,) = calls.values()
    assert re.fullmatch(r"\w+\(image#\d+\)", call), (
        f"the fingerprint UDF takes more than the blob: {call}"
    )
    reused = [
        s for s in _operators(out).values()
        if re.match(r"\(\d+\) ReusedExchange\b", s)
    ]
    assert len(reused) >= 3, (
        "expected cold-b, hot-a and hot-b to reuse the one bucket "
        f"exchange, found {len(reused)} ReusedExchange"
    )
    rows = {(r.id_a, r.id_b) for r in out.collect()}
    assert rows == {(0, 1), (0, 2), (1, 2), (3, 4)}
