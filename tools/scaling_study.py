"""Scaling study: replicate the sf0.1 tables 10x (shifted keys) into a
synthetic ~sf1 dataset, run a headline-query subset at sf0.01 / sf0.1 /
sf1-synthetic, and print a scaling table (wall seconds + ratio).

The point is evidence for the 100 TB design claims: a plan whose
runtime grows ~linearly from 60 K to 6 M rows with constant plan shape
is credible at 1000x; one that grows superlinearly is not.

    python tools/scaling_study.py [out_markdown]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from petastorm_spark.profile import profile_query  # noqa: E402
from petastorm_spark.queries import QUERIES  # noqa: E402
from petastorm_spark.session import get_spark  # noqa: E402

SHIFT = 10**9
REPLICAS = 10
KEY_COLS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_TABLES = ["region", "nation", "customer", "supplier", "part"]

STUDY_QUERIES = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q3_shipping_priority",
    "shard_distribution",
    "sessionization",
    "text_stats",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "ann_cosine_multiprobe",
    "events_ewma",
    "q21_waiting_suppliers",
    "dedup_near_pairs",
    "dedup_embedding_pairs",
    "dedup_clusters",
    "bm25_search",
    "pack_sequences",
    "decontaminate_overlap",
    "asof_join_clicks",
    "range_join_campaigns",
    "rollup_multigrain",
    "chunk_documents",
    "text_repetition",
    "ngram_repetition",
    "token_entropy",
    "cap_per_source",
    "embedding_quantize",
    "dedup_containment_pairs",
    "dedup_jaccard_pairs",
    "incremental_near_dup",
    "doc_ngram_novelty",
    "shard_plan_docs",
    "curate_corpus_docs",
    "boilerplate_ngrams",
    "dedup_substring_windows",
    "dedup_edit_pairs",
    "quality_floor_source",
    "langid_mismatch_source",
    "hll_distinct_users",
    "funnel_signup_purchase",
    "excise_dup_spans",
    "events_anomaly",
    "sample_weighted_docs",
    "cm_user_event_counts",
    "decontaminate_bloom",
    "token_psi_sources",
    "bigram_logprob",
    "retention_cohorts",
    "overlap_campaign_maintenance",
    "skew_report_sources",
    "token_cost_bpe",
    "value_psi_weekly",
    "negative_pairs_docs",
    "approx_quantiles_chars",
    "cusum_drift_users",
    "perplexity_buckets_lang",
    "dsir_importance_weights",
    "tfidf_top_terms",
    "dedup_source_matrix",
    "zorder_event_tiles",
    "histogram_order_prices",
    "split_leakage_safe",
    "corr_lineitem_matrix",
    "hard_negatives_labeled",
    "ann_recall_lsh",
    "dedup_exact_normalized",
    "dedup_semantic",
    "quality_classifier",
    "bpe_merges",
    "dataset_diff_docs",
    "pagerank_purchases",
    "inverted_index_terms",
    "pmi_collocations",
    "dedup_threshold_curve",
    "token_budget_mix",
    "click_attribution",
    "kmv_source_overlap",
    "cdc_chunk_spans",
    "gbdt_quality_score",
    "dedup_semantic_probe2",
    "doc_signals_bundle",
    "next_event_examples",
    "cdc_repeated_chunks",
    "ann_cosine_sq8",
    "corpus_datacard",
    "vocab_coverage",
    "fuzzy_match_ids",
    "padding_waste_report",
    "dedup_keep_best",
    "triangle_census_parts",
    "kcore_purchase_graph",
    "embedding_jl_projection",
    "embedding_label_drift",
    "ann_recall_ivf",
    "ann_cosine_pq",
    "ann_cosine_ivfpq",
    "ann_recall_pq",
    "ann_recall_ivfpq",
    "hybrid_search_rrf",
    "zipf_corpus_fit",
    "assortativity_parts",
    "pagerank_personalized",
    "label_propagation_parts",
    "quantile_sketch_chars",
    # multimodal fixtures derive content from doc_id (shift 1e11, not
    # the text family's 100k), so replicas get distinct grids and the
    # synthetic column already measures the plan, not copy multiplicity
    "image_dhash_pairs",
    "audio_dup_pairs",
    "video_dup_pairs",
    "image_resize_pipeline",
    "bitext_margin_mine",
    "dedup_semantic_incremental",
    "winnowing_matches",
    "lm_score_backoff",
    "ann_cosine_prefix",
    "ann_recall_prefix",
    "embedding_covariance",
    "video_shot_boundaries",
    "audio_silence_spans",
    "embedding_dim_robust_stats",
    "pii_k_anonymity",
    "ann_cosine_prefix_indexed",
    # knn_graph_ivf is NOT in the study: its registered form pins the
    # oracle's toy 16-cell quantizer, which is quadratic by design at
    # sf1 (the operator's n_cells ~ sqrt(N) sizing rule is the scale
    # story — receipt measured directly in SCALING_OUT "kNN graph").
]


def build_sf1(spark, src: str, dst: str) -> None:
    # marker records the build PARAMETERS — a partial build (no marker)
    # or one made with different replicas/shift/tables is redone
    params = f"replicas={REPLICAS};shift={SHIFT};tables={sorted(KEY_COLS)}{COPY_TABLES}"
    marker = f"{dst}/_BUILD_COMPLETE"
    if os.path.exists(marker) and open(marker).read().strip() == params:
        return
    os.makedirs(dst, exist_ok=True)
    for t in COPY_TABLES:
        spark.read.parquet(f"{src}/{t}.parquet").write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )
    for t, keys in KEY_COLS.items():
        base = spark.read.parquet(f"{src}/{t}.parquet")
        out = None
        for i in range(REPLICAS):
            part = base
            for k in keys:
                part = part.withColumn(k, F.col(k) + F.lit(i * SHIFT))
            out = part if out is None else out.unionByName(part)
        out.repartition(16).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
    with open(marker, "w") as f:
        f.write(params + "\n")


# Pair-emitting / cluster-forming text ops whose sf1-synthetic rows are
# dominated by the fixture's 10x copy multiplicity (every doc gets >=10
# exact copies, so the TRUE pair answer grows quadratically in the copy
# count). The organic variant below keeps dup multiplicity at sf0.1
# levels so these rows measure the PLAN, not the demanded output.
ORGANIC_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_near_pairs",
    "dedup_containment_pairs",
    "dedup_jaccard_pairs",
    "dedup_edit_pairs",
    "dedup_simhash_pairs",
    "dedup_clusters",
    "dedup_keep_best",
    "split_leakage_safe",
    "dedup_substring_windows",
    "excise_dup_spans",
    "incremental_near_dup",
    "doc_ngram_novelty",
    "dedup_semantic",
    "dedup_semantic_probe2",
    "dedup_embedding_pairs",
    # df-capped fingerprint pairing: >= 20 synthetic copies per doc
    # push every fingerprint over max_df, so the synthetic column
    # reads 0 rows; the organic fixture restores honest multiplicity
    "winnowing_matches",
]


def _signed_perm_expr(dim: int, seed: int) -> str:
    """One SQL expression applying a deterministic signed permutation
    to the ``embedding`` array column (0-based Spark SQL indexing).
    A signed permutation is orthogonal, so EVERY within-replica
    pairwise cosine is preserved exactly (up to float summation
    order), while a vector and its image — or two images under
    different permutations — have cosine distributed like a random
    pair's (std ~ 1/sqrt(dim)), far below any dedup threshold."""
    import numpy as np

    rng = np.random.RandomState(seed)
    perm = rng.permutation(dim)
    signs = rng.choice([-1.0, 1.0], dim)
    terms = ", ".join(
        f"-embedding[{int(p)}]" if s < 0 else f"embedding[{int(p)}]"
        for p, s in zip(perm, signs)
    )
    return f"array({terms})"


def build_sf1_organic(spark, src: str, sf1_dir: str, dst: str) -> None:
    """sf1 variant with HONEST dup multiplicity: same 10x replication,
    but replica i > 0 of ``documents`` rewrites every whitespace token
    ``t -> r{i}t`` and replica i > 0 of ``embeddings`` applies a
    seeded signed permutation of the vector coordinates. Both maps are
    injective/orthogonal and uniform within a replica, so
    within-replica dup structure (shingles/edits/simhash bands, and
    pairwise cosines exactly) is sf0.1's, while cross-replica token
    vocabularies are disjoint and cross-replica cosines are
    random-pair-sized (|cos| ~ 1/sqrt(64), nowhere near the 0.95/0.995
    thresholds) — total dup pairs grow 10x (linearly), not
    quadratically, matching an organic corpus where more data means
    more dup GROUPS, not deeper ones. Remaining tables are symlinked
    from the synthetic sf1 build."""
    params = f"replicas={REPLICAS};shift={SHIFT};organic=documents-v1;embeddings-v1"
    marker = f"{dst}/_BUILD_COMPLETE"
    if os.path.exists(marker) and open(marker).read().strip() == params:
        return
    os.makedirs(dst, exist_ok=True)
    for t in list(KEY_COLS) + COPY_TABLES:
        if t in ("documents", "embeddings"):
            continue
        link = f"{dst}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{sf1_dir}/{t}.parquet", link)
    base = spark.read.parquet(f"{src}/documents.parquet")
    out = None
    for i in range(REPLICAS):
        part = base.withColumn("doc_id", F.col("doc_id") + F.lit(i * SHIFT))
        if i > 0:
            part = part.withColumn(
                "text", F.regexp_replace("text", r"(\S+)", f"r{i}$1")
            )
        out = part if out is None else out.unionByName(part)
    out.repartition(16).write.mode("overwrite").parquet(f"{dst}/documents.parquet")
    # pre-v1 organic builds symlinked embeddings to the synthetic dir;
    # drop the link so the overwrite below cannot chase it
    if os.path.islink(f"{dst}/embeddings.parquet"):
        os.remove(f"{dst}/embeddings.parquet")
    ebase = spark.read.parquet(f"{src}/embeddings.parquet")
    eout = None
    for i in range(REPLICAS):
        part = ebase.withColumn("vec_id", F.col("vec_id") + F.lit(i * SHIFT))
        if i > 0:
            part = part.withColumn(
                "embedding", F.expr(_signed_perm_expr(64, 1000 + i))
            )
        eout = part if eout is None else eout.unionByName(part)
    eout.repartition(4).write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")
    with open(marker, "w") as f:
        f.write(params + "\n")


ORGANIC_BEGIN = "<!-- organic-section-begin -->"
ORGANIC_END = "<!-- organic-section-end -->"


def patch(
    out_md: str,
    results: dict[str, list[float]],
    counts: dict[str, list[int]],
    organic_lines: list[str] | None,
) -> None:
    """--only mode: replace just the re-measured rows (and the organic
    section) in an existing report, leaving every other row's
    measurement intact."""
    with open(out_md) as f:
        text = f.read()
    lines = text.split("\n")
    # the organic section repeats query names — main-table row search
    # must stop before it
    main_end = lines.index(ORGANIC_BEGIN) if ORGANIC_BEGIN in lines else len(lines)
    for name, row in results.items():
        ratio = row[2] / row[1] if row[1] else float("nan")
        c = counts[name]
        new = (
            f"| {name} | "
            + " | ".join(f"{x:.2f}s" for x in row)
            + f" | {ratio:.1f}x | {c[1]:,} -> {c[2]:,} |"
        )
        hits = [
            i
            for i, ln in enumerate(lines[:main_end])
            if ln.startswith(f"| {name} | ")
        ]
        if len(hits) > 1:
            sys.exit(f"patch: expected at most one row for {name}, got {len(hits)}")
        if hits:
            lines[hits[0]] = new
        else:  # newly added study query: append to the main table
            hdr = next(
                i for i, ln in enumerate(lines) if ln.startswith("| query | sf0.01")
            )
            end = next(i for i in range(hdr, len(lines)) if lines[i] == "")
            lines.insert(end, new)
            main_end += 1
    if organic_lines:
        if ORGANIC_BEGIN in lines:
            # merge row-by-row: a partial --only run must not drop the
            # organic rows it did not re-measure
            b, e = lines.index(ORGANIC_BEGIN), lines.index(ORGANIC_END)
            for new in organic_lines:
                if not new.startswith("| ") or new.startswith("| query |"):
                    continue
                name = new.split("|")[1].strip()
                hits = [
                    i
                    for i in range(b, e)
                    if lines[i].startswith(f"| {name} | ")
                ]
                if hits:
                    lines[hits[0]] = new
                else:
                    tbl_end = max(
                        i for i in range(b, e) if lines[i].startswith("| ")
                    )
                    lines.insert(tbl_end + 1, new)
                    e += 1
        else:
            # append before the trailing "Interpretation" block
            anchor = lines.index("Interpretation:")
            lines[anchor - 1 : anchor - 1] = organic_lines + [""]
    with open(out_md, "w") as f:
        f.write("\n".join(lines))


def main() -> None:
    only: list[str] | None = None
    args = sys.argv[1:]
    if "--only" in args:
        i = args.index("--only")
        only = args[i + 1].split(",")
        del args[i:i + 2]
        unknown = [q for q in only if q not in STUDY_QUERIES]
        if unknown:
            sys.exit(f"--only names not in STUDY_QUERIES: {unknown}")
    out_md = args[0] if args else "SCALING_OUT.md"
    spark = get_spark("scaling_study")
    sf1_dir = "/tmp/ps_scale_sf1"
    organic_dir = "/tmp/ps_scale_sf1_organic"
    t0 = time.perf_counter()
    build_sf1(spark, "/root/testdata/sf0.1", sf1_dir)
    build_sf1_organic(spark, "/root/testdata/sf0.1", sf1_dir, organic_dir)
    print(f"sf1 builds: {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    dirs = [
        ("sf0.01 (60K li rows)", "/root/testdata/sf0.01"),
        ("sf0.1 (600K)", "/root/testdata/sf0.1"),
        ("sf1-synthetic (6M)", sf1_dir),
    ]
    run_queries = [q for q in STUDY_QUERIES if only is None or q in only]
    # JIT warmup
    for name in run_queries:
        QUERIES[name](spark, "/root/testdata/sf0.001").count()

    def timed(name: str, d: str) -> tuple[float, int]:
        # min-of-2 suppresses GC/page-cache noise
        prof = profile_query(spark, QUERIES[name], d, runs=2)
        return min(prof["walls"]), prof["rows"]

    results: dict[str, list[float]] = {}
    counts: dict[str, list[int]] = {}
    organic: dict[str, tuple[float, int]] = {}
    for name in run_queries:
        row: list[float] = []
        nrow: list[int] = []
        for _, d in dirs:
            best, n = timed(name, d)
            row.append(best)
            nrow.append(n)
        results[name] = row
        counts[name] = nrow
        if name in ORGANIC_QUERIES:
            organic[name] = timed(name, organic_dir)
        print(
            f"{name}: " + "  ".join(f"{x:.2f}s" for x in row)
            + (f"  organic={organic[name][0]:.2f}s" if name in organic else ""),
            file=sys.stderr,
        )

    organic_lines = [
        ORGANIC_BEGIN,
        "",
        "## Pair ops at sf1-ORGANIC (honest dup multiplicity)",
        "",
        "Same 10x volume, but replica i>0 of `documents` rewrites every",
        "token `t -> r{i}t` and replica i>0 of `embeddings` applies a",
        "seeded signed coordinate permutation (orthogonal: within-replica",
        "cosines preserved exactly; cross-replica cosines random-pair",
        "sized, ~1/sqrt(64)) — within-replica dup structure is exactly",
        "sf0.1's and cross-replica shingle vocabularies are disjoint, so",
        "dup pairs grow 10x linearly (more dup GROUPS, same depth) like a",
        "real corpus, instead of the synthetic fixture's >=20-copy groups",
        "whose TRUE pair answer is quadratic in the copy count. This",
        "column is the one that shows plan regressions; the synthetic",
        "column measures demanded-output volume.",
        "",
        "| query | sf0.1 | sf1-synthetic | sf1-ORGANIC | organic/sf0.1 | rows out (sf0.1 -> organic) |",
        "|---|---|---|---|---|---|",
    ]
    for name in ORGANIC_QUERIES:
        if name not in organic:
            continue
        ot, on = organic[name]
        r = results[name]
        organic_lines.append(
            f"| {name} | {r[1]:.2f}s | {r[2]:.2f}s | {ot:.2f}s "
            f"| {ot / r[1] if r[1] else float('nan'):.1f}x "
            f"| {counts[name][1]:,} -> {on:,} |"
        )
    organic_lines += [
        "",
        "NB organic can exceed synthetic where cost follows DISTINCT",
        "keys, not rows: dedup_substring_windows aggregates window",
        "hashes, and the synthetic build's 10 identical copies collapse",
        "to 1/10th the distinct windows (plus r{i}-prefixed tokens are",
        "~30% more chars to hash). Sub-linear vs 10x data either way.",
        "",
        ORGANIC_END,
    ]

    if only is not None:
        patch(out_md, results, counts, organic_lines if organic else None)
        print(f"patched {len(results)} rows in {out_md}", file=sys.stderr)
        return

    lines = [
        "# SCALING — measured query scaling (local[32], min-of-2 timed runs, JIT-warmed)",
        "",
        "10x data (sf0.1 -> synthetic sf1) should cost ~10x at worst for",
        "linear operators; sublinear growth means fixed costs still",
        "dominate at this size. Plan shapes are identical across scales",
        "(verified by tests/test_plans.py).",
        "",
        "| query | " + " | ".join(n for n, _ in dirs) + " | sf1/sf0.1 ratio | rows out (sf0.1 -> sf1) |",
        "|---|---|---|---|---|---|",
    ]
    for name, row in results.items():
        ratio = row[2] / row[1] if row[1] else float("nan")
        c = counts[name]
        lines.append(
            f"| {name} | "
            + " | ".join(f"{x:.2f}s" for x in row)
            + f" | {ratio:.1f}x | {c[1]:,} -> {c[2]:,} |"
        )
    lines.append("")
    lines.append(
        f"Synthetic sf1 = sf0.1 replicated {REPLICAS}x with key columns "
        f"shifted by i*1e9 (fact tables only; dimensions shared). Timings "
        f"are min-of-2 runs (suppresses GC/page-cache noise)."
    )
    if organic:
        lines += [""] + organic_lines
    lines += [
        "",
        "Interpretation:",
        "- Sub-linear growth for 10x data means fixed scheduling/JVM costs",
        "  still dominate at 6M rows; the small marginal per-row cost is",
        "  what carries to 100 TB.",
        "- PAIR-EMITTING dedup ops (minhash_lsh, simhash_pairs, near_pairs,",
        "  embedding_pairs, containment_pairs, edit_pairs) are",
        "  OUTPUT-bound on this fixture:",
        "  replicating the corpus 10x gives every text 20 exact copies",
        "  (10 replicas x the query's own dup-union), so the TRUE answer",
        "  grows quadratically in the copy count — compare the rows-out",
        "  column, and judge these ops on pairs/sec, not wall ratio.",
        "  Organic corpora (bounded dup multiplicity) stay near-linear;",
        "  emitting exactly the demanded quadratic output is correct",
        "  behavior, not a plan defect.",
        "- Plan shapes are identical across scales (same broadcasts, same",
        "  exchanges — pinned by tests/test_plans.py); only task counts",
        "  change, which is the property that carries to a 1000-executor",
        "  cluster.",
    ]
    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_md}", file=sys.stderr)


if __name__ == "__main__":
    main()
