"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship query on /root/testdata/sf0.001
queries()      -> every implemented operator from SURVEY.md §2
oracle_sql()   -> DuckDB-equivalent SQL per query (correctness gate)

The driver's correctness gate checks the first ~50 registered queries, so
with more than 50 registered some fall outside the window each round.
Rather than hand-curating the order (round-3 ADVICE flagged that), queries
are sorted by *evidence staleness*: the round each query last had a fully
green driver-oracle row (read from the committed CORRECTNESS_r*.json
files).  Least-recently-verified queries sort first, so whatever falls
past the cap this round automatically rotates to the front next round and
every query re-proves at least every other round.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from petastorm_spark.queries import ORACLE, QUERIES

_REPO = Path(__file__).resolve().parent


def _last_green_round() -> dict[str, int]:
    """Map query name -> most recent round with a fully green oracle row."""
    last: dict[str, int] = {}
    for path in _REPO.glob("CORRECTNESS_r*.json"):
        m = re.match(r"CORRECTNESS_r(\d+)\.json$", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = (
                row.get("err") is None
                and row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") in (True, None)
            )
            if green and rnd > last.get(name, -1):
                last[name] = rnd
    return last


# Queries whose Spark plan or oracle CHANGED this round: they sort
# ahead of everything so the driver's ~50-query window certifies the
# code that actually ships (round-8 ADVICE: the bigint purchase-graph
# re-encode landed in a round whose window never exercised it).
# Refresh this list each round; stale names cost nothing — once the
# round's CORRECTNESS file is committed the staleness sort would have
# rotated them forward anyway.
CHANGED_THIS_ROUND: list[str] = [
    # media queries whose kernels and blob generators now run as
    # per-row Arrow Python UDFs in place of mapInPandas batch loops
    "image_dhash_pairs",
    "audio_dup_pairs",
    "video_dup_pairs",
    "audio_meta_stats",
    "image_meta_stats",
    "image_resize_pipeline",
    "video_frame_sample",
    "video_shot_boundaries",
    "audio_silence_spans",
    # similarity plans that now score through the one guarded cosine
    # and the one shortlist-rescore tail
    "ann_cosine_topk",
    "ann_cosine_lsh",
    "ann_cosine_ivf",
    "ann_cosine_ivf_auto",
    "ann_cosine_multiprobe",
    "ann_cosine_sq8",
    "ann_cosine_pq",
    "ann_cosine_ivfpq",
    "ann_cosine_prefix",
    "ann_cosine_prefix_indexed",
    "ann_recall_ivf",
    "ann_recall_lsh",
    "ann_recall_pq",
    "ann_recall_ivfpq",
    "ann_recall_prefix",
    "ann_mrr_prefix",
    "ann_rbo_prefix",
    "knn_graph_ivf",
    "knn_graph_communities",
    "knn_graph_incremental",
    "knn_graph_hier",
    "dedup_semantic",
    "dedup_semantic_probe2",
    "dedup_semantic_incremental",
    "hard_negatives_labeled",
    "embedding_label_drift",
    "dedup_embedding_pairs",
    "knn_classify",
    "hybrid_search_rrf",
    "embedding_intrinsic_dim",
    # index, k-means, stateful-fold and reader-filter plans changed
    # since the last driver correctness artifact
    "kmeans_embeddings",
    "cluster_balanced_sample",
    "incremental_near_dup",
    "incremental_dedup_tombstoned",
    "dedup_incremental",
    "events_ewma",
    "events_ewma_agg",
    "cm_user_event_counts",
    "decontaminate_overlap",
    "constraint_check_orders",
    "q19_disjunctive_pushdown",
]


def _ordered(mapping: dict) -> dict:
    last = _last_green_round()
    natural = {k: i for i, k in enumerate(mapping)}
    front = {k: i for i, k in enumerate(CHANGED_THIS_ROUND)}
    keys = sorted(
        mapping,
        key=lambda k: (
            0 if k in front else 1,
            front.get(k, 0),
            last.get(k, -1),
            natural[k],
        ),
    )
    return {k: mapping[k] for k in keys}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: TPC-H Q1 pricing summary at sf0.001."""
    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    return _ordered(ORACLE)
