"""Distributed byte-pair-encoding (BPE) merge learning and
application — the tokenizer-training step of an LLM data pipeline,
expressed Spark-first.

Classic BPE (Sennrich et al. 2016) operates on the WORD-FREQUENCY
table, not the raw corpus: the corpus collapses to (word, count) once,
so each merge round scans |vocab| rows — bounded by the heavy-tailed
distinct-word count, orders of magnitude below corpus size at 100 TB.
Each round is:

  1. count adjacent symbol pairs weighted by word frequency
     (explode + one partial-aggregated groupBy);
  2. take the top pairs (deterministic tie-break: count DESC, then
     lexicographic) — one BOUNDED collect to the driver — and accept
     up to ``merges_per_round`` of them whose symbols are pairwise
     disjoint (symbol-disjoint merges commute, so applying them as a
     batch equals applying them sequentially; see ``bpe_learn``);
  3. merge the accepted pairs inside every word's symbol array with
     composed pure-JVM ``aggregate`` folds (greedy left-to-right,
     matching the reference algorithm) — no Python UDFs anywhere.

Learning M merges therefore costs O(M / merges_per_round) Spark job
rounds, not M sequential driver round-trips (the round-6 scale
ceiling). Driver state is O(num_merges); each round's vocabulary is
persisted through ``session.materialize`` and the previous one
released, so the plan never deepens past one round's folds. The
returned vocabulary stays registered until ``release_persisted()``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from petastorm_spark.operators.text import tokens
from petastorm_spark.session import arrow_local_df, materialize, release


def merge_pair_expr(syms, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) into ``a+b``
    inside a symbol array, as a single fold: ("a","a","a") under
    (a,a) -> ("aa","a"), the reference BPE behavior. ``F.get`` returns
    NULL (not an ANSI error) on the empty accumulator, so the first
    element always appends."""
    c = F.col(syms) if isinstance(syms, str) else syms
    return F.aggregate(
        c,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def adjacent_pairs(syms) -> Column:
    """All adjacent symbol pairs of an array as array<struct<a,b>>
    (empty for arrays shorter than 2 — guarded so ``sequence`` never
    sees stop < start)."""
    c = F.col(syms) if isinstance(syms, str) else syms
    return F.when(
        F.size(c) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(c) - 2),
            lambda i: F.struct(
                F.element_at(c, i + 1).alias("a"),
                F.element_at(c, i + 2).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """Collapse a corpus to its word-frequency table:
    (word, count, syms) with syms = the word split to characters."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
        .withColumn("syms", F.split(F.col("word"), ""))
    )


def _bpe_local(
    words: dict[str, int], num_merges: int, min_freq: int
) -> tuple[list[tuple[str, str, int]], dict[str, list[str]]]:
    """Driver-side merge loop over an already-collapsed word-frequency
    table — bit-identical semantics to the distributed rounds (same
    count-DESC-then-lexicographic tie-break, same greedy fold)."""
    from collections import Counter

    syms = {w: list(w) for w in words}
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for w, s in syms.items():
            c = words[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += c
        if not pairs:
            break
        (a, b), freq = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if freq < min_freq:
            break
        merges.append((a, b, int(freq)))
        for w, s in syms.items():
            out: list[str] = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[w] = out
    return merges, syms


def _select_disjoint_batch(
    rows, remaining: int, min_freq: int, merges_per_round: int
) -> list[tuple[str, str, int]]:
    """Greedy scan of frequency-ordered candidate pairs, accepting up
    to ``min(remaining, merges_per_round)`` whose symbols (and merged
    products) are pairwise disjoint. A pair sharing a symbol with an
    accepted merge has a stale count after that merge applies, so it
    is deferred to the next round (where it is recounted fresh); the
    product string is reserved too so two different merges can never
    mint the same new symbol in one round. The first candidate always
    qualifies, so a non-empty batch is guaranteed whenever the best
    pair clears ``min_freq``."""
    cap = min(remaining, merges_per_round)
    batch: list[tuple[str, str, int]] = []
    used: set[str] = set()
    for r in rows:
        if len(batch) >= cap:
            break
        a, b, freq = r["a"], r["b"], int(r["freq"])
        if freq < min_freq:
            break
        if a in used or b in used or (a + b) in used:
            continue
        batch.append((a, b, freq))
        used.update((a, b, a + b))
    return batch


def bpe_learn(
    df: DataFrame,
    text_col: str,
    num_merges: int = 8,
    min_freq: int = 2,
    local_threshold: int = 200_000,
    merges_per_round: int = 1,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn ``num_merges`` BPE merges from a corpus. Returns
    ``(merges, vocab)`` — merges as [(left, right, pair_freq)] in
    learned order; vocab as the final (word, count, syms) table.

    Stops early when the best remaining pair's frequency falls below
    ``min_freq``. Iterative (each round's argmax depends on the
    previous merge) but still oracle-checked: the registered query's
    DuckDB twin unrolls the rounds as a MATERIALIZED-CTE ladder with
    the greedy fold expressed as ``replace()`` over a double-delimited
    symbol string (queries_llm._bpe_oracle_sql), on top of the
    pure-Python differential tests here.

    Scale-adaptive like connected_components: the corpus ALWAYS
    collapses to its word-frequency table distributed (that is the
    heavy pass); when the resulting vocabulary is at or below
    ``local_threshold`` rows the merge loop runs on the driver over
    one Arrow transfer — replacing ~3 sequential Spark jobs per merge
    whose latency dominates small vocabularies — with bit-identical
    tie-breaks (tested both paths). Production tokenizer training
    splits the work exactly this way (distributed count, local
    merges); the distributed rounds below remain the path for
    vocabularies that do not fit a driver. Set ``local_threshold=0``
    to force distributed rounds.

    Distributed rounds learn in BATCHES: each round collects the top
    candidate pairs once (bounded rows) and accepts up to
    ``merges_per_round`` whose symbols are pairwise disjoint —
    symbol-disjoint merges commute, so the batch applies as composed
    folds in one pass with results identical to applying those same
    merges sequentially. The batch's 2nd..kth SELECTIONS use counts
    from the start of the round (the standard parallel-BPE
    batched-greedy semantics; a conflicting pair is deferred and
    recounted next round), so against classic one-merge-per-round BPE
    the learned ORDER can differ while each recorded freq is the true
    pre-round count. The DEFAULT is ``merges_per_round=1`` — classic
    sequential BPE, bit-identical to the driver fast path, so the
    auto-selected path never changes the learned merges when the
    vocabulary size crosses ``local_threshold``. Batching is opt-in:
    ``merges_per_round=16`` turns learning M merges into O(M/16) job
    rounds instead of M sequential driver round-trips — the
    difference between 100k merges being 3 days of job latency and an
    afternoon — at the cost of the batched-greedy order above.
    """
    vocab = materialize(word_vocab(df, text_col))
    n_vocab = vocab.count()  # materialize the collapsed word table once
    if n_vocab <= local_threshold:
        pdf = vocab.select("word", "count").toPandas()
        release(vocab)
        words = dict(zip(pdf["word"].tolist(), (int(c) for c in pdf["count"])))
        merges, syms = _bpe_local(words, num_merges, min_freq)
        spark = df.sparkSession
        ws = list(syms)
        out = arrow_local_df(
            spark,
            {
                "word": ws,
                "count": [words[w] for w in ws],
                "syms": [syms[w] for w in ws],
            },
            "word string, count bigint, syms array<string>",
        )
        return merges, out
    if merges_per_round < 1:
        raise ValueError(f"merges_per_round must be >= 1, got {merges_per_round}")
    merges: list[tuple[str, str, int]] = []
    # over-collect so skipped (conflicting) candidates don't starve a
    # round: 4x the batch is plenty — a round accepts at most
    # merges_per_round pairs and each acceptance blocks at most a
    # handful of later candidates
    top_n = max(64, 4 * merges_per_round)
    try:
        while len(merges) < num_merges:
            top = (
                vocab.select(
                    F.explode(adjacent_pairs("syms")).alias("p"), "count"
                )
                .groupBy("p.a", "p.b")
                .agg(F.sum("count").alias("freq"))
                .orderBy(F.col("freq").desc(), "a", "b")
                .limit(top_n)
                .collect()
            )
            batch = _select_disjoint_batch(
                top, num_merges - len(merges), min_freq, merges_per_round
            )
            if not batch:
                break
            merges.extend(batch)
            syms_col: Column = F.col("syms")
            for a, b, _ in batch:
                syms_col = merge_pair_expr(syms_col, a, b)
            new_vocab = materialize(vocab.withColumn("syms", syms_col))
            new_vocab.count()  # cut lineage before dropping the old cache
            release(vocab)
            vocab = new_vocab
        return merges, vocab
    except Exception:
        release(vocab)
        raise


def segment_expr(word_col, merges: list[tuple[str, str, int]]) -> Column:
    """Symbol array of a word under a learned merge list: chars, then
    each merge applied in learned order (the standard greedy encoder).
    Expression depth grows with len(merges) — fine for the tens of
    merges these pipelines inspect; at vocabulary scale, encode against
    the materialized vocab table instead (see bpe_token_count)."""
    c = F.col(word_col) if isinstance(word_col, str) else word_col
    syms = F.split(c, "")
    for a, b, _ in merges:
        syms = merge_pair_expr(syms, a, b)
    return syms


def bpe_token_count(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str, int]],
) -> DataFrame:
    """Per-document BPE token count under a learned merge list —
    the training-cost estimator. Output: (id, n_words, n_bpe_tokens).

    Scale: words are segmented ONCE per distinct word (the corpus
    collapses to its vocabulary before any merge expression runs),
    then lengths join back to the exploded (doc, word) stream on an
    equi-key — repeated words never re-segment."""
    words = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("word")
    ).where(F.length("word") > 0)
    seg_len = (
        words.select("word")
        .distinct()
        .withColumn("n_syms", F.size(segment_expr("word", merges)))
    )
    return (
        words.join(seg_len, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
        )
    )
