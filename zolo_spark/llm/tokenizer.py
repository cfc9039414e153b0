"""BPE tokenizer training + encoding over the documents table.

The vocabulary-learning step a training-data pipeline runs before
token counting: classic byte-pair encoding (Sennrich et al. 2016,
the published algorithm) re-expressed Spark-first.

Scale shape: the CORPUS pass is one linear distributed aggregation
(corpus → word frequencies); the merge loop then iterates on the
(much smaller) word-frequency relation — pair counting is a
distributed groupBy per round with only the single winning pair
collected to the driver, and the word relation is localCheckpoint'd
periodically like the dup-clusters propagation loop, so lineage stays
bounded. At 100 TB the word table is ~10⁸ rows (GBs, not TBs) — it
stays distributed; nothing corpus-sized ever loops.

Encoding applies the learned ranks with the standard greedy
lowest-rank-first algorithm inside an Arrow-batched pandas UDF (the
merge table broadcasts; per-token work is pure Python on unique words
per batch).

Determinism: ties in pair frequency break lexicographically, so the
learned merge list is engine- and partitioning-independent (tested
identical to a sequential pure-Python reference implementation).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..ops.partitioning import fan_out

END = "</w>"  # end-of-word marker, per the published algorithm


def word_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct-word frequency relation — the one corpus-sized pass."""
    return (
        fan_out(df)
        .select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols() -> F.Column:
    """word → [c1, c2, ..., cn + END]."""
    chars = F.split(F.col("w"), "")
    n = F.size(chars)
    return F.concat(
        F.slice(chars, 1, n - 1),
        F.array(F.concat(F.element_at(chars, -1), F.lit(END))),
    )


def _merge_pair(syms: F.Column, a: str, b: str) -> F.Column:
    """One left-to-right non-overlapping merge pass of (a, b) → a+b,
    as a single fold — no Python touches the word rows."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(df: DataFrame, n_merges: int = 50,
              text_col: str = "text",
              checkpoint_every: int = 1) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns ``[(left, right,
    pair_count), ...]`` in learned order.

    NOT thread-safe: the merge loop runs with session-global conf
    overrides (AQE off, ``shuffle.partitions`` pinned to the
    checkpointed relation's width), restored in ``finally`` — a
    concurrent query on the SAME SparkSession would plan under those
    overrides while training runs. Callers that share a session
    across threads should train on ``spark.newSession()`` (separate
    runtime conf, shared context) so the window cannot leak."""
    words = word_freqs(df, text_col).select(
        _initial_symbols().alias("syms"), "freq"
    )
    words = words.localCheckpoint()
    merges: list[tuple[str, str, int]] = []
    # AQE off for the merge loop (the classifier's _gd_session
    # lesson, r10): every round is one partial-agg exchange over an
    # already-checkpointed small relation + a TakeOrdered — AQE's
    # per-round shuffle-stage materialization and re-planning is pure
    # scheduler overhead here (no join, no skew), measured ~2× of
    # sub-second round latency. Same plan, same merges, fewer jobs.
    spark = words.sparkSession
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions", "200")
    # Scale-adaptive loop shuffle width: the checkpointed word
    # relation's own partition count (AQE already coalesced its
    # build to ~bytes/advisory partitions, so it is data-
    # proportional — 1 at gate scale, tens at the 10⁸-word scale).
    # With AQE off inside the loop, the session default (= core
    # count) would schedule that many reduce tasks per round over a
    # relation that fits in one.
    n_loop = max(1, words.rdd.getNumPartitions())
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_loop))
    try:
        merges.extend(_merge_loop(words, n_merges, checkpoint_every))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    return merges


def _merge_loop(words: DataFrame, n_merges: int,
                checkpoint_every: int) -> list[tuple[str, str, int]]:
    merges: list[tuple[str, str, int]] = []
    for i in range(n_merges):
        pairs = (
            words.select(
                "freq",
                # when() without otherwise -> NULL for 1-symbol words,
                # and explode drops NULL arrays (sequence(1, 0) would
                # otherwise DESCEND in Spark and index out of bounds)
                F.explode(
                    F.when(
                        F.size("syms") >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda j: F.struct(
                                F.element_at("syms", j).alias("a"),
                                F.element_at("syms", j + 1).alias("b"),
                            ),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b").agg(F.sum("freq").alias("n"))
        )
        top = pairs.orderBy(F.col("n").desc(), "a", "b").take(1)
        if not top or top[0]["n"] < 2:
            break  # nothing left worth merging
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((a, b, n))
        words = words.select(_merge_pair(F.col("syms"), a, b).alias("syms"),
                             "freq")
        if (i + 1) % checkpoint_every == 0:
            # bound the fold lineage. checkpoint_every=1 (default since
            # r14): each fold then runs EXACTLY once (with k>1 every
            # round's action recomputes up to k-1 earlier folds), and
            # each round's plan analyzed by Catalyst is leaf+1 fold
            # instead of a k-deep nest of array-fold lambdas — measured
            # 0.32 → 0.24 s/round at gate scale, identical merges.
            words = words.localCheckpoint()
    return merges


def merges_df(spark, merges: list[tuple[str, str, int]]) -> DataFrame:
    return spark.createDataFrame(
        [(i, a, b, a + b, n) for i, (a, b, n) in enumerate(merges)],
        "rank int, left string, right string, merged string, pair_count long",
    )


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard greedy BPE encode: repeatedly merge the lowest-rank
    adjacent pair. Pure function, shared by the UDF and the tests."""
    syms = list(word[:-1]) + [word[-1] + END] if word else []
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i: best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(df: DataFrame, merges: list[tuple[str, str, int]],
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Tokenize the corpus with learned merges: Arrow-batched pandas
    UDF, per-batch word cache (Zipf makes the distinct-word set tiny
    relative to token count), merge ranks broadcast by closure."""
    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def encode(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc_text(t):
            out = []
            for w in (t or "").lower().split(" "):
                if not w:
                    continue
                if w not in cache:
                    cache[w] = bpe_encode_word(w, ranks)
                out.extend(cache[w])
            return out

        return texts.map(enc_text)

    return df.select(
        F.col(id_col).alias("doc_id"),
        encode(F.col(text_col)).alias("bpe_tokens"),
    )
