"""Unigram language-model quality scoring (CCNet-style).

The classic web-corpus quality signal (Wenzek et al., *CCNet*, 2020)
is the perplexity of each document under a language model trained on
a trusted corpus.  The distributed analog here trains a unigram LM
over the corpus itself in one aggregation pass, then scores every
document as its mean per-token negative log-likelihood (high = the
document's vocabulary is unusual for the corpus, low = it looks like
everything else).  Documents can then be filtered or bucketed by the
score — the same shape the reference's quality gates use for rule
scores (``quality_score`` in :mod:`zolo_spark.llm.text`), with a
corpus-adaptive statistic instead of fixed rules.

Scale design:

* **LM training** is one ``explode → groupBy(token)`` with map-side
  partial aggregation, so the zipfian hot tokens ("the") are combined
  per-partition before the shuffle — the skew never materializes as a
  hot reduce key of raw rows.
* **Scoring** joins every token occurrence against the LM.  The LM is
  vocabulary-sized (millions of rows at worst ≪ corpus size), so it is
  **broadcast** — the join costs zero shuffle and is immune to token
  skew; the only shuffle in the whole job is the final per-document
  aggregate.
* **Cross-engine exactness**: per-token NLL is rounded to 6 decimals
  and summed as ``DECIMAL`` (exact, associative — the sum is
  independent of Spark's partition/merge order), then one double
  division per document.  ``ln`` of the identical double ratio may
  differ between libms by an ULP; the round-6 absorbs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _tokens(text_col: str):
    return F.split(F.lower(F.col(text_col)), " ")


def unigram_lm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Train a unigram LM: one row per token with its corpus count and
    log-probability ``ln(count / total)``.

    No smoothing: the LM scores the corpus it was trained on (every
    scored token has a count).  For scoring held-out text, join with
    a left join and coalesce to a floor logprob.
    """
    from ..ops.partitioning import fan_out

    counts = (
        fan_out(df).select(F.explode(_tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "token",
        "n",
        F.log(F.col("n").cast("double") / F.col("_total")).alias("logp"),
    )


def doc_nll(df: DataFrame, lm: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Score each document: mean per-token negative log-likelihood
    under ``lm`` (≈ log-perplexity).  Returns
    ``(id_col, n_tokens, mean_nll)``.

    The LM side is broadcast (vocabulary ≪ corpus), so token skew is
    irrelevant and the single shuffle is the per-document aggregate.
    """
    from ..ops.partitioning import fan_out

    toks = fan_out(df).select(
        F.col(id_col), F.explode(_tokens(text_col)).alias("token"))
    nll = F.round(-F.col("logp"), 6).cast("decimal(28,6)")
    n = F.count(F.lit(1))
    return (
        toks.join(F.broadcast(lm), "token")
        .groupBy(id_col)
        .agg(
            n.cast("long").alias("n_tokens"),
            F.round(F.sum(nll).cast("double") / n, 4).alias("mean_nll"),
        )
    )


def perplexity_filter(df: DataFrame, lm: DataFrame, max_mean_nll: float,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Keep documents whose mean NLL is at most ``max_mean_nll`` —
    the CCNet "head/middle" cut expressed as a threshold."""
    scores = doc_nll(df, lm, text_col=text_col, id_col=id_col)
    return df.join(
        scores.filter(F.col("mean_nll") <= max_mean_nll).select(id_col),
        id_col,
    )


def perplexity_buckets(scores: DataFrame,
                       id_col: str = "doc_id") -> DataFrame:
    """CCNet's head/middle/tail partition (Wenzek et al. 2020 §4.3):
    bucket every document by which perplexity tercile it falls in —
    ``head`` = most-fluent third, ``tail`` = least.  Input is the
    :func:`doc_nll` output; returns ``(id, mean_nll, bucket)``.

    The tercile cuts are ONE exact-percentile aggregate (a 2-value
    frame, broadcast to the assignment projection) — no global sort
    and no ntile over the corpus.  Exact ``percentile`` buffers the
    score vector on the aggregating executor: fine for per-DOCUMENT
    score counts (≤ ~10⁸); beyond that swap ``approx_percentile`` at
    this seam — bucket semantics are unchanged.

    Determinism: ``mean_nll`` is already round-4; the cuts are
    round-4; the comparisons see identical doubles in both engines
    (``1.0/3.0`` is written the same way on both sides).
    """
    cuts = scores.agg(
        F.round(F.percentile("mean_nll", F.lit(1.0 / 3.0)), 4).alias("t1"),
        F.round(F.percentile("mean_nll", F.lit(2.0 / 3.0)), 4).alias("t2"),
    )
    return scores.crossJoin(F.broadcast(cuts)).select(
        id_col, "mean_nll",
        F.when(F.col("mean_nll") <= F.col("t1"), "head")
        .when(F.col("mean_nll") <= F.col("t2"), "middle")
        .otherwise("tail").alias("bucket"),
    )
