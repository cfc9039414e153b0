"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

The pre-training data-selection method used to pick web documents
that "look like" a trusted target domain: featurize every document as
a bag of HASHED n-grams (unigrams + bigrams folded into a fixed
number of buckets), fit two smoothed bag-of-ngrams distributions —
``p̂`` over a target sample and ``q̂`` over the raw corpus — and score
each document with its log importance weight

    log w_i = Σ_b  c_ib · ( log p̂_b − log q̂_b )

then keep the top-k (the deterministic analog of the paper's
gumbel-top-k resampling; a salted-hash jitter column would restore
sampling without losing replayability).

Scale design:

* featurization is explode → groupBy(doc, bucket) with map-side
  combine — hot n-grams ("the") collapse per-partition before any
  shuffle, and the per-doc feature vector is at most ``buckets`` rows;
* both distributions are ONE aggregate each over the feature table,
  producing ``buckets``-row frames — **broadcast** to the scoring
  join, so the per-document weight costs zero shuffle beyond the
  per-doc sum;
* selection is a rank-filter (weight desc, doc_id) that Spark
  executes as WindowGroupLimit — per-partition partial top-k, never a
  full global sort of the corpus.

Cross-engine determinism: bucket ids come from the first 4 hex chars
of ``md5(ngram)`` (16 bits, folded mod ``buckets``); the per-bucket
log-ratio is rounded to 6 decimals once, per-document terms
``count · ratio`` are IEEE-identical doubles rounded to 6 and summed
as DECIMAL(28,6) — exact and order-independent; ordering ties break
on doc_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from . import cachereg

DEFAULT_BUCKETS = 256


def _clean_tokens(text_col: str) -> Column:
    return F.filter(F.split(F.lower(F.col(text_col)), " "),
                    lambda x: x != "")


def hashed_ngram_features(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """(id, bucket, c) — hashed unigram+bigram counts per document.

    Tokens are lowercased whitespace splits with empties removed;
    bigrams join adjacent clean tokens with a single space (so the
    oracle's ``t[i] || ' ' || t[i+1]`` reproduces them byte-for-byte).
    """
    t = _clean_tokens(text_col)
    n = F.size(t)
    # slice() rejects negative lengths, so the n=0 (all-whitespace
    # document) case needs an explicit empty-array branch.
    bigrams = F.when(
        n >= 2,
        F.zip_with(F.slice(t, 1, n - 1), F.slice(t, 2, n - 1),
                   lambda a, b: F.concat(a, F.lit(" "), b)),
    ).otherwise(F.array().cast("array<string>"))
    ngrams = F.concat(t, bigrams)
    bucket = (F.conv(F.substring(F.md5(F.col("ngram")), 1, 4), 16, 10)
              .cast("long") % buckets)
    from ..ops.partitioning import fan_out

    # the ngram explode + per-gram md5 is the CPU-heavy pass; widen a
    # narrow input so it runs at cluster parallelism
    return (
        fan_out(df)
        .select(F.col(id_col).alias("doc_id"),
                F.explode(ngrams).alias("ngram"))
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def dsir_log_ratios(feats: DataFrame, target_ids: DataFrame,
                    buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """(bucket, lr) — round-6 per-bucket log importance ratio between
    the add-1-smoothed target and raw hashed-ngram distributions.

    BOTH marginals come out of ONE aggregate over ONE scan of the
    feature table: a broadcast-join flags target-member rows, then
    conditional sums split raw vs target mass per bucket (the r8
    version ran two separate aggregates — two full passes over the
    hashed-n-gram frame, the largest non-codec line of the sf10
    rehearsal at 148.7 s). The result is ``buckets`` rows, meant to
    be broadcast.
    """
    # distinct BEFORE the flag join: duplicate ids in target_ids would
    # fan out feats rows and inflate BOTH rc and tc (the two-aggregate
    # r8 form kept rc immune to target duplicates; the one-pass join
    # must stay membership-pure, not multiplicity-weighted).
    flag = F.broadcast(
        target_ids.select("doc_id").distinct().withColumn("_t", F.lit(1)))
    marg = (
        feats.join(flag, "doc_id", "left")
        .groupBy("bucket")
        .agg(F.sum("c").alias("rc"),
             F.sum(F.when(F.col("_t") == 1, F.col("c"))
                   .otherwise(0)).alias("tc"))
    )
    # Totals as a GLOBAL WINDOW over the ≤buckets-row marginal frame —
    # a separate .agg() would re-execute marg's whole lineage (a
    # second scan of the corpus-sized feature table); the window costs
    # one single-partition exchange of ≤buckets rows.
    totals = W.partitionBy()
    b = float(buckets)
    return (
        marg.select(
            "bucket", "rc", "tc",
            F.sum("rc").over(totals).alias("R"),
            F.sum("tc").over(totals).alias("T"),
        )
        .select(
            "bucket",
            F.round(
                F.log((F.col("tc") + 1).cast("double")
                      / (F.col("T") + b).cast("double"))
                - F.log((F.col("rc") + 1).cast("double")
                        / (F.col("R") + b).cast("double")),
                6,
            ).alias("lr"),
        )
    )


def dsir_weights(feats: DataFrame, ratios: DataFrame) -> DataFrame:
    """(doc_id, dsir_weight) — exact DECIMAL sum of round-6
    ``count × log-ratio`` terms; the ratio table joins broadcast."""
    return (
        feats.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.round(F.col("c") * F.col("lr"), 6)
                   .cast("decimal(28,6)")).alias("_w"))
        .select("doc_id", F.col("_w").cast("double").alias("dsir_weight"))
    )


def dsir_select(df: DataFrame, target_ids: DataFrame, k: int = 100,
                text_col: str = "text", id_col: str = "doc_id",
                buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Top-k documents by DSIR importance weight: (doc_id,
    dsir_weight, rank). Rank-filter — WindowGroupLimit partial top-k,
    ties broken by doc_id."""
    # ratios and weights each consume the feature frame; persisting it
    # (generational scope — a repeated call releases the previous run's
    # blocks) halves the explode+groupBy work: measured 128.6 -> 92.1 s
    # at sf10 (50k docs), hash unchanged.
    cachereg.begin("dsir")
    feats = cachereg.persist(
        hashed_ngram_features(df, text_col, id_col, buckets), "dsir",
        eager=True)   # first consumers are concurrent broadcast jobs
    ratios = dsir_log_ratios(feats, target_ids, buckets)
    w = dsir_weights(feats, ratios)
    rank = F.row_number().over(
        W.orderBy(F.col("dsir_weight").desc(), "doc_id"))
    return (w.withColumn("rank", rank)
            .filter(F.col("rank") <= k)
            .select("doc_id", "dsir_weight", "rank"))


def dsir_sample(df: DataFrame, target_ids: DataFrame, k: int = 100,
                seed: int = 7, text_col: str = "text",
                id_col: str = "doc_id",
                buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Gumbel-top-k DSIR — the paper's SAMPLING semantics, kept
    replayable: drawing k docs without replacement with probability
    ∝ w_i is equivalent to taking the top-k of ``log w_i + G_i`` with
    ``G_i ~ Gumbel(0,1)`` (Vieira 2014's Gumbel-max generalization).
    ``dsir_weight`` already IS ``log w``, and the Gumbel noise is
    derived deterministically per document — ``u = (h + 0.5) / 2^60``
    from a seeded md5 slice of the id, ``G = −ln(−ln u)`` — so reruns,
    reshards, and engines agree row for row (the id-pure membership
    discipline of ``corpus.temperature_mix``), while across seeds the
    draw varies like real sampling.

    Same scale shape as :func:`dsir_select`: the only addition is one
    codegen expression per row, and the rank filter still executes as
    a partial top-k, never a global sort. Returns (doc_id,
    dsir_weight, gumbel_key, rank).
    """
    cachereg.begin("dsir")
    feats = cachereg.persist(
        hashed_ngram_features(df, text_col, id_col, buckets), "dsir",
        eager=True)   # first consumers are concurrent broadcast jobs
    ratios = dsir_log_ratios(feats, target_ids, buckets)
    w = dsir_weights(feats, ratios)
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(str(seed)), F.lit("|"),
                       F.col("doc_id").cast("string"))), 1, 15),
        16, 10).cast("long")
    u = (h.cast("double") + 0.5) / float(1 << 60)  # in (0, 1): G finite
    key = F.round(F.col("dsir_weight") - F.log(-F.log(u)), 6)
    rank = F.row_number().over(
        W.orderBy(F.col("gumbel_key").desc(), "doc_id"))
    return (w.withColumn("gumbel_key", key)
            .withColumn("rank", rank)
            .filter(F.col("rank") <= k)
            .select("doc_id", "dsir_weight", "gumbel_key", "rank"))


def dsir_domain_ratios(feats: DataFrame, domain_targets: DataFrame,
                       buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """(bucket, domain, lr) — per-DOMAIN add-1-smoothed log importance
    ratios against the shared raw marginal (Xie et al. §experiments
    fit one target distribution per domain; the raw distribution is
    common). ``domain_targets`` = (doc_id, domain) exemplar rows; a
    document may exemplify several domains.

    Scale: the raw marginal is one bucket-sized aggregate; the target
    marginals are one aggregate over the (broadcast-flagged) target
    rows only; the full (domain × bucket) grid — absent buckets still
    carry smoothed mass, the a14/PSI lesson — is ≤ domains·buckets
    rows, window-summed per domain and meant to be broadcast."""
    flag = F.broadcast(
        domain_targets.select("doc_id", "domain").distinct())
    rb = feats.groupBy("bucket").agg(F.sum("c").alias("rc"))
    tb = (feats.join(flag, "doc_id")
          .groupBy("domain", "bucket").agg(F.sum("c").alias("tc")))
    doms = domain_targets.select("domain").distinct()
    grid = (rb.crossJoin(F.broadcast(doms))
            .join(tb, ["domain", "bucket"], "left")
            .withColumn("tc", F.coalesce(F.col("tc"), F.lit(0))))
    wdom = W.partitionBy("domain")
    b = float(buckets)
    return grid.select(
        "domain", "bucket", "rc", "tc",
        F.sum("rc").over(wdom).alias("R"),
        F.sum("tc").over(wdom).alias("T"),
    ).select(
        "domain", "bucket",
        F.round(
            F.log((F.col("tc") + 1).cast("double")
                  / (F.col("T") + b).cast("double"))
            - F.log((F.col("rc") + 1).cast("double")
                    / (F.col("R") + b).cast("double")),
            6,
        ).alias("lr"),
    )


def dsir_domain_weights(feats: DataFrame, ratios: DataFrame,
                        domains: list[str]) -> DataFrame:
    """(doc_id, domain, dsir_weight) — every document scored against
    every domain's ratio table.

    The ratio table is PIVOTED to one row per bucket (one lr column
    per domain) before the broadcast join, so the corpus-sized
    feature relation joins 1:1 and shuffles ONCE through a single
    groupBy(doc_id) computing all domains' exact-DECIMAL sums; the
    long shape comes back via ``stack`` over the per-document rows —
    never a ×domains fan-out of the feature rows."""
    piv = (ratios.groupBy("bucket").pivot("domain", domains)
           .agg(F.first("lr")))
    piv = piv.select(
        "bucket",
        *[F.col(f"`{d}`").alias(f"_lr{i}") for i, d in enumerate(domains)])
    aggs = [
        F.sum(F.round(F.col("c") * F.col(f"_lr{i}"), 6)
              .cast("decimal(28,6)")).cast("double").alias(f"_w{i}")
        for i in range(len(domains))
    ]
    wide = (feats.join(F.broadcast(piv), "bucket")
            .groupBy("doc_id").agg(*aggs))
    pairs = ", ".join(f"'{d}', _w{i}" for i, d in enumerate(domains))
    return wide.selectExpr(
        "doc_id",
        f"stack({len(domains)}, {pairs}) AS (domain, dsir_weight)")


def dsir_domain_select(df: DataFrame, domain_targets: DataFrame,
                       quotas: dict[str, int],
                       text_col: str = "text", id_col: str = "doc_id",
                       buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Per-domain DSIR selection: top-``quotas[domain]`` documents by
    each domain's importance weight — (domain, doc_id, dsir_weight,
    rank). The per-domain rank filter sits directly above its window,
    so Spark executes a per-partition partial top-k per domain
    (WindowGroupLimit), never a global sort; ties break on doc_id.
    Domains are the sorted quota keys; target rows for other domains
    are ignored."""
    domains = sorted(quotas)
    cachereg.begin("dsir_domain")
    feats = cachereg.persist(
        hashed_ngram_features(df, text_col, id_col, buckets),
        "dsir_domain",
        eager=True)   # first consumers are concurrent broadcast jobs
    targets = domain_targets.filter(F.col("domain").isin(domains))
    ratios = dsir_domain_ratios(feats, targets, buckets)
    w = dsir_domain_weights(feats, ratios, domains)
    rank = F.row_number().over(
        W.partitionBy("domain")
        .orderBy(F.col("dsir_weight").desc(), "doc_id"))
    qmap = F.create_map(
        *[x for d in domains for x in (F.lit(d), F.lit(int(quotas[d])))])
    return (w.withColumn("rank", rank)
            .filter(F.col("rank") <= qmap[F.col("domain")])
            .select("domain", "doc_id", "dsir_weight", "rank"))
