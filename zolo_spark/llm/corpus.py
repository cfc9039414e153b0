"""Corpus-level operators: dup-cluster resolution, deterministic
splits, vocabulary building, quality filtering.

These close the loop on dedup: pair lists (from
:mod:`zolo_spark.llm.dedup`) become survivor sets; corpora get
reproducible train/val/test assignment and a df-ranked vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..ops.partitioning import fan_out, plan_size_estimate
from . import cachereg

# Conservative LOWER bound on Catalyst's sizeInBytes estimate per
# embedding row (measured 387–400 across sf0.001/0.01/0.1; divide by
# less to over-estimate rows — the safe direction: an inflated row
# bound can only force the exact-count fallback, never a wrong k).
_SEMDEDUP_EST_MIN_ROW_BYTES = 350
# the floor-pin skip must hold even if the real bytes/row is HALF the
# calibrated lower bound (r13 ADVICE: a better-compressed corpus would
# otherwise under-count survivors and silently mis-size the codebook)
_SEMDEDUP_EST_SAFETY = 2


def dup_clusters(pairs: DataFrame, max_iter: int = 20,
                 stats: dict | None = None) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id)
    with cluster_id = min doc id reachable.

    Iterative min-label propagation on the undirected edge list; each
    round is one groupBy shuffle, converging in O(cluster diameter)
    rounds (near-dup clusters are shallow in practice — pairs lists
    are already transitive-ish). If the graph turns out chain-shaped
    and label propagation has NOT converged after ``max_iter`` rounds,
    the computation falls back to :func:`dup_clusters_star`
    (O(log n) rounds) instead of returning wrong labels silently.

    ``stats`` (optional dict) is filled with ``rounds`` (propagation
    rounds run, excluding the fused init) and ``converged``.
    """
    # both orientations from ONE pass over pairs: a union of two
    # selects would evaluate the (possibly expensive, e.g. full LSH)
    # upstream lineage twice
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc1").alias("a"), F.col("doc2").alias("b")),
                    F.struct(F.col("doc2").alias("a"), F.col("doc1").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .persist()
    )
    # round 0 fused into initialization: label(u) = min(u, min neighbor)
    # — one groupBy instead of a distinct + a full propagation round
    labels = (
        edges.groupBy(F.col("a").alias("doc_id"))
        .agg(F.min("b").alias("nbr_min"))
        .select("doc_id", F.least("doc_id", "nbr_min").alias("cluster_id"))
        .persist()
    )
    persisted = labels
    converged = False
    rounds = 0
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.b == labels.doc_id)
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # carry the convergence flag in the row instead of re-joining
        # the old labels afterwards: one join per round, not two
        # localCheckpoint (not plain persist): each round's plan nests
        # every previous round's joins, so without lineage truncation
        # Catalyst's plan grows superlinearly and the driver OOMs after
        # a few dozen rounds. Eager checkpoint = one job per round,
        # which the convergence count needs anyway. (On a cluster with
        # lossy executors, set a checkpoint dir and use checkpoint().)
        updated = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
                (F.col("nbr_min") < F.col("cluster_id")).alias("_changed"),
            )
            .localCheckpoint()
        )
        changed = updated.filter(F.col("_changed")).limit(1).count()
        rounds += 1
        persisted.unpersist()
        persisted = updated
        labels = updated.drop("_changed")
        if changed == 0:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        # deep (chain-shaped) component: O(diameter) propagation won't
        # finish in any reasonable round budget — hand the edge list to
        # the O(log n)-round star algorithm rather than return labels
        # that silently stopped mid-propagation
        persisted.unpersist()
        out = dup_clusters_star(pairs, stats=stats)
        edges.unpersist()
        return out
    edges.unpersist()
    return labels


def dup_clusters_star(pairs: DataFrame, max_iter: int = 40,
                      stats: dict | None = None) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond")
    → (doc_id, cluster_id), cluster_id = component min.

    Each iteration runs two groupBy+join shuffles and *halves* tree
    depth, so convergence is O(log n) rounds regardless of component
    shape — the 100 TB path for chain-shaped duplicate graphs where
    min-label propagation's O(diameter) rounds would be unbounded.

    * large-star: every node's strictly-larger neighbors re-attach to
      its current minimum (incl. itself).
    * small-star: every node and its smaller-or-equal neighbors
      attach to that minimum.

    Both steps preserve connectivity; the fixed point is a star per
    component centered on its min id.
    """

    def sym(e: DataFrame) -> DataFrame:
        # undirected view: both orientations, no self-loops (the star
        # steps emit directed a→min edges, so re-symmetrize between)
        return (
            e.select(
                F.explode(
                    F.array(
                        F.struct("a", "b"),
                        F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                    )
                ).alias("e")
            )
            .select("e.a", "e.b")
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def node_min(e: DataFrame) -> DataFrame:
        # m(u) = min over {u} ∪ N(u); e must carry both orientations
        return (
            e.groupBy("a")
            .agg(F.min("b").alias("_mb"))
            .select(
                F.col("a").alias("u"),
                F.least(F.col("a"), F.col("_mb")).alias("m"),
            )
        )

    def large_star(e: DataFrame) -> DataFrame:
        m = node_min(e)
        return (
            e.filter(F.col("b") > F.col("a"))
            .join(m, F.col("a") == F.col("u"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        m = node_min(e)
        attach = (
            e.filter(F.col("b") < F.col("a"))
            .join(m, F.col("a") == F.col("u"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        self_edge = m.select(F.col("u").alias("a"), F.col("m").alias("b"))
        return attach.unionByName(self_edge).distinct()

    # undirected edge list, both orientations, no self-loops
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc1").alias("a"), F.col("doc2").alias("b")),
                    F.struct(F.col("doc2").alias("a"), F.col("doc1").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    rounds = 0
    converged = False
    prev_sig = None
    cur = edges
    for _ in range(max_iter):
        grown = large_star(sym(cur)) if cur is not edges else large_star(cur)
        # localCheckpoint truncates the per-round plan growth (see
        # dup_clusters) — star rounds double the nesting via sym()
        nxt = (small_star(sym(grown))
               .filter(F.col("a") != F.col("b")).localCheckpoint())
        # convergence: edge multiset fixed point, checked with one
        # aggregate (count + order-insensitive hash sum) — no
        # driver-side edge materialization
        sig = tuple(
            nxt.agg(
                F.count(F.lit(1)),
                # order-insensitive multiset signature; decimal(38,0)
                # sum cannot overflow under ANSI the way long does
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
            ).first()
        )
        rounds += 1
        if cur is not edges:
            cur.unpersist()
        cur = nxt
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if stats is not None:
        stats["star_rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        raise RuntimeError(
            f"dup_clusters_star did not converge in {max_iter} rounds"
        )
    # fixed point: every non-min node carries exactly one edge to its
    # component min; min nodes appear only on the b side
    labels = (
        cur.groupBy(F.col("a").alias("doc_id"))
        .agg(F.min("b").alias("cluster_id"))
        .select(
            "doc_id",
            F.least(F.col("doc_id"), F.col("cluster_id")).alias("cluster_id"),
        )
    )
    # component-min nodes label themselves
    mins = (
        labels.select(F.col("cluster_id").alias("doc_id"))
        .distinct()
        .join(labels.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    out = labels.unionByName(mins)
    if cur is not edges:
        out = out.persist()
        out.count()  # materialize before releasing lineage inputs
        cur.unpersist()
    edges.unpersist()
    return out


def dedup_survivors(df: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """Keep one doc per dup cluster (min id) plus all unpaired docs —
    the materialized output of a dedup pass."""
    clusters = dup_clusters(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return df.join(
        losers, df[id_col] == losers.doc_id, "left_anti"
    )


def hash_split(df: DataFrame, id_col: str = "doc_id",
               weights: tuple = (0.8, 0.1, 0.1),
               names: tuple = ("train", "val", "test"),
               salt: str = "split-v1") -> DataFrame:
    """Deterministic, engine-portable split assignment: bucket =
    first 4 md5 hex chars of (salt || id) mod 10000 against cumulative
    weight thresholds. Stable under reruns, resharding, and engine —
    the property a training pipeline needs (random() is none of
    those)."""
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
                           1, 4), 16, 10)
        .cast("long") % 10000
    )
    acc, expr = 0.0, None
    for w, name in zip(weights, names):
        acc += w
        cond = bucket < int(acc * 10000)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn("split", expr.otherwise(F.lit(names[-1])))


def build_vocab(df: DataFrame, text_col: str = "text",
                top_k: int = 1000, min_df: int = 2) -> DataFrame:
    """Document-frequency-ranked vocabulary: token → df, rank.
    Deterministic rank tiebreak on the token itself."""
    tokens = df.select(
        F.explode(F.array_distinct(F.split(F.lower(F.col(text_col)), " ")))
        .alias("token")
    )
    dfreq = (
        tokens.filter(F.col("token") != "")
        .groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )
    # take top_k FIRST (distributed TakeOrdered), then rank the small
    # result — a global row_number window would funnel the whole vocab
    # through one partition. The unpartitioned window below is safe at
    # any corpus size: its frame is the ≤top_k-row LIMIT result, never
    # the vocab.
    top = dfreq.orderBy(F.col("df").desc(), F.col("token")).limit(top_k)
    w = Window.orderBy(F.col("df").desc(), F.col("token"))
    return top.withColumn("rank", F.row_number().over(w))


def quality_filter(stats: DataFrame, min_quality: float = 0.5,
                   min_tokens: int = 5, max_punct_ratio: float = 0.3) -> DataFrame:
    """Threshold filter over :func:`zolo_spark.llm.text.text_stats`
    output — the standard pre-training corpus gate."""
    return stats.filter(
        (F.col("quality") >= min_quality)
        & (F.col("n_tokens_ws") >= min_tokens)
        & (F.col("punct_ratio") <= max_punct_ratio)
    )


def decontaminate(df: DataFrame, n: int = 5, min_shared: int = 2,
                  max_df: int = 20, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Train/eval contamination pairs by shared n-gram shingles.

    The decontamination step every training pipeline runs before
    releasing a split: any train document sharing ≥ ``min_shared``
    distinct ``n``-gram shingles with a test document is a
    contamination pair. Scale shape mirrors the n-gram Jaccard op:
    corpus-wide document frequency caps the inverted index (shingles
    in > ``max_df`` docs are boilerplate, not leakage evidence), so
    the shingle join is |rare index| × |rare index|, never all-pairs —
    at 100 TB the hot-shingle blowup is the thing that kills this job.

    Returns (train_doc, test_doc, n_shared) sorted semantics-free;
    split assignment is :func:`hash_split`'s deterministic bucketing.
    """
    from .dedup import shingles_from_tokens

    tokens = fan_out(hash_split(df, id_col=id_col)).select(
        F.col(id_col).alias("doc_id"), "split",
        F.split(F.lower(F.col(text_col)), " ").alias("t"),
    )
    sh = tokens.select(
        "doc_id", "split",
        F.explode(shingles_from_tokens(F.col("t"), n)).alias("shingle"),
    )
    # ONE aggregation builds the inverted index with both postings
    # lists and the df cap (collect_set drops the when()-nulls, and
    # per-doc shingles are already distinct, so count(*) == df) — no
    # shingle-keyed joins, so the whole op is 3 shuffles: fan_out,
    # this groupBy, and the final pair groupBy.
    per_shingle = (
        sh.groupBy("shingle")
        .agg(
            F.collect_set(
                F.when(F.col("split") == "train", F.col("doc_id"))
            ).alias("train_docs"),
            F.collect_set(
                F.when(F.col("split") == "test", F.col("doc_id"))
            ).alias("test_docs"),
            F.count(F.lit(1)).alias("df"),
        )
        .filter(
            (F.col("df") <= max_df)
            & (F.size("train_docs") > 0) & (F.size("test_docs") > 0)
        )
    )
    pairs = per_shingle.select(
        F.explode("train_docs").alias("train_doc"), "test_docs"
    ).select("train_doc", F.explode("test_docs").alias("test_doc"))
    return (
        pairs.groupBy("train_doc", "test_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def stratified_sample(df: DataFrame, rates: dict[str, float],
                      stratum_col: str = "lang", id_col: str = "doc_id",
                      default_rate: float = 0.0,
                      salt: str = "mix-v1") -> DataFrame:
    """Deterministic per-stratum downsampling — the data-mixing step
    that hits a target source/language composition. A doc survives iff
    its salted md5 bucket (0..9999) falls under its stratum's rate, so
    the sample is exactly reproducible under reruns, resharding, and
    engines (the same contract as :func:`hash_split`), and strata can
    be re-weighted without touching other strata's membership. Pure
    codegen expressions; no shuffle at all — at 100 TB this is a
    filter pushed into the scan pipeline."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
                1, 4,
            ), 16, 10,
        ).cast("long") % 10000
    )
    expr = F.lit(int(default_rate * 10000))
    for stratum, rate in sorted(rates.items()):
        expr = F.when(
            F.col(stratum_col) == stratum, F.lit(int(rate * 10000))
        ).otherwise(expr)
    return df.withColumn("_bucket", bucket).filter(
        F.col("_bucket") < expr
    ).drop("_bucket")


def chunk_documents(df: DataFrame, size: int = 32, overlap: int = 8,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split each document into overlapping token windows — the
    sequence-packing precursor every LLM training pipeline runs
    (context-window chunks of ``size`` tokens advancing by
    ``size - overlap``).  Returns one row per chunk:
    ``(id_col, chunk_id, chunk_text, n_tokens)``; the last chunk may
    be short, and a document shorter than ``size`` yields exactly one
    chunk.

    Pure codegen — tokenize, compute the chunk count with integer
    arithmetic, ``explode`` a 0..n_chunks-1 sequence, ``slice`` the
    token array.  No shuffle at all: chunking is a per-row flatMap
    that scales linearly and stays inside whole-stage codegen, and
    downstream repartitioning (for packing) is the caller's choice.
    """
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    stride = size - overlap
    toks = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(toks)
    # Integer ceil((n - size)/stride) + 1, clamped to >= 1.  For
    # n < size the pre-clamp value is <= 1 under both truncating and
    # flooring division, so engines agree after the clamp.
    n_chunks = F.greatest(
        F.lit(1).cast("long"),
        (F.floor((n - F.lit(size - stride + 1)) / F.lit(stride)) + 1)
        .cast("long"),
    )
    return (
        df.select(
            F.col(id_col),
            toks.alias("_t"),
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1))
            .alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            F.array_join(
                F.slice(F.col("_t"),
                        (F.col("chunk_id") * stride + 1).cast("int"),
                        size),
                " ",
            ).alias("chunk_text"),
            F.size(
                F.slice(F.col("_t"),
                        (F.col("chunk_id") * stride + 1).cast("int"),
                        size)
            ).cast("long").alias("n_tokens"),
        )
    )


def source_cap(df: DataFrame, cap: int, source_col: str = "source",
               order_col: str = "n_chars",
               id_col: str = "doc_id") -> DataFrame:
    """Cap the number of documents kept per source/domain — the
    RefinedWeb-style guard against any one domain dominating the
    training mix.  Keeps the top ``cap`` docs per source ordered by
    ``(order_col DESC, id_col ASC)`` (deterministic tiebreak).

    Scale design: the naive implementation is one global window sort
    — a full shuffle-and-sort of the corpus keyed by source, where
    one hot domain (the exact thing this op exists to catch) becomes
    one giant sorted partition.  Instead, count per source first
    (map-side combined, tiny result) and split: sources already
    within the cap pass through with **no sort at all** (the common
    case — most domains are small), and only the oversized sources
    pay the per-source top-k.  The cap itself bounds that sort's
    output; the hot-partition input cost remains, which is acceptable
    because oversized sources are few by definition and top-k-per-key
    (rank <= cap) lets Spark's window TopK push-down limit state.
    """
    # NULL source is a real group (SQL GROUP BY / PARTITION BY
    # semantics), but equality joins never match NULL — routed naively,
    # a mass of NULL-source docs would bypass the cap entirely via the
    # anti-join branch. Key every count/join/window on an injective
    # normalization instead: NULL → "\x00", value v → "v" + v (the
    # prefix keeps NULL distinct from every real value, including '').
    norm = F.when(
        F.col(source_col).isNull(), F.lit("\x00")
    ).otherwise(F.concat(F.lit("v"), F.col(source_col).cast("string")))
    tagged = df.withColumn("_src", norm)
    counts = tagged.groupBy("_src").agg(F.count(F.lit(1)).alias("_n"))
    big = counts.filter(F.col("_n") > cap).select("_src")
    # Route pass-through via ANTI-join against `big`: only the
    # over-cap source list is guaranteed bounded (≤ N/cap entries) —
    # at web scale nearly every distinct domain is within-cap, so
    # broadcasting the within-cap list would blow the driver.
    pass_through = tagged.join(F.broadcast(big), "_src", "left_anti")
    w = (
        Window.partitionBy("_src")
        .orderBy(F.col(order_col).desc(), F.col(id_col).asc())
    )
    capped = (
        tagged.join(F.broadcast(big), "_src", "left_semi")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )
    return pass_through.unionByName(capped).drop("_src")


def training_mix(df: DataFrame, rates: dict[str, float],
                 default_rate: float = 0.1, min_quality: float = 0.5,
                 chunk_size: int = 32, overlap: int = 8,
                 budget: int = 64) -> DataFrame:
    """The end-to-end corpus → training-sequences pipeline, composed
    from this module's stages in the order a pre-training data build
    runs them: quality gate → exact-dedup survivors (among kept docs)
    → stratified language mix → context-window chunking → greedy
    sequence packing.  Returns the packed chunk stream
    ``(doc_id, chunk_id, chunk_text, n_tokens, seq_id)``.

    Every stage is individually value-oracled; composing them keeps
    the whole pipeline oracle-checkable end to end.  Scale shape: one
    stats pass, one fingerprint aggregate, one survivor join — then
    the sample filter, chunk flatMap, and packing window, so the full
    build is O(corpus) with three shuffles (stats carries none, the
    fingerprint groupBy, the survivor join, the packing window)."""
    from .text import text_stats

    stats = text_stats(df)
    kept = quality_filter(stats, min_quality=min_quality)
    surv = (
        kept.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    sampled = stratified_sample(
        df.join(surv, "doc_id"), rates, default_rate=default_rate
    )
    chunks = chunk_documents(sampled, size=chunk_size, overlap=overlap)
    return pack_chunks(chunks, budget=budget)


def pack_chunks(chunks: DataFrame, budget: int,
                part_col: str = "doc_id", order_col: str = "chunk_id",
                tokens_col: str = "n_tokens") -> DataFrame:
    """Assign chunks to fixed-budget training sequences — the
    sequence-packing step between chunking and batch assembly.
    Within each ``part_col`` group (ordered by ``order_col``), chunks
    are packed greedily in order: a chunk opens a new sequence when
    the tokens already packed reach ``budget``.  Adds a ``seq_id``
    column (0-based per group); a chunk straddling the boundary stays
    in the sequence it started in (standard concat-then-cut
    semantics — the consumer truncates or pads the tail).

    Scale design: packing is a running sum inside each group — one
    shuffle on ``part_col``, no global order.  Real pipelines pack
    within whatever parallel unit they already have (here the
    document or shard key); a global greedy pack would serialize the
    corpus through one sorted partition for no modeling benefit.
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return chunks.withColumn(
        "seq_id", F.floor(cum_before / budget).cast("long")
    )


def corpus_pipeline(docs: DataFrame, emb: DataFrame, *,
                    jaccard: float = 0.7, cos_threshold: float = 0.85,
                    quality_min: float = 0.5, min_tokens: int = 5,
                    max_punct: float = 0.3, cap: int = 15,
                    max_k: int | None = None,
                    max_bucket: int | None = None,
                    source_col: str = "source",
                    id_col: str = "doc_id") -> DataFrame:
    """The full crawl-processing composition, in the order a web-scale
    training-data build actually runs it:

    1. exact dedup (fingerprint groupBy — linear, collapses clone mass
       so every later stage sees true density);
    2. MinHash-LSH near-dup over the exact survivors — uncapped by
       default (safe only because of step 1); ``max_bucket`` threads
       the hot-bucket cap through for the capped deployment
       configuration (a crawl whose clone mass is NOT exact-identical
       still produces giant LSH buckets step 1 can't collapse);
    3. SemDeDup over the survivors' embeddings — codebook trained by
       the DISTRIBUTED :func:`~zolo_spark.llm.similarity.kmeans_train`
       (1 Lloyd iteration from the rank-seeded init; cluster count
       scales with the surviving corpus, k = min(max(8, N // 64),
       ``max_k``)), so the only driver exchange is the ≤``max_k``×d
       codebook — bounded, never linear in the corpus. Documents
       WITHOUT an embedding row pass through untouched (SemDeDup can
       only judge what it can see; dropping unembedded docs would
       discard the majority of a partially-embedded crawl);
    4. heuristic quality gate (quality/token-count/punctuation);
    5. per-source cap (anti-domination, count-first split).

    Returns the final kept documents ``(doc_id, lang, source,
    n_chars)``. Every stage is individually oracled by its own gate;
    this composes them into ONE hash-checked pipeline so stage
    boundaries (who consumes whose survivors) are driver-verified too.

    Note the near-dup → semantic hand-off: embeddings are joined
    left-semi on the surviving ids, so the pairwise-cosine stage never
    sees vectors whose text was already text-duplicated — at 100 TB
    this ordering cuts SemDeDup's input (its only superlinear term) by
    the full text-dup rate. The intermediate survivor frame is
    persisted (three consumers); per repo contract the caller/bench
    releases caches after the action."""
    import numpy as np

    from . import dedup as _dedup
    from . import text as _text
    from .similarity import SEMDEDUP_MAX_K, semdedup_k
    from .similarity import kmeans_train as _kmeans_train
    from .similarity import semdedup as _semdedup

    if max_k is None:
        max_k = SEMDEDUP_MAX_K

    keep = _dedup.exact_dedup(docs, id_col=id_col).select(
        F.col("keep_id").alias(id_col))
    surv1 = docs.join(keep, id_col, "left_semi")
    # surv1 = exact survivors: distinct normalized text by
    # construction, so the uncapped form skips the collapse machinery
    # without measuring
    pairs = _dedup.minhash_lsh_dedup(surv1, id_col=id_col,
                                     threshold=jaccard,
                                     max_bucket=max_bucket,
                                     clone_free=True)
    cachereg.begin("corpus_pipeline")
    surv2 = cachereg.persist(
        surv1.join(pairs.select(F.col("doc2").alias(id_col)),
                   id_col, "left_anti"),
        "corpus_pipeline")
    emb2 = emb.join(surv2.select(F.col(id_col).alias("vec_id")),
                    "vec_id", "left_semi")
    # Codebook sizing WITHOUT an eager count where possible (r12
    # VERDICT item 7): Catalyst's free sizeInBytes tracks the left
    # scan of the semi-join (measured 387–400 bytes per embedding
    # row at sf0.001/0.01/0.1 — the dedup.JACCARD_PRUNE_MIN_EST
    # calibration precedent), so est/_SEMDEDUP_EST_MIN_ROW_BYTES
    # upper-bounds the surviving row count. semdedup_k is monotone
    # with floor 8, so when even that upper bound sits at the floor,
    # k is pinned for EVERY possible survivor count and the exact
    # count job is skipped; only when the estimate straddles a k
    # boundary does the count run (estimate error can cost one extra
    # job, never a different result). The 2× SAFETY margin keeps that
    # invariant even if a future corpus compresses below the
    # calibrated 350 bytes/row: the skip needs n_hi to sit
    # COMFORTABLY inside the floor region, not just at its edge —
    # otherwise an under-estimate could silently pin k to the floor
    # for a corpus that really needs n//64 cells.
    est = plan_size_estimate(emb2)
    n_hi = est // _SEMDEDUP_EST_MIN_ROW_BYTES
    if semdedup_k(max(n_hi, 1) * _SEMDEDUP_EST_SAFETY,
                  max_k) == semdedup_k(1, max_k):
        k: int | None = semdedup_k(1, max_k)   # floor-pinned
    else:
        n_emb = emb2.count()
        k = semdedup_k(n_emb, max_k) if n_emb > 0 else None
    trained = None
    if k is not None:
        try:
            trained = _kmeans_train(emb2, k=k, iters=1)
        except ValueError:
            trained = None   # zero survivors under a skipped count
    if trained is not None:
        by_cell: dict[int, list] = {}
        for r in trained.collect():  # ≤max_k×d codebook rows
            by_cell.setdefault(r["cell"], []).append(
                (r["dim"], r["centroid"]))
        cents = np.stack([
            [v for _, v in sorted(by_cell[c])] for c in sorted(by_cell)
        ]).astype(float)
        dropped = (
            _semdedup(emb2, cents, threshold=cos_threshold)
            .filter(~F.col("keep"))
            .select(F.col("vec_id").alias(id_col))
        )
        # anti-join the DROPPED side: unembedded survivors can't be
        # in it, so they pass through (a left-semi on the kept side
        # would silently discard every doc without an embedding row)
        # Persisted like surv2: surv3 is the next stage hand-off and
        # has TWO consumers below (the quality-filter lineage and the
        # semi-join back onto it) — unpersisted, each consumer replays
        # the whole SemDeDup assignment (a pandas-UDF pass + the
        # pairwise in-cell filter), measured as the dominant block of
        # the capstone's tail.
        surv3 = cachereg.persist(
            surv2.join(dropped, id_col, "left_anti"), "corpus_pipeline")
    else:  # no surviving embeddings (empty corpus / unembedded docs)
        surv3 = surv2
    kept_q = _text.text_stats(surv3, id_col=id_col).filter(
        (F.col("quality") >= quality_min)
        & (F.col("n_tokens_ws") >= min_tokens)
        & (F.col("punct_ratio") <= max_punct)
    ).select(id_col)
    surv4 = surv3.join(kept_q, id_col, "left_semi")
    # source_cap consumes its input THREE times (per-source counts,
    # the within-cap anti-join branch, the over-cap window branch);
    # materialize the NARROW 4-column projection — no text payload,
    # so it stays key-sized at any scale — instead of replaying the
    # quality-filter lineage per branch. localCheckpoint (not
    # persist): by this point the lineage is the WHOLE pipeline, and
    # a cached plan does not truncate it — every consumer's analysis/
    # canonicalization and each AQE stage re-optimization of the
    # final windowed query walks the full tree (measured ~6 s of
    # driver gaps on the capped plan at sf0.1). Checkpointing cuts
    # the final plan to a leaf; the trade is lineage-free blocks
    # (executor loss ⇒ query retry instead of recompute), the
    # standard deal for a key-sized frame this deep into a pipeline.
    kept_narrow = surv4.select(
        id_col, "lang", source_col, "n_chars").localCheckpoint()
    return source_cap(
        kept_narrow, cap=cap, source_col=source_col,
    ).select(id_col, "lang", source_col, "n_chars")


def quality_ensemble(docs: DataFrame, iters: int = 10) -> DataFrame:
    """Multi-signal quality decision — the FineWeb/DCLM-style gate a
    modern pipeline actually ships: a document survives only if the
    RULE signal (heuristic thresholds over text_stats), the LEARNED
    signal (logistic-regression score), and the DISTRIBUTIONAL signal
    (CCNet perplexity bucket ≠ tail) all agree. Returns
    ``(doc_id, quality, score, bucket, kept)`` for the whole corpus —
    a decision audit, not just the survivors.

    Composition of three individually-oracled stages (text_stats →
    classifier, unigram LM → terciles); every signal and the final
    conjunction replay in SQL, so the full decision is value-hashed.
    Scale: the classifier adds ``iters`` scans of a persisted
    doc-count×7 feature frame; the LM join is broadcast; the tercile
    cuts are one 2-value aggregate; the final three-way join is
    doc-keyed and co-partitioned by the first shuffle.
    """
    from . import classifier, lm
    from .text import text_stats

    stats = text_stats(docs)
    feats = classifier.quality_features(stats)
    labeled = classifier.labeled_features(
        stats, (F.col("n_chars") >= 280).cast("double"))
    w = classifier.logreg_train(labeled, iters=iters)
    scored = classifier.classifier_scores(feats, w)
    buckets = lm.perplexity_buckets(lm.doc_nll(docs, lm.unigram_lm(docs)))
    heur = stats.select(
        "doc_id", "quality", "n_tokens_ws", "punct_ratio")
    return (
        heur.join(scored, "doc_id")
        .join(buckets.select("doc_id", "bucket"), "doc_id")
        .select(
            "doc_id", "quality", "score", "bucket",
            ((F.col("quality") >= 0.5) & (F.col("n_tokens_ws") >= 5)
             & (F.col("punct_ratio") <= 0.3) & (F.col("score") >= 0.5)
             & (F.col("bucket") != "tail")).alias("kept"),
        )
    )


def temperature_mix(df: DataFrame, alpha: float = 0.7,
                    source_col: str = "lang",
                    id_col: str = "doc_id") -> DataFrame:
    """Temperature-based source mixing (the T5/PaLM/mT5 recipe):
    target mixture weights ``p_s ∝ n_s^α`` flatten the natural source
    skew (α=1 keeps it, α=0 is uniform), and each source keeps a
    deterministic salted-hash fraction of its documents sized so the
    LARGEST implied rate is exactly 1 — no source is upsampled, the
    mix is achieved purely by downsampling the rest (the batch
    analog; upsampling is an epoch-repeat concern at training time).

    Returns the per-source audit ``(source, n, rate, kept)`` —
    membership itself is a pure function of ids (``md5('mix-v1'||id)``
    bucket < round-6 rate · 10⁴), so reruns, reshards, and engines
    agree row-for-row, the :func:`hash_split` discipline applied to
    mixing. Scale: one count aggregate (sources ≪ corpus, broadcast
    back), one codegen membership filter — no shuffle of the corpus.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n"))
    # p_s ∝ n^alpha; rate_s = T·p_s/n_s with T chosen so max rate = 1
    # ⇔ rate_s = (n_s^alpha/n_s) / max_t(n_t^alpha/n_t) — one window-free
    # form via a broadcast scalar
    weights = counts.select(
        source_col, "n",
        (F.pow(F.col("n").cast("double"), alpha)
         / F.col("n").cast("double")).alias("_w"))
    wmax = weights.agg(F.max("_w").alias("_wmax"))
    rates = weights.crossJoin(F.broadcast(wmax)).select(
        source_col, "n",
        F.round(F.col("_w") / F.col("_wmax"), 6).alias("rate"))
    kept = (temperature_mix_members(df, rates, source_col, id_col)
            .groupBy(source_col)
            .agg(F.count(F.lit(1)).alias("kept")))
    return (rates.join(F.broadcast(kept), source_col, "left")
            .na.fill({"kept": 0})
            .select(source_col, "n", "rate", "kept"))


def temperature_mix_members(df: DataFrame, rates: DataFrame,
                            source_col: str = "lang",
                            id_col: str = "doc_id") -> DataFrame:
    """The rows of ``df`` the temperature mix KEEPS — the same id-pure
    membership rule :func:`temperature_mix` audits
    (``md5('mix-v1'||id) bucket < round-6 rate · 10⁴``), exposed so
    downstream stages (e.g. a per-domain DSIR selection feeding a
    training mix) consume the membership itself, not just the audit.
    ``rates`` = (source, rate) — typically :func:`temperature_mix`'s
    output, broadcast here; one codegen filter, no corpus shuffle."""
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit("mix-v1"), F.col(id_col).cast("string"))),
        1, 4), 16, 10).cast("long") % 10000)
    return (df.join(F.broadcast(rates.select(source_col, "rate")),
                    source_col)
            .filter(bucket < F.floor(F.col("rate") * 10000))
            .drop("rate"))


def epoch_mix(df: DataFrame, weights: dict[str, float],
              source_col: str = "lang",
              id_col: str = "doc_id") -> DataFrame:
    """Epoch-repeat UPSAMPLING — the other half of source mixing
    (:func:`temperature_mix` only downsamples): each source's target
    rate ``weights[s] ≥ 0`` may exceed 1, in which case every
    document repeats ``floor(rate)`` times and one more epoch keeps a
    deterministic salted-hash fraction ``frac(rate)`` of the ids —
    the LLaMA-style "Wikipedia ×2.4" recipe, where 2.4 epochs means
    two full passes plus a 0.4 pass. Sources absent from ``weights``
    rate 1.0 (natural); rate < 1 degenerates to pure downsampling
    with the SAME membership rule as ``temperature_mix_members``.

    Output: the input rows replicated with an ``epoch`` column
    (0-based; epoch 0 is the fractional pass for rates < 1, the
    first full pass otherwise) — downstream packing/shuffling treats
    (id, epoch) as the training-example key.

    Determinism: repeat counts are a pure function of (source rate,
    id) — ``md5('mix-v1'||id)`` bucket, the same salt as the
    downsampling path, so a source at rate r and the same corpus
    produce identical epochs on any engine, reshard, or rerun.
    Scale: one broadcast rates join + a codegen
    ``explode(sequence(...))`` — no corpus shuffle, output exactly
    ``Σ_docs repeats`` rows."""
    spark = df.sparkSession
    rates = spark.createDataFrame(
        [(s, float(r)) for s, r in weights.items()],
        f"{source_col} string, _rate double")
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit("mix-v1"), F.col(id_col).cast("string"))),
        1, 4), 16, 10).cast("long") % 10000)
    rate = F.coalesce(F.col("_rate"), F.lit(1.0))
    # repeats = floor(rate) + (bucket < frac(rate)·10⁴); round-6 the
    # fraction like every mixing rate so engines agree at the edge
    frac = F.round(rate - F.floor(rate), 6)
    reps = (F.floor(rate).cast("long")
            + F.when(bucket < F.floor(frac * 10000), 1).otherwise(0))
    return (
        df.join(F.broadcast(rates), source_col, "left")
        .withColumn("_reps", reps)
        .filter(F.col("_reps") > 0)
        .withColumn("epoch",
                    F.explode(F.sequence(F.lit(0).cast("long"),
                                         F.col("_reps") - 1)))
        .drop("_rate", "_reps")
    )
