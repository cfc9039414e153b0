"""Similarity search over embedding columns.

* :func:`brute_topk` — exact cosine top-k: broadcast the (small) query
  set against the corpus; one scan, no shuffle except the final
  per-query top-k. The correctness baseline.
* :func:`ivf_topk` — IVF-flat scale path: corpus pre-assigned to the
  nearest of C centroids (one shuffle at build time, reusable);
  queries probe only the ``nprobe`` nearest partitions — the classic
  recall/throughput dial. Centroid assignment is a broadcast
  argmax, Arrow-batched via pandas UDF (numpy matmul beats 64 HOF
  folds per row).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..ops.partitioning import fan_out
from . import cachereg
from .dedup import cosine

# Hard ceiling on SemDeDup codebook size: k scales as N/64 with the
# corpus (the paper's ~64-vectors-per-cell regime) but everything
# k-sized — the seed collect, the broadcast centroid matrix, the k×d
# codebook rows crossing back to the driver from kmeans_train — must
# stay driver-bounded at 100 TB. Shared by the corpus_pipeline
# capstone (llm/corpus.py) and the standalone semdedup gate.
SEMDEDUP_MAX_K = 4096


def semdedup_k(n: int, max_k: int = SEMDEDUP_MAX_K) -> int:
    """Codebook size for a corpus of ``n`` vectors: ~64 per cell,
    never fewer than 8 cells, never more than ``max_k`` (the
    driver-bounded ceiling above). One definition shared by the
    capstone and the standalone gate so the cap can't drift."""
    return min(max(8, n // 64), max_k)


def brute_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
               vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k neighbors for every query vector.

    Ranking uses the ROUNDED cosine with id tiebreak so results are
    stable across engines and runs (raw f64 ties at 1e-16 would make
    rank nondeterministic).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _assign_udf(centroids: np.ndarray, nprobe: int):
    """Pandas UDF: indices of the ``nprobe`` nearest (cosine)
    centroids per vector — one numpy matmul per Arrow batch."""
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vs: pd.Series) -> pd.Series:
        m = np.stack(vs.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cn.T
        top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return assign


def train_centroids(corpus_sample: np.ndarray, n_centroids: int,
                    iters: int = 5, seed: int = 42) -> np.ndarray:
    """Deterministic Lloyd k-means on a driver-side sample (the
    standard IVF recipe: train on a sample, assign at scale)."""
    rng = np.random.default_rng(seed)
    x = corpus_sample / np.maximum(
        np.linalg.norm(corpus_sample, axis=1, keepdims=True), 1e-12
    )
    cent = x[rng.choice(len(x), size=n_centroids, replace=False)]
    for _ in range(iters):
        sims = x @ cent.T
        assign = np.argmax(sims, axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def ivf_index(corpus: DataFrame, centroids: np.ndarray,
              vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Assign every corpus vector to its nearest centroid (list index
    0 of a 1-probe assignment). At scale this is written out
    partitioned by ``cell`` so probes prune partitions."""
    assign = _assign_udf(centroids, 1)
    return corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        F.element_at(assign(F.col(vec_col)), 1).alias("cell"),
    )


def ivf_topk(index: DataFrame, queries: DataFrame, centroids: np.ndarray,
             k: int = 10, nprobe: int = 3,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Probe the ``nprobe`` nearest cells per query, exact cosine
    within them, top-k. Approximate: recall depends on nprobe/C."""
    assign = _assign_udf(centroids, nprobe)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.explode(assign(F.col(vec_col))).alias("cell"),
    )
    scored = (
        index.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def kmeans_train(corpus: DataFrame, k: int = 8, iters: int = 2,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Distributed spherical Lloyd k-means over the FULL corpus — the
    codebook trainer for IVF/SemDeDup when a driver-side sample
    (:func:`train_centroids`) isn't representative at 100 TB.

    Deterministic end to end, so the whole training loop is
    value-oracled: seeded init (the ``k`` lowest-RANKED ids — a
    bounded ``TakeOrdered``, correct on sparse or offset id spaces;
    corpora smaller than ``k`` train with every vector as a seed),
    assignment by cosine argmax (broadcast numpy matmul per Arrow
    batch; lowest cell id on ties — the IVF gate's proven parity),
    and the centroid update as per-(cell, dim) DECIMAL(28,6) sums of
    round-6 normalized components — exact and associative, so
    partition order can't move a bit — divided once. A cell that
    receives no members (possible from iteration 2 on — standard
    Lloyd — or on iteration 1 when two seeds are identical vectors)
    is DROPPED, exactly as it vanishes from the SQL replay's GROUP
    BY; surviving cells keep their original seed-rank labels. Per
    iteration the ≤k×d codebook is collected to the driver (the
    legitimate small exchange; the corpus never moves) and
    re-broadcast. Output: one row per surviving (cell, dim):
    ``(cell, dim, centroid, n_members)``, returned as a
    driver-local frame (it IS the collected codebook).

    Scale shape per iteration: one Arrow-batched assignment pass over
    the corpus + one map-side-combined (cell, dim) aggregate — the
    shuffle carries k·d partial sums per partition, not vectors.
    ``iters`` is fixed (2 by default) — k-means at this scale runs a
    bounded budget, not to convergence."""
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = F.greatest(
        F.sqrt(F.aggregate(F.transform(dv, lambda x: x * x),
                           F.lit(0.0), lambda acc, x: acc + x)),
        F.lit(1e-12),
    )
    base = fan_out(corpus).select(
        F.col(id_col).alias("vec_id"),
        F.transform(dv, lambda x: x / nrm).alias("v"),
    ).persist()
    try:
        # Rank-based seeding (orderBy+limit = TakeOrdered, not a
        # global sort): the k lowest ids, however sparse the space.
        seed_rows = base.orderBy("vec_id").limit(k).select("v").collect()
        if not seed_rows:
            raise ValueError("kmeans_train: empty corpus")
        cents = np.stack([r[0] for r in seed_rows]).astype(float)
        cell_ids = list(range(len(cents)))  # label = seed rank
        out_rows: list[tuple] = []
        for _ in range(iters):
            assign = _assign_udf(cents, 1)
            assigned = base.select(
                F.element_at(assign(F.col("v")), 1).alias("cell"), "v"
            )
            upd = (
                assigned.select("cell",
                                F.posexplode("v").alias("dim", "val"))
                .groupBy("cell", "dim")
                .agg(
                    F.sum(F.round("val", 6).cast("decimal(28,6)"))
                    .alias("_s"),
                    F.count(F.lit(1)).alias("n_members"),
                )
                .select(
                    "cell", "dim",
                    (F.col("_s").cast("double") / F.col("n_members"))
                    .alias("centroid"),
                    "n_members",
                )
            )
            rows = upd.collect()  # ≤k×d rows — codebook, not corpus
            by_pos: dict[int, list] = {}
            for r in rows:
                by_pos.setdefault(r["cell"], []).append(
                    (r["dim"], r["centroid"]))
            keep_pos = sorted(by_pos)  # empty cells drop out here
            out_rows = [
                (cell_ids[r["cell"]], r["dim"], r["centroid"],
                 r["n_members"])
                for r in rows
            ]
            cell_ids = [cell_ids[p] for p in keep_pos]
            cents = np.stack([
                [v for _, v in sorted(by_pos[p])] for p in keep_pos
            ]).astype(float)
    finally:
        base.unpersist()
    return corpus.sparkSession.createDataFrame(
        out_rows,
        "cell long, dim long, centroid double, n_members long",
    )


def semdedup(corpus: DataFrame, centroids: np.ndarray,
             threshold: float = 0.9, vec_col: str = "embedding",
             id_col: str = "vec_id", pair_blocks: int = 2) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, *SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication*): drop semantic
    duplicates WITHIN embedding clusters — assign every vector to its
    nearest centroid, compute pairwise cosine inside each cell only,
    and mark a vector dropped when it is within ``threshold`` of a
    LOWER-id vector in its cell (the deterministic stand-in for the
    paper's keep-one-per-dup-group rule). Returns
    ``(vec_id, cell, keep)`` over the full corpus.

    The clustering is the scale trick: pairwise cosine is O(N²) flat
    but O(N²/C) cell-partitioned — at 100 TB you raise C so cells stay
    joinable and write the index partitioned by cell (same layout
    IVF probing wants; one assignment shuffle serves both). Like IVF,
    the codebook is an offline-trained input — the seeded-codebook
    gate value-checks assign→pair→survivor end to end while
    :func:`train_centroids` / :func:`kmeans_train` stay the
    production recipes.

    ``pair_blocks``: a cell's self-join is ONE Spark partition per
    join key, so with few cells the hottest cell's quadratic dot-fold
    work lands on ONE core — AQE's skew split never fires because its
    trigger is partition BYTES, and a few MB of vectors is an hour of
    CPU (found by the round-7 sf10 rehearsal: one straggler task,
    31/32 cores idle). The triangle-block decomposition fixes the
    parallelism WITHOUT changing a single output pair: each vector in
    id-block ``b`` replicates to the ``B`` unordered block pairs
    {b, q}, the join keys on (cell, lo, hi), and every (u, v) pair
    meets exactly once — in block pair {b_u, b_v} — so candidate
    generation splits into ~B²/2 tasks per cell at a B× replication
    cost of the vector payload. Pure parallelization: the oracle is
    the same pairwise SQL, pinned by the B=1 ≡ B=4 equivalence test.
    Measured at sf10 (50k vectors, adaptive k): B∈{1,2} ≈ 62 s,
    B=8 ≈ 92 s (replication overhead dominates once cells are ~64
    vectors) — default B=2; raise it for fixed-k / fat-cell
    configurations where one cell's quadratic work would otherwise
    be a single task."""
    # The assignment feeds both pair sides and the final keep join —
    # persist so the pandas-UDF assignment runs once, not three times
    # (at scale this is the cell-partitioned index a deployment
    # materializes; callers release per the dedup-module contract).
    # The f64 copy and the norm are precomputed per VECTOR, so each
    # pair pays one dot fold instead of three (embedding_near_dup's
    # trick); dot/(n1*n2) evaluates the same f64 expression trees the
    # inline cosine did, so results are bit-identical.
    dv = F.transform(F.col("cv"), lambda x: x.cast("double"))
    # Widen the corpus BEFORE the assignment/pairwise stage: with a
    # broadcastable cell index the planner picks BroadcastHashJoin for
    # the block self-join, so there is NO exchange and the probe side
    # keeps the SCAN's partitioning — a single-file corpus then runs
    # the pandas-UDF assignment AND the whole O(N²/C) dot-fold on ONE
    # task (measured 13 s of single-core CPU inside the capstone's
    # broadcast build; pair_blocks only helps when the join shuffles).
    idx = (
        ivf_index(fan_out(corpus), centroids, vec_col, id_col)
        .select(
            "neighbor_id", "cell", dv.alias("v"),
            F.sqrt(F.aggregate(F.transform(dv, lambda x: x * x),
                               F.lit(0.0), lambda acc, x: acc + x))
            .alias("nrm"),
        )
    )
    cachereg.begin("semdedup")
    idx = cachereg.persist(idx, "semdedup")
    blk = F.pmod(F.col("neighbor_id"), F.lit(pair_blocks))
    qs = F.sequence(F.lit(0), F.lit(pair_blocks - 1))
    blocked = idx.select(
        "cell", "neighbor_id", "v", "nrm", blk.alias("_blk"),
        F.explode(
            F.transform(qs, lambda q: F.struct(
                F.least(blk, q).alias("lo"), F.greatest(blk, q).alias("hi"),
            ))
        ).alias("_bp"),
    ).select("cell", "neighbor_id", "v", "nrm", "_blk", "_bp.lo", "_bp.hi")
    a = blocked.select(F.col("cell").alias("_c1"), F.col("lo").alias("_lo1"),
                       F.col("hi").alias("_hi1"), F.col("_blk").alias("_b1"),
                       F.col("neighbor_id").alias("_id1"),
                       F.col("v").alias("_v1"), F.col("nrm").alias("_n1"))
    b = blocked.select(F.col("cell").alias("_c2"), F.col("lo").alias("_lo2"),
                       F.col("hi").alias("_hi2"), F.col("_blk").alias("_b2"),
                       F.col("neighbor_id").alias("_id2"),
                       F.col("v").alias("_v2"), F.col("nrm").alias("_n2"))
    dot = F.aggregate(
        F.zip_with(F.col("_v1"), F.col("_v2"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    # same-block pairs share ALL B block-pair keys, so restrict them
    # to the diagonal key (lo == hi) — every (u, v) then meets exactly
    # once; the guard sits in the JOIN condition so it prunes before
    # the dot fold ever runs
    dropped = (
        a.join(
            b,
            (F.col("_c1") == F.col("_c2"))
            & (F.col("_lo1") == F.col("_lo2"))
            & (F.col("_hi1") == F.col("_hi2"))
            & (F.col("_id1") < F.col("_id2"))
            & ((F.col("_lo1") == F.col("_hi1"))
               | (F.col("_b1") != F.col("_b2"))),
        )
        .filter(F.round(dot / (F.col("_n1") * F.col("_n2")), 4)
                >= F.lit(threshold))
        .select(F.col("_id2").alias("vec_id"))
        .distinct()
    )
    return (
        idx.select(F.col("neighbor_id").alias("vec_id"),
                   F.col("cell").cast("long").alias("cell"))
        .join(dropped.withColumn("_drop", F.lit(True)), "vec_id", "left")
        .select("vec_id", "cell",
                F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"))
    )


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 quantization — the memory/bandwidth
    scale path for similarity search (4x smaller vectors, integer
    dot products): ``q_j = floor(v_j * 127 / max|v|)`` ∈ [-127, 127].

    Pure built-in expressions (transform/array_max/floor) — JVM-side
    whole-stage codegen, no UDF — and every output is an exact
    integer, so the whole quantizer carries a DuckDB value oracle.
    All arithmetic is forced to float64: the inputs are float32, and
    leaving the multiply in float32 would diverge between engines.
    Zero vectors quantize to all-zero."""
    v = F.col(vec_col)
    m = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    q = F.when(m == 0.0, F.transform(v, lambda x: F.lit(0).cast("long"))).otherwise(
        F.transform(
            v, lambda x: F.floor(x.cast("double") * F.lit(127.0) / m)
        )
    )
    return df.select(
        F.col(id_col), q.alias("qvec"), F.size(v).alias("n_dims")
    )


def quantized_topk(corpus_q: DataFrame, queries_q: DataFrame,
                   k: int = 10) -> DataFrame:
    """Exact top-k by INTEGER dot product over int8-quantized vectors
    (both inputs from :func:`quantize_int8`): the classic
    re-rank-free quantized retrieval stage. Integer dots (≤ 64·127²
    per pair) are exact in any engine, so ranking is deterministic —
    (dot DESC, neighbor_id) with row_number — and the whole operator
    is value-oracled. Queries broadcast; corpus never shuffles until
    the final per-query top-k."""
    q = queries_q.select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("qq")
    )
    c = corpus_q.select(
        F.col("vec_id").alias("neighbor_id"), F.col("qvec").alias("cq")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.aggregate(
                F.zip_with(F.col("qq"), F.col("cq"), lambda a, b: a * b),
                F.lit(0).cast("long"), lambda acc, x: acc + x,
            ).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ------------------------------------------------------------------ PQ

def pq_codebooks(vectors: np.ndarray, m: int = 8,
                 ksub: int = 16) -> np.ndarray:
    """Slice ``ksub`` seed vectors into per-subspace codebooks of
    shape ``(m, ksub, dsub)`` — the deterministic-codebook analog of
    the IVF gate's seeded centroids (PQ treats codebooks as an
    offline-trained input; :func:`pq_train` is the production
    recipe)."""
    d = vectors.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return np.stack(
        [vectors[:ksub, s * dsub:(s + 1) * dsub] for s in range(m)]
    )


def pq_train(sample: np.ndarray, m: int = 8, ksub: int = 16,
             iters: int = 5, seed: int = 42) -> np.ndarray:
    """Per-subspace Lloyd k-means on a driver-side sample — the
    standard PQ training recipe (Jégou et al. 2011). Returns
    ``(m, ksub, dsub)`` codebooks."""
    rng = np.random.default_rng(seed)
    d = sample.shape[1]
    dsub = d // m
    books = []
    for s in range(m):
        x = sample[:, s * dsub:(s + 1) * dsub].astype(float)
        cent = x[rng.choice(len(x), size=ksub, replace=False)].copy()
        for _ in range(iters):
            d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = np.argmin(d2, axis=1)
            for c in range(ksub):
                members = x[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books.append(cent)
    return np.stack(books)


def _pq_sub(v, s: int, dsub: int):
    return F.slice(v, s * dsub + 1, dsub)


def _pq_l2(sub, codeword) -> "F.Column":
    """Σ (x−c)² as a left fold in f64 — the exact add order DuckDB's
    ``list_reduce`` uses, so argmin comparisons agree bit-for-bit."""
    lits = F.array(*[F.lit(float(x)) for x in codeword])
    return F.aggregate(
        F.zip_with(sub, lits,
                   lambda a, b: (a.cast("double") - b)
                   * (a.cast("double") - b)),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def pq_encode(df: DataFrame, codebooks: np.ndarray,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """Product-quantize every vector: per subspace, the index of the
    L2-nearest codeword (ties → lowest index). Returns
    ``(id_col, codes array<long>)`` — m·log2(ksub) bits per vector
    (m=8, ksub=16 ⇒ 4 bytes for a 64-dim f32 vector, 64× smaller).

    This expression form exists as the oracle-parity reference: its
    fold order is exactly DuckDB's ``list_reduce``, so the SQL twin
    is line-for-line checkable.  For throughput use
    :func:`pq_encode_np` (pinned bit-equal by test): the m×ksub fold
    expressions overwhelm whole-stage codegen limits and run ~20×
    slower than one Arrow-batched numpy distance matrix."""
    m, ksub, dsub = codebooks.shape
    v = F.col(vec_col)
    codes = []
    for s in range(m):
        sub = _pq_sub(v, s, dsub)
        cands = F.array(*[
            F.struct(
                _pq_l2(sub, codebooks[s][c]).alias("d"),
                F.lit(c).cast("long").alias("c"),
            )
            for c in range(ksub)
        ])
        codes.append(F.array_min(cands)["c"])
    return df.select(F.col(id_col), F.array(*codes).alias("codes"))


def pq_encode_np(df: DataFrame, codebooks: np.ndarray,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Arrow-batched numpy twin of :func:`pq_encode` (one
    distance-matrix argmin per batch; np.argmin takes the first
    minimum = the same lowest-index tiebreak, and the subspace sum is
    an EXPLICIT sequential accumulation over the dsub axis — 0.0 + x₁
    + x₂ + … — the same add order as the codegen fold and DuckDB's
    ``list_reduce``, so bit-equality is structural, not an empirical
    pin: numpy's ``.sum(-1)`` would use the pairwise 8-accumulator
    path, whose near-tie distances could flip an argmin)."""
    m, ksub, dsub = codebooks.shape
    cb = codebooks.astype(float)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def encode(vs: pd.Series) -> pd.Series:
        x = np.stack(vs.to_numpy()).astype(float)
        out = np.empty((len(x), m), dtype="int64")
        for s in range(m):
            sub = x[:, s * dsub:(s + 1) * dsub]
            sq = (sub[:, None, :] - cb[s][None, :, :]) ** 2
            d2 = np.zeros(sq.shape[:2])
            for j in range(dsub):  # sequential left fold, NOT .sum(-1)
                d2 = d2 + sq[:, :, j]
            out[:, s] = np.argmin(d2, axis=1)
        return pd.Series(list(out))

    return df.select(F.col(id_col), encode(F.col(vec_col)).alias("codes"))


def pq_adc_topk(codes: DataFrame, queries: DataFrame,
                codebooks: np.ndarray, k: int = 10,
                vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """Asymmetric-distance top-k: score(q, x) = Σ_s ⟨q_sub, codeword
    of x's code in subspace s⟩ — the query stays full-precision, the
    corpus is 4-byte codes.  Per-subspace terms are rounded to 6
    decimals and summed as DECIMAL (order-independent), ranking on
    (score DESC, id).

    At scale the corpus side never touches raw vectors (codes are
    64× smaller ⇒ the scan is 64× cheaper) and queries broadcast;
    the per-(query, subspace) lookup tables are tiny."""
    m, ksub, dsub = codebooks.shape
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = codes.select(F.col(id_col).alias("neighbor_id"), "codes")
    qv = F.col("qv")
    term_sum = None
    for s in range(m):
        sub = F.transform(_pq_sub(qv, s, dsub),
                          lambda x: x.cast("double"))
        cbarr = F.array(*[
            F.array(*[F.lit(float(x)) for x in codebooks[s][cc]])
            for cc in range(ksub)
        ])
        codeword = F.element_at(cbarr, (F.element_at("codes", s + 1) + 1)
                                .cast("int"))
        dot = F.aggregate(
            F.zip_with(sub, codeword, lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        t = F.round(dot, 6).cast("decimal(28,6)")
        term_sum = t if term_sum is None else term_sum + t
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                term_sum.cast("double").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(corpus: DataFrame, queries: DataFrame,
               centroids: np.ndarray, codebooks: np.ndarray,
               k: int = 10, nprobe: int = 3,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """IVF×PQ — the composition a real billion-vector index runs
    (Jégou et al. 2011; FAISS ``IVFx,PQy``): coarse-quantize the
    corpus into IVF cells, store only 4-byte PQ codes per vector,
    probe the ``nprobe`` nearest cells per query and rank by
    asymmetric distance within them.

    At 100 TB the index is written partitioned by ``cell`` so a probe
    is a partition-pruned scan of codes (64× smaller than raw
    vectors); queries broadcast, so the only shuffle is the final
    per-query top-k.  Scoring is the same round-6 DECIMAL-summed ADC
    as :func:`pq_adc_topk`, so ranking is engine-deterministic.
    """
    m, ksub, dsub = codebooks.shape
    cells = ivf_index(corpus, centroids, vec_col=vec_col, id_col=id_col)
    codes = pq_encode_np(corpus, codebooks, vec_col=vec_col, id_col=id_col)
    index = cells.select("neighbor_id", "cell").join(
        codes.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id"
    )
    assign = _assign_udf(centroids, nprobe)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.explode(assign(F.col(vec_col))).alias("cell"),
    )
    qv = F.col("qv")
    term_sum = None
    for s in range(m):
        sub = F.transform(_pq_sub(qv, s, dsub),
                          lambda x: x.cast("double"))
        cbarr = F.array(*[
            F.array(*[F.lit(float(x)) for x in codebooks[s][cc]])
            for cc in range(ksub)
        ])
        codeword = F.element_at(cbarr, (F.element_at("codes", s + 1) + 1)
                                .cast("int"))
        dot = F.aggregate(
            F.zip_with(sub, codeword, lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        t = F.round(dot, 6).cast("decimal(28,6)")
        term_sum = t if term_sum is None else term_sum + t
    scored = (
        index.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                term_sum.cast("double").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
