"""Classifier-based quality filtering — the DCLM / fastText-distill
pattern a modern LLM-data pipeline uses in place of (or after) pure
heuristics: train a cheap linear classifier on labeled examples (here
the heuristic gate acts as the teacher; in production the labels come
from an LLM judge or curated seed sets), then score the whole corpus
with a single codegen expression.

Scale shape (the same as :func:`~zolo_spark.llm.similarity.
kmeans_train`): each gradient-descent iteration is ONE scan with a
map-side-combined d-dimensional aggregate — only the (d)-vector of
gradient sums ever reaches the driver, and the updated weight vector
is re-broadcast as literals in the next iteration's expression. No
UDFs anywhere: features, sigmoid, gradient terms, and final scoring
are all built-in expressions inside whole-stage codegen, so a 100 TB
corpus scores at scan speed.

Determinism (the DuckDB-oracle discipline): per-row gradient terms
are rounded to 6 decimals and summed as DECIMAL(28,6) — exact and
associative, so partition order cannot move a bit — divided once;
weight updates replay as scalar SQL; the sigmoid input is clamped to
[-30, 30] identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: feature column names produced by :func:`quality_features` (x0 = bias)
FEATURE_COLS = ["x0", "x1", "x2", "x3", "x4", "x5"]

SIGMOID_CLAMP = 30.0


def _feature_exprs() -> list:
    return [
        F.lit(1.0).alias("x0"),
        (F.least(F.col("n_tokens_ws").cast("double"), F.lit(400.0))
         / 400.0).alias("x1"),
        F.col("punct_ratio").cast("double").alias("x2"),
        F.col("stopword_ratio").cast("double").alias("x3"),
        (F.least(F.col("mean_token_len").cast("double"), F.lit(20.0))
         / 20.0).alias("x4"),
        (F.least(F.col("n_chars").cast("double"), F.lit(2000.0))
         / 2000.0).alias("x5"),
    ]


def quality_features(stats: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Numeric feature vector per document from the (already oracled)
    :func:`~zolo_spark.llm.text.text_stats` table: bias, saturating
    token-length, punctuation ratio, stopword ratio, saturating mean
    token length, saturating char-length. All features live in [0, 1]
    (no standardization pass needed) and are exact cross-engine: the
    ratios are round-4 outputs, the lengths are integers."""
    return stats.select(id_col, *_feature_exprs())


def labeled_features(stats: DataFrame, label: Column,
                     label_name: str = "label",
                     id_col: str = "doc_id") -> DataFrame:
    """Features + a stats-derived label in ONE projection — no
    feature⟗label self-join (which would shuffle the corpus once per
    training run and leave the persisted training frame on the
    shuffle partitioning instead of the scan's)."""
    return stats.select(id_col, *_feature_exprs(), label.alias(label_name))


def _logit(weights: list[float]) -> Column:
    """Left-associated dot product w·x (same textual shape as the
    oracle's ``w0*x0 + w1*x1 + ...``)."""
    z = F.lit(float(weights[0])) * F.col(FEATURE_COLS[0])
    for w, c in zip(weights[1:], FEATURE_COLS[1:]):
        z = z + F.lit(float(w)) * F.col(c)
    return z


def sigmoid(z: Column) -> Column:
    return 1.0 / (1.0 + F.exp(-F.greatest(
        F.least(z, F.lit(SIGMOID_CLAMP)), F.lit(-SIGMOID_CLAMP))))


# --- SQL-text twins of _logit/sigmoid for the training hot loop -----
# Building each iteration's aggregate through the Column API costs
# dozens of Py4J roundtrips (one per F.* call); at GD's sub-second
# iteration granularity that construction tax was ~40% of measured
# iteration latency (r10 VERDICT item 5). One SQL string per
# iteration is ONE roundtrip, and parses to the IDENTICAL expression
# tree: float repr() round-trips exactly, `a + b + c` is
# left-associated like _logit, and the clamp/round/DECIMAL shapes are
# byte-matched (weights bit-equality is pinned by pytest).

def _logit_sql(weights: list[float]) -> str:
    return " + ".join(
        f"(CAST({float(w)!r} AS DOUBLE) * {c})"
        for w, c in zip(weights, FEATURE_COLS))


def _sigmoid_sql(z: str) -> str:
    return (f"(1.0 / (1.0 + exp(-greatest(least(({z}), "
            f"CAST({SIGMOID_CLAMP!r} AS DOUBLE)), "
            f"CAST({-SIGMOID_CLAMP!r} AS DOUBLE)))))")


def _grad_select_sql(weight_sets: list[list[float]],
                     label_sqls: list[str], prefixes: list[str],
                     view: str, where: str = "") -> str:
    """One GD step's full SELECT with each model's sigmoid computed
    ONCE in a sub-select instead of inlined into all d aggregates —
    the per-iteration SQL text shrinks ~6×, and with it the parse
    cost the loop pays every iteration (~0.15 s/iter measured on the
    OvR gate at 24 inlined sigmoids). The arithmetic is the same
    expression DAG — ``round((_p − _y)·x_j, 6)`` over the identical
    double ``_p`` — so weights stay bit-identical (pytest-pinned)."""
    proj = [", ".join(FEATURE_COLS)]
    comps = []
    for i, (w, y, pre) in enumerate(
            zip(weight_sets, label_sqls, prefixes)):
        proj.append(f"{_sigmoid_sql(_logit_sql(w))} AS _p{i}")
        proj.append(f"{y} AS _y{i}")
        comps.extend(
            f"CAST(SUM(CAST(round((_p{i} - _y{i}) * {c}, 6) "
            f"AS DECIMAL(28,6))) AS DOUBLE) / COUNT(1) AS {pre}{j}"
            for j, c in enumerate(FEATURE_COLS))
    return (f"SELECT {', '.join(comps)} FROM "
            f"(SELECT {', '.join(proj)} FROM {view}{where})")


class _gd_session:
    """Context for the GD hot loop: registers the checkpointed
    training frame as a temp view and disables AQE for the loop's
    single-stage global aggregates (restored on exit). AQE's
    per-query shuffle-stage materialization is pure overhead on a
    one-exchange aggregate over an already-checkpointed frame —
    measured 2× of sub-second iteration latency — and there is no
    join or skew in the loop for it to re-plan; correctness is
    untouched (same plan, fewer scheduler round-trips). (Disabling
    whole-stage codegen for the loop — fresh weight literals compile
    a throwaway janino class per iteration — was probed in r15 and
    measured a wash on the real gates, so it stays ON: interpreted
    evaluation would cost per-row overhead on the at-scale feature
    table for no local win.) Like bpe_train, NOT thread-safe:
    concurrent queries on the same SparkSession plan under the AQE
    override while training runs."""

    def __init__(self, labeled: DataFrame, view: str):
        self.spark = labeled.sparkSession
        self.view = view
        labeled.createOrReplaceTempView(view)

    def __enter__(self):
        self._prev = self.spark.conf.get(
            "spark.sql.adaptive.enabled", "true")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.adaptive.enabled", self._prev)
        self.spark.catalog.dropTempView(self.view)
        return False

    def grad(self, select_sql: str):
        return self.spark.sql(select_sql).collect()[0]


def logreg_train(labeled: DataFrame, label_col: str = "label",
                 iters: int = 30, lr: float = 4.0,
                 l2: float = 0.0) -> list[float]:
    """Full-batch gradient descent from w = 0: per iteration one scan
    computes all d gradient components in a single aggregate
    (``g_j = Σ round((p_i - y_i)·x_ij, 6) / n`` as exact DECIMAL
    sums), the d-vector is collected, and ``w_j -= lr·g_j`` on the
    driver. Deterministic end to end — the whole training loop
    replays as chained scalar CTEs in SQL.

    The labeled features frame is eagerly localCheckpoint'd for the
    loop — at 100 TB this is the materialized feature table every
    training run writes anyway. Checkpoint, not persist: a persisted
    frame keeps its full logical plan, so every iteration's fresh
    aggregate re-analyzes the regex-heavy stats lineage — measured
    0.59 s/iteration of pure Catalyst work vs 0.08 s executing the
    same plan (r10 VERDICT item 5); truncating the lineage makes each
    iteration analyze a leaf scan. Values are identical (the frame is
    deterministic and materialized either way), so the SQL replay
    oracles are untouched. Full-batch with a fixed small ``lr`` is
    the deterministic choice: no minibatch RNG, no per-partition
    order dependence. (On a cluster with lossy executors, set a
    checkpoint dir and use ``checkpoint()`` — see dup_clusters.)"""
    from ..ops.partitioning import fan_out

    # the training frame usually derives from a narrow scan (one file
    # at gate scale): widen it so the checkpoint fill (regex-heavy
    # stats) and every iteration's scan run at cluster parallelism.
    labeled = fan_out(labeled).localCheckpoint()
    w = [0.0] * len(FEATURE_COLS)
    with _gd_session(labeled, "_zs_gd_binary") as gd:
        for _ in range(iters):
            row = gd.grad(  # d-vector, never rows
                _grad_select_sql([w], [label_col], ["g"], gd.view))
            if l2:
                # ridge penalty: w_j -= lr·(g_j + λ·w_j); the λ=0
                # branch stays byte-identical to the original update
                # so the existing oracle replay is untouched (and no
                # −0.0 can leak from a 0.0·w term).
                w = [w[j] - lr * (row[f"g{j}"] + l2 * w[j])
                     for j in range(len(w))]
            else:
                w = [w[j] - lr * row[f"g{j}"] for j in range(len(w))]
    return w


def logreg_train_minibatch(labeled: DataFrame, label_col: str = "label",
                           iters: int = 20, lr: float = 1.0,
                           n_buckets: int = 4,
                           id_col: str = "doc_id") -> list[float]:
    """Deterministic minibatch gradient descent: iteration ``k``
    trains on the hash bucket ``k mod n_buckets`` of the corpus —
    ``md5('mb-v1' || id) mod n_buckets``, the same salted-bucket
    trick as :func:`~zolo_spark.llm.corpus.hash_split` — so the
    minibatch schedule is a pure function of document ids: stable
    under reruns, resharding, and engines (what RNG minibatches are
    not), and the whole schedule replays as SQL. Each iteration
    scans only ~1/n_buckets of the checkpointed feature blocks,
    cutting per-step cost at 100 TB the way SGD is supposed to.
    localCheckpoint (not persist) truncates the stats lineage so the
    per-iteration aggregate analyzes a leaf scan — see
    :func:`logreg_train`."""
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit("mb-v1"), F.col(id_col).cast("string"))),
        1, 4), 16, 10).cast("long") % n_buckets)
    from ..ops.partitioning import fan_out

    labeled = fan_out(labeled.withColumn("_mb", bucket)).localCheckpoint()
    w = [0.0] * len(FEATURE_COLS)
    with _gd_session(labeled, "_zs_gd_minibatch") as gd:
        for k in range(iters):
            row = gd.grad(_grad_select_sql(
                [w], [label_col], ["g"], gd.view,
                where=f" WHERE _mb = {k % n_buckets}"))
            # an empty bucket (possible at tiny scale) contributes a
            # zero update — mirrored by COALESCE(g, 0) in the replay
            w = [w[j] - lr * (row[f"g{j}"]
                              if row[f"g{j}"] is not None else 0.0)
                 for j in range(len(w))]
    return w


def train_ovr(labeled: DataFrame, n_classes: int, class_col: str = "cls",
              iters: int = 15, lr: float = 4.0,
              l2: float = 0.0) -> list[list[float]]:
    """One-vs-rest multiclass: one binary ridge-regularized model per
    class, all trained JOINTLY — each iteration is a single scan of
    the once-persisted feature frame computing all ``n_classes · d``
    gradient components in one map-side-combined aggregate (the
    classes share the scan; their math stays independent, so the
    per-class SQL replay is unchanged). ``iters`` scans total instead
    of ``n_classes · iters``; driver traffic is one
    ``n_classes · d``-vector per iteration — independent of corpus
    size. localCheckpoint (not persist) truncates the stats lineage
    so each iteration's ``n_classes · d``-component aggregate
    analyzes a leaf scan — see :func:`logreg_train`."""
    from ..ops.partitioning import fan_out

    labeled = fan_out(labeled).localCheckpoint()
    d = len(FEATURE_COLS)
    ws = [[0.0] * d for _ in range(n_classes)]
    with _gd_session(labeled, "_zs_gd_ovr") as gd:
        for _ in range(iters):
            row = gd.grad(  # n_classes·d components, never rows
                _grad_select_sql(
                    ws,
                    [f"CAST(({class_col} = {c}) AS DOUBLE)"
                     for c in range(n_classes)],
                    [f"g{c}_" for c in range(n_classes)], gd.view))
            for c in range(n_classes):
                if l2:
                    ws[c] = [ws[c][j]
                             - lr * (row[f"g{c}_{j}"] + l2 * ws[c][j])
                             for j in range(d)]
                else:
                    ws[c] = [ws[c][j] - lr * row[f"g{c}_{j}"]
                             for j in range(d)]
    return ws


def ovr_predict(feats: DataFrame, models: list[list[float]],
                id_col: str = "doc_id") -> DataFrame:
    """(id, s0..s{k-1}, pred_class) — per-class sigmoid scores rounded
    to 4 (the cross-engine-stable values) and an argmax on the ROUNDED
    scores with ties broken toward the lowest class id, so the
    decision replays exactly as a chained CASE in SQL. Pure codegen —
    one projection, no shuffle."""
    scores = [F.round(sigmoid(_logit(w)), 4).alias(f"s{c}")
              for c, w in enumerate(models)]
    scored = feats.select(id_col, *scores)
    pred = None
    n = len(models)
    for c in range(n - 1):
        later = [F.col(f"s{j}") for j in range(c + 1, n)]
        cond = F.col(f"s{c}") >= F.greatest(*later) if len(later) > 1 \
            else F.col(f"s{c}") >= later[0]
        pred = pred.when(cond, c) if pred is not None else F.when(cond, c)
    return scored.withColumn("pred_class", pred.otherwise(n - 1))


def classifier_scores(feats: DataFrame, weights: list[float],
                      id_col: str = "doc_id") -> DataFrame:
    """Score every document with the trained weights — one codegen
    expression, no UDF, no shuffle: ``(id, score)`` with the score
    rounded to 4 decimals (absorbs sub-ulp libm ``exp`` divergence
    between engines)."""
    return feats.select(
        id_col, F.round(sigmoid(_logit(weights)), 4).alias("score"),
    )


def classifier_quality_filter(stats: DataFrame, weights: list[float],
                              threshold: float = 0.5,
                              id_col: str = "doc_id") -> DataFrame:
    """(id, score, kept) over the full corpus — ``kept`` compares the
    ROUNDED score (the cross-engine-stable value) to the threshold."""
    scored = classifier_scores(quality_features(stats, id_col),
                               weights, id_col)
    return scored.select(
        id_col, "score", (F.col("score") >= threshold).alias("kept"),
    )
