"""Physical-plan regression tests: the scale-critical plan properties
(pushdown, pruned scans, broadcasts, partial aggregation, bucketed
co-location) asserted from .explain output so perf regressions fail
loudly, not silently.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from zolo_spark import parity_queries

from .conftest import SF_DIR


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_shuffles(plan: str) -> int:
    """Shuffle exchanges only (BroadcastExchange is not a shuffle)."""
    return len(re.findall(r"(?<!Broadcast)Exchange \(", plan))


def q(spark, name):
    return parity_queries.REGISTRY[name].fn(spark, SF_DIR)


def test_filter_pushed_to_scan(spark):
    p = plan_of(q(spark, "p2_comparison_filter"))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in p


def test_flagship_scan_pruned_and_broadcast(spark):
    p = plan_of(q(spark, "flagship_weekly_demand"))
    # status IN + date bound reach the orders scan
    assert "In(o_orderstatus, [F,O,P])" in p
    assert "GreaterThanOrEqual(o_orderdate" in p
    # only the 3 needed orders columns are read
    assert "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_orderdate:timestamp_ntz>" in p
    # dims go broadcast; the single shuffle is the final aggregate
    assert "BroadcastHashJoin" in p
    assert n_shuffles(p) == 1


def test_q1_column_pruning_and_partial_agg(spark):
    p = plan_of(q(spark, "tpch_q1_pricing_summary"))
    # 7 of 11 lineitem columns read
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double,l_returnflag:string,l_linestatus:string,l_shipdate" in p
    # map-side partial aggregation: two HashAggregates around one exchange
    assert p.count("HashAggregate") >= 2
    assert n_shuffles(p) == 1


def test_window_transform_has_no_sort(spark):
    # W1/W2 are unbounded-frame aggregates: hash partition, no
    # ORDER-induced sort requirement beyond Spark's window exec
    p = plan_of(q(spark, "w2_group_count_filter"))
    assert "Window" in p
    assert n_shuffles(p) == 1


def test_semi_anti_join_strategies(spark):
    p = plan_of(q(spark, "j4_semi_join"))
    assert "LeftSemi" in p
    p = plan_of(q(spark, "j5_anti_join"))
    assert "LeftAnti" in p


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing demo (the co-located fact-fact join at 100 TB): both
    sides bucketed by the join key ⇒ sort-merge join with NO exchange."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
         .sortBy("o_orderkey").saveAsTable("orders_b"))
        (lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey")
         .sortBy("l_orderkey").saveAsTable("lineitem_b"))
        joined = spark.table("orders_b").join(
            spark.table("lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        p = plan_of(joined)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p  # co-located: zero shuffle
        assert joined.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_runtime_bloom_filter_prunes_fact_fact_join(spark):
    """Spark 4's runtime bloom-filter join pruning fires on the engine's
    fact-fact shape (selective header filter ⨝ big details table). The
    default thresholds (10 GB application-side scan) are correct for
    deployment and simply never trigger at test SF, so this test lowers
    them to prove the shape qualifies: the selective side's keys get
    bloom_filter_agg'd and the probe scan is guarded by
    BloomFilterMightContain — at 100 TB that skips most lineitem
    row groups before the shuffle."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderstatus") == "P"
        )
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        j = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy("o_orderstatus").count())
        p = plan_of(j)
        assert "bloom_filter_agg" in p
        assert "BloomFilterMightContain" in p or "might_contain" in p
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@contextlib.contextmanager
def session_conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def new_job_ids(spark, fn):
    """Run ``fn`` and return the ids of the Spark jobs it launched."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    fn()
    return set(tracker.getJobIdsForGroup()) - before


def test_fan_out_widens_narrow_never_narrows_wide(spark):
    from zolo_spark.ops.partitioning import fan_out

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    assert fan_out(narrow).rdd.getNumPartitions() == target

    wide = spark.range(1000).repartition(target * 2)
    # already wider than target: returned untouched (same plan object)
    assert fan_out(wide) is wide


def test_fan_out_decision_table_launches_no_jobs(spark, caplog):
    """Every row of fan_out's decision table (module docstring of
    ops/partitioning.py), each decided without a single Spark job:
    the width comes from the optimized plan, the file index and the
    Catalyst estimate, never from ``df.rdd``."""
    import logging

    from zolo_spark.ops.partitioning import fan_out, plan_size_estimate

    target = spark.sparkContext.defaultParallelism
    big_agg = spark.range(2_000_000).groupBy("id").count()
    assert plan_size_estimate(big_agg) >= target << 20
    cases = [  # (frame, table row, widened)
        (spark.range(1000).coalesce(1), "repartition", True),
        (spark.range(1000).repartition(2 * target), "repartition", False),
        (spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count(),
         "derived", True),
        (big_agg, "derived", False),
        (spark.read.parquet(f"{SF_DIR}/documents.parquet"), "file_scan",
         True),
        (spark.range(1 << 28), "big_estimate", False),
        (spark.readStream.format("rate").load(), "streaming", False),
    ]
    for df, row, widened in cases:
        caplog.clear()
        out = []
        with caplog.at_level(logging.DEBUG, logger="zolo_spark"):
            jobs = new_job_ids(spark, lambda: out.append(fan_out(df)))
        assert not jobs, row
        (rec,) = [r for r in caplog.records
                  if r.getMessage().startswith("fan_out ")]
        assert rec.args[0] == row
        assert rec.args[3] == target
        if widened:
            plan = out[0]._jdf.queryExecution().optimizedPlan()
            assert plan.nodeName() == "Repartition", row
            assert plan.numPartitions() == target, row
        else:
            assert out[0] is df, row


def test_fan_out_big_estimate_scale_pin(spark):
    """A frame whose FREE Catalyst estimate clears target ×
    maxPartitionBytes — the corpus-sized shape every real deployment
    input has — passes through UNTOUCHED, even at a static width below
    target (the force-repartition branch must never fire at scale)."""
    from zolo_spark.ops.partitioning import fan_out, plan_size_estimate

    target = spark.sparkContext.defaultParallelism
    # small estimate and narrow: widened
    small = spark.range(1000).coalesce(1)
    assert fan_out(small).rdd.getNumPartitions() == target
    # estimate over the threshold: same plan object back, no exchange
    # (range rows estimate at 8 bytes each; 2 partitions stands in
    # for "already as wide as its bytes warrant")
    with session_conf(spark, "spark.sql.files.maxPartitionBytes", "1m"):
        thr = target * (1 << 20)
        big = spark.range(thr // 8 + 1_000_000).repartition(2)
        assert plan_size_estimate(big) > thr
        assert fan_out(big) is big
    # calibration guard for the extrapolation the no-op branch relies
    # on: the real corpus tables' per-row estimate stays large enough
    # that a 100 TB-scale frame lands far beyond any plausible
    # target × maxPartitionBytes threshold
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    est = plan_size_estimate(docs)
    n = docs.count()
    assert est / max(n, 1) > 100  # ≥100 B/row ⇒ 10^9 rows ≫ 4 GB


def test_fan_out_widens_tiny_aggregate(spark):
    """A post-shuffle frame statically plans ``shuffle.partitions``
    wide, but AQE coalesces a tiny one far below session parallelism
    at runtime (a 1 MB floor per partition), so downstream per-row
    compute would run on a handful of cores: fan_out widens it. A
    frame whose estimate is big passes through untouched."""
    from zolo_spark.ops.partitioning import fan_out, plan_size_estimate

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    assert fan_out(narrow).rdd.getNumPartitions() == target

    # tiny aggregate: estimate ~12 KB, AQE runs it as ONE partition
    tiny_agg = spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count()
    out = fan_out(tiny_agg)
    assert out is not tiny_agg
    assert out.rdd.getNumPartitions() == target

    # big estimate (over target × maxPartitionBytes): untouched even
    # though its static width is below target
    with session_conf(spark, "spark.sql.files.maxPartitionBytes", "1m"):
        big = spark.range(2_000_000).repartition(2)
        assert plan_size_estimate(big) > target * (1 << 20)
        assert fan_out(big) is big


def test_private_jvm_apis_take_the_primary_path(spark, monkeypatch):
    """The width policy and cachereg read private JVM APIs. A Spark
    upgrade that moves one must fail here rather than route silently
    to a fallback."""
    from pyspark.sql.classic.dataframe import DataFrame

    from zolo_spark.llm import cachereg
    from zolo_spark.ops.partitioning import _decide, _max_partition_bytes

    with session_conf(spark, "spark.sql.files.maxPartitionBytes", "64m"):
        assert _max_partition_bytes(spark) == 64 << 20
    target = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # optimizedPlan().stats(), nodeName(), children(), the file index
    # and the split confs
    row, est, width = _decide(docs.select("doc_id", "text"), target)
    assert (row, width) == ("file_scan", 1) and est > 0
    # Repartition.numPartitions / RepartitionByExpression.optNumPartitions
    assert _decide(docs.coalesce(3), target)[::2] == ("repartition", 3)
    assert _decide(docs.repartition(3, "doc_id"), target)[::2] == (
        "repartition", 3)
    # SQLConf.numShufflePartitions
    assert _decide(docs.repartition("doc_id"), target)[::2] == (
        "derived", 1)
    # cacheManager().isEmpty(): with nothing cached, begin() must
    # skip every unpersist
    spark.catalog.clearCache()
    unpersisted = []
    monkeypatch.setattr(DataFrame, "unpersist",
                        lambda self, *a, **k: unpersisted.append(self))
    monkeypatch.setitem(cachereg._LIVE, "_api_pin", [docs])
    cachereg.begin("_api_pin")
    assert not unpersisted


def test_q7_q10_dim_broadcasts_survive(spark):
    """r15 (r14 VERDICT #10): q7/q10 broadcast every dimension by
    EXPLICIT hint, so the only shuffle join is the fact⋈fact
    (orders⋈lineitem) — the shape that keeps the sf3 rehearsal's
    growth bounded by the fact shuffle, never a dim estimate flip.
    Pins the hint's effect: 4 (q7) / 2 (q10) broadcast joins, exactly
    one SortMergeJoin/ShuffledHashJoin, and the date filters pushed
    into the fact scans."""
    p7 = plan_of(q(spark, "tpch_q7_volume_shipping"))
    # all four dims broadcast; at most the fact⋈fact join may shuffle
    # (at gate scale even orders fits the broadcast threshold)
    assert p7.count("BroadcastHashJoin") >= 4
    assert (p7.count("SortMergeJoin")
            + p7.count("ShuffledHashJoin")) <= 1
    assert "CartesianProduct" not in p7
    assert "GreaterThanOrEqual(l_shipdate" in p7
    p10 = plan_of(q(spark, "tpch_q10_returned_items"))
    assert p10.count("BroadcastHashJoin") >= 2
    assert (p10.count("SortMergeJoin")
            + p10.count("ShuffledHashJoin")) <= 1
    assert "CartesianProduct" not in p10
    assert "GreaterThanOrEqual(o_orderdate" in p10
    assert "EqualTo(l_returnflag,R)" in p10


def test_q3_pushdown_prune_broadcast(spark):
    p = plan_of(q(spark, "tpch_q3_shipping_priority"))
    # every filter reaches its own scan
    assert "EqualTo(c_mktsegment,BUILDING)" in p
    assert "LessThan(o_orderdate" in p
    assert "GreaterThan(l_shipdate" in p
    # column pruning: customer read shrinks to the 2 needed columns
    assert "ReadSchema: struct<c_custkey:bigint,c_mktsegment:string>" in p
    # filtered dims broadcast; the only shuffle is the final aggregate
    assert "BroadcastHashJoin" in p
    assert n_shuffles(p) == 1


def test_q6_single_stage_scan_agg(spark):
    p = plan_of(q(spark, "tpch_q6_forecast_revenue"))
    # all four predicates pushed to the parquet scan
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_shipdate" in p
    assert "GreaterThanOrEqual(l_discount,0.05)" in p
    assert "LessThan(l_quantity,24" in p
    # partial agg map-side, one exchange to the single final row
    assert p.count("HashAggregate") >= 2
    assert n_shuffles(p) == 1


def test_pii_redact_stays_codegen_single_scan(spark):
    """PII masking is a pure map: one scan, no shuffle beyond the
    documented fan_out repartition, zero Python nodes."""
    p = plan_of(q(spark, "llm_pii_redact"))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert n_shuffles(p) <= 1  # fan_out only
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_decontaminate_three_shuffles_no_joins(spark):
    """The inverted index builds in ONE aggregation (postings lists +
    df cap together) — no shingle-keyed join may reappear; the whole
    op is fan_out + shingle groupBy + pair groupBy."""
    p = plan_of(q(spark, "llm_decontaminate"))
    assert n_shuffles(p) <= 3
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_session_window_single_shuffle(spark):
    p = plan_of(q(spark, "events_session_window"))
    assert n_shuffles(p) == 1  # one exchange on user_id for the merge
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_bm25_broadcasts_stats_and_takes_ordered(spark):
    p = plan_of(q(spark, "llm_bm25_topk"))
    # df/stats sides join broadcast — token skew can never hot-key it
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    # the top-k is a TakeOrderedAndProject, not a global Sort+Limit
    assert "TakeOrderedAndProject" in p
    assert "Sort (" not in p or "TakeOrderedAndProject" in p


def test_chunk_then_pack_single_shuffle(spark):
    # chunking itself is shuffle-free; packing adds exactly one
    # exchange (the per-doc window)
    p_chunks = plan_of(q(spark, "llm_chunk_documents"))
    assert n_shuffles(p_chunks) == 0
    p_pack = plan_of(q(spark, "llm_pack_chunks"))
    assert n_shuffles(p_pack) == 1


def test_unigram_nll_lm_broadcast(spark):
    p = plan_of(q(spark, "llm_unigram_nll"))
    # the LM side is broadcast: the token join must not shuffle the
    # exploded occurrence stream
    assert "BroadcastHashJoin" in p
    occurrences_joins = re.findall(r"SortMergeJoin|ShuffledHashJoin", p)
    assert not occurrences_joins


def test_source_cap_pass_through_has_no_window(spark):
    from zolo_spark.llm import corpus
    from zolo_spark.warehouse import load_testdata

    docs = load_testdata(spark, SF_DIR)["documents"].select(
        "doc_id", "lang", "n_chars"
    )
    # cap larger than any group: everything pass-through, plan is
    # join-only (no Window operator executes a sort)
    p = plan_of(corpus.source_cap(docs, cap=10**9, source_col="lang"))
    assert "Window" in p  # the capped branch exists in the plan...
    # ...but the pass-through side is a broadcast semi join
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_pq_adc_broadcasts_queries_no_smj(spark):
    p = plan_of(q(spark, "llm_pq_adc_topk"))
    # corpus codes never shuffle toward queries: broadcast NLJ/hash
    # only, plus the per-query top-k window
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_ivfpq_joins_broadcast(spark):
    p = plan_of(q(spark, "llm_ivfpq_topk"))
    assert "SortMergeJoin" not in p


def test_collapse_first_dedup_plan_shapes(spark):
    """The collapse-first near-dup plans' scale-critical properties:
    the persisted shingle/index relation is REUSED (InMemoryRelation —
    signature build and verify join read one cache, not two rescans),
    and nothing degenerates to a cartesian product."""
    for name in ("llm_minhash_lsh_dedup", "llm_dedup_pipeline",
                 "llm_incremental_dedup"):
        p = plan_of(q(spark, name))
        assert "InMemoryRelation" in p, name
        assert "CartesianProduct" not in p, name


def test_lsh_hot_bucket_cap_is_broadcast_anti(spark):
    """max_bucket routes the BOUNDED over-cap bucket list through a
    broadcast ANTI join (a semi join against the surviving buckets
    would shuffle the whole banded relation)."""
    from zolo_spark.llm import dedup
    from zolo_spark.warehouse import load_testdata

    docs = load_testdata(spark, SF_DIR)["documents"].select("doc_id", "text")
    p = plan_of(dedup.minhash_lsh_dedup(docs, max_bucket=50))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    p = plan_of(dedup.simhash_neardup(docs, max_bucket=50))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_winnow_single_shuffle_no_distinct_exchange(spark):
    """Winnowing's whole pipeline rides ONE doc_id hash shuffle: the
    up-front repartition pre-satisfies the window's distribution, and
    the run-contiguity LAG dedup replaces a global DISTINCT exchange."""
    p = plan_of(q(spark, "llm_winnow_fingerprints"))
    assert n_shuffles(p) == 1
    assert p.count("Window") >= 1 and "HashAggregate" not in p


def test_semdedup_single_assignment_pass(spark):
    """SemDeDup's centroid assignment (pandas UDF) is persisted and
    reused across the pair join's two sides and the keep join — three
    InMemory reads, one compute. (explain('formatted') re-prints the
    cached subtree per reference, so count table SCANS, not the Arrow
    operator inside the cached plan.)"""
    p = plan_of(q(spark, "llm_semdedup"))
    assert p.count("InMemoryTableScan") >= 3
    assert "CartesianProduct" not in p


def test_training_mix_shuffle_budget(spark):
    # quality stats ride the scan; fingerprint agg + survivor join +
    # packing window are the only wide ops (AQE may reuse exchanges)
    p = plan_of(q(spark, "llm_training_mix"))
    assert n_shuffles(p) <= 4


def test_watermark_twin_broadcasts_tiny_frames(spark):
    """The watermark twin's per-day max and final-watermark frames are
    broadcast back onto the events scan — the only shuffle exchanges
    are the two tiny day-level aggregations plus the final
    (window, key) aggregation; the running-max window sorts the
    per-day frame, never the corpus."""
    p = plan_of(q(spark, "watermark_batch_twin"))
    assert p.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in p
    assert n_shuffles(p) <= 4


def test_dsir_topk_no_global_sort_and_broadcast_ratios(spark):
    """DSIR's selection must plan as a partial top-k (TakeOrdered /
    WindowGroupLimit) feeding the rank window — never a full global
    sort of the corpus — and the bucket-sized ratio table must join
    broadcast."""
    from pyspark.sql import functions as F

    from zolo_spark.llm import dsir

    df = spark.createDataFrame(
        [(i, f"token{i} shared words here") for i in range(40)],
        "doc_id long, text string")
    target = df.filter(F.col("doc_id") < 5).select("doc_id")
    plan = dsir.dsir_select(df, target, k=10)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # r9/r15: ratios + weights = exactly TWO scans of the CACHED
    # feature relation — the corpus-sized explode lineage executes
    # once (r15: eagerly, so concurrent broadcast builds can't race
    # the lazy cache). A third scan = a marginal or totals stage
    # re-reading the feature table (the r8 shape that cost 148.7 s at
    # sf10). Generate counts are not pinned: a materialized
    # InMemoryRelation ECHOES its cached plan per scan in the print.
    assert plan.count("InMemoryTableScan") == 2


def test_hll_plan_two_level_aggregate_no_udf(spark):
    """The sketch is all codegen: register build is one partial-
    aggregated shuffle on (group, idx), the estimate one more on
    group — no Python eval nodes anywhere."""
    from pyspark.sql import functions as F

    from zolo_spark.ops import sketches

    df = spark.createDataFrame([("g", i) for i in range(100)],
                               "grp string, k long")
    plan = sketches.approx_distinct(df, "k", ["grp"])._jdf \
        .queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_histogram_quantile_no_global_sort(spark):
    """Quantile estimation must never range-sort the data: min/max +
    binned counts + a broadcast grid only."""
    from zolo_spark.ops import sketches

    df = spark.createDataFrame([("g", float(i)) for i in range(200)],
                               "grp string, x double")
    plan = sketches.histogram_quantile(df, "x", ["grp"], [0.5])._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_psi_broadcasts_all_small_frames(spark):
    """PSI's totals/grid/histogram joins are all broadcast — the only
    non-broadcast exchanges are the two histogram aggregations."""
    from zolo_spark.ops import sketches

    ref = spark.createDataFrame([("g", float(i)) for i in range(300)],
                                "grp string, x double")
    cur = spark.createDataFrame([("g", float(i + 3)) for i in range(300)],
                                "grp string, x double")
    plan = sketches.psi_drift(ref, cur, "x", ["grp"])._jdf \
        .queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_zorder_stats_single_shuffle_pure_codegen(spark):
    """The layout-stats pass is one hash aggregate over generated
    integer expressions — no UDF, one exchange."""
    from zolo_spark.ops.partitioning import zorder_layout_stats

    df = spark.createDataFrame([(i % 256, (i * 7) % 256)
                                for i in range(500)], "b0 long, b1 long")
    plan = zorder_layout_stats(df, ["b0", "b1"])._jdf \
        .queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") == 1


def test_temperature_mix_never_shuffles_corpus(spark):
    """Rates join broadcast back onto the corpus: the only exchanges
    aggregate source-sized frames, and the membership filter is
    codegen."""
    from zolo_spark.llm import corpus

    df = spark.createDataFrame(
        [(i, "s" + str(i % 3)) for i in range(300)],
        "doc_id long, lang string")
    plan = corpus.temperature_mix(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_countmin_heavy_hitters_plan_topk_broadcast_no_smj(spark):
    """The hot-key extraction must plan as a partial top-k
    (WindowGroupLimit / TakeOrdered) over a BROADCAST sketch lookup —
    a SortMergeJoin against the ≤depth×width-row sketch or a global
    sort of the candidates would be wrong at any scale."""
    from pyspark.sql import functions as F

    from zolo_spark.ops import sketches

    df = spark.createDataFrame(
        [("g", i % 40) for i in range(800)], "grp string, k long")
    plan = sketches.cm_heavy_hitters(df, "k", ["grp"], k=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan


def test_targeted_join_hot_key_probe_is_bounded(spark, tmp_path):
    """r9 VERDICT item 5: the hot-key probe must not fall back to a
    corpus-wide ``.distinct()`` at the default setting — with a
    ``candidates`` frame the corpus is scanned exactly ONCE (the
    fixed-size sketch pass), and ``targeted_salted_join`` defaults
    ``candidates`` to the SMALL side's keys."""
    from pyspark.sql import functions as F

    from zolo_spark.ops import skew, sketches

    p = str(tmp_path / "big")
    spark.createDataFrame(
        [("k%d" % (i % 50), i) for i in range(500)] + [("hot", -1)] * 200,
        "key string, v long").write.parquet(p)
    big = spark.read.parquet(p)
    small = spark.createDataFrame(
        [("k%d" % i, "d%d" % i) for i in range(10)] + [("hot", "dH")],
        "key string, label string")

    est = sketches.cm_heavy_hitters(
        big, "key", [], k=8, candidates=small.select("key"))
    plan = est._jdf.queryExecution().executedPlan().toString()
    # one parquet scan: the sketch. A second would be the corpus-wide
    # distinct the bounded candidate pass exists to avoid.
    assert plan.count("Scan parquet") == 1
    # default = no candidates -> documented small-data fallback: the
    # corpus IS the candidate frame (second scan)
    fallback = sketches.cm_heavy_hitters(big, "key", [], k=8) \
        ._jdf.queryExecution().executedPlan().toString()
    assert fallback.count("Scan parquet") == 2

    # targeted_salted_join's default candidate frame is the small side
    seen = {}
    real = sketches.cm_heavy_hitters

    def capture(df, key_col, group_cols, **kw):
        seen["candidates"] = kw.get("candidates")
        return real(df, key_col, group_cols, **kw)

    import zolo_spark.ops.sketches as sk_mod
    orig = sk_mod.cm_heavy_hitters
    sk_mod.cm_heavy_hitters = capture
    try:
        out = skew.targeted_salted_join(big, small, "key", n_salts=4,
                                        max_hot_keys=8)
        want = {tuple(r) for r in big.join(small, "key").collect()}
        assert {tuple(r) for r in out.collect()} == want
    finally:
        sk_mod.cm_heavy_hitters = orig
    cand_plan = seen["candidates"]._jdf.queryExecution() \
        .analyzed().toString()
    assert "parquet" not in cand_plan  # small-side keys, not the corpus


def test_dsir_sample_plan_matches_select_shape(spark):
    """Gumbel sampling adds one codegen expression — the plan must
    keep dsir_select's shape: partial top-k, broadcast ratio join, two
    passes over the exploded feature lineage, no Python eval."""
    from pyspark.sql import functions as F

    from zolo_spark.llm import dsir

    df = spark.createDataFrame(
        [(i, f"token{i} shared words here") for i in range(40)],
        "doc_id long, text string")
    target = df.filter(F.col("doc_id") < 5).select("doc_id")
    plan = dsir.dsir_sample(df, target, k=10)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
    # two scans of the cached feature relation — see
    # test_dsir_topk_no_global_sort_and_broadcast_ratios
    assert plan.count("InMemoryTableScan") == 2
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan


def test_edit_distance_join_no_cartesian(spark):
    """The PassJoin blocking must stay an equi-join on segment keys:
    a CartesianProduct / BroadcastNestedLoopJoin here means the
    blocking collapsed to naive all-pairs — the exact O(n²) the
    operator exists to avoid at 100 TB."""
    p = plan_of(q(spark, "llm_edit_distance_pairs"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # candidate generation joins on (L, i, c) — a hash-key join
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or \
        "ShuffledHashJoin" in p


def test_epoch_mix_no_corpus_shuffle(spark):
    """epoch_mix claims one broadcast rates join + codegen
    explode(sequence) — a shuffle exchange here means the corpus
    moved for a dimension-sized rates table."""
    p = plan_of(q(spark, "llm_epoch_mix"))
    assert n_shuffles(p) == 0, p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "Generate" in p  # the explode(sequence) epoch fan-out


def test_funnel_single_event_scale_shuffle(spark):
    """The funnel's chained min-over-user windows must share ONE
    exchange: one shuffle of the filtered events plus the final
    single-row aggregate — a per-step exchange would multiply the
    event-scale shuffles by the funnel length."""
    p = plan_of(q(spark, "events_funnel_conversion"))
    # exactly one hash exchange over the user partition; the rest of
    # the plan runs on the per-user 1-row frames / the 1-row counts
    assert n_shuffles(p) <= 3  # user window + per-user agg + 1-row agg
    assert len(re.findall(r"hashpartitioning\(user_id", p)) == 1


def test_cohort_retention_distinct_is_only_event_scale_exchange(spark):
    """Cohort retention: the distinct (user, week) pass is the ONLY
    exchange keyed on raw-event columns; everything after runs at
    users x weeks cardinality (window min, offset agg, size
    window)."""
    p = plan_of(q(spark, "events_cohort_retention"))
    # one exchange carries the week column (the distinct); the later
    # exchanges key on _u / _cohort over the aggregated frame
    assert len(re.findall(r"hashpartitioning\(_u#\d+L?, _w#", p)) == 1
    assert "BroadcastNestedLoopJoin" not in p


def test_interval_join_is_equi_join_not_nested_loop(spark):
    """The interval-overlap join must plan as a hash equi-join on
    (key, bucket) — a bare inequality join would fall into a
    broadcast nested loop, the O(|L|x|R|) shape that dies at scale."""
    p = plan_of(q(spark, "events_interval_overlap"))
    assert "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) \
        or ("BroadcastHashJoin" in p)


def test_mor_read_is_broadcast_anti_filter_no_base_shuffle(spark, tmp_path):
    """A merge-on-read table's read applies each deletion vector as a
    BROADCAST join — the base table must never shuffle for DV
    application."""
    from zolo_spark import schemas
    from zolo_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.init()
    rows = spark.createDataFrame(
        [(f"k{i}", "v", i, "sq", "qb", "sh", "cat", "whole",
          float(i), 1) for i in range(100)],
        schemas.WAREHOUSE_TABLES["items"])
    wh.commit_tx({"items": rows})
    upd = spark.createDataFrame(
        [("k5", "v", 5, "sq", "qb", "sh", "cat", "whole", 500.0, 1)],
        schemas.WAREHOUSE_TABLES["items"])
    wh.merge_tx("items", upd, ["product_name"], mode="mor")
    p = plan_of(wh.read_committed_tx("items"))
    assert "BroadcastHashJoin" in p
    # the only shuffle is the DV side's update-batch-sized DISTINCT
    # feeding the broadcast; the base table itself never exchanges
    assert n_shuffles(p) <= 1


def test_row_level_op_scan_pushes_predicate(spark, tmp_path):
    """delete_tx/update_tx's touched-file discovery must push the
    predicate INTO the parquet scan (row-group stats skip
    non-matching groups) — the property that makes the scan phase
    affordable at 100 TB. Pinned on the exact frame
    _touched_by_predicate builds."""
    from zolo_spark import schemas
    from zolo_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.init()
    rows = spark.createDataFrame(
        [(f"k{i}", "v", i, "sq", "qb", "sh", "cat", "whole",
          float(i), 1) for i in range(100)],
        schemas.WAREHOUSE_TABLES["items"])
    wh.commit_tx({"items": rows})
    txs = wh._effective_txs(wh._read_txlog())
    fields = wh._tx_fields("items", txs)
    files = wh._replay_files(txs, "items")
    probe = (wh._read_files_logical("items", fields, files)
             .filter(F.expr("zolo_id >= 90"))
             .withColumn("_f", F.input_file_name())
             .select("_f").distinct())
    p = plan_of(probe)
    assert "GreaterThanOrEqual(zolo_id,90)" in p   # pushed filter
    # file names only: the scan must not read every column
    assert re.search(r"ReadSchema: [^\n]*zolo_id", p)
    assert "weight" not in p.split("ReadSchema")[1].split("\n")[0]


def test_dv_affected_scan_pushes_envelope_and_prunes_columns(
        spark, tmp_path):
    """_dv_affected_files' classification scan must (a) read ONLY the
    DV key columns and (b) push the DV-key min/max envelope into the
    parquet scan BELOW the input_file_name tag — row-group stats then
    skip everything outside the DV neighborhood, so a key-clustered
    DV stack costs O(affected files) at 100 TB, not a full key-column
    pass. Pinned on the exact frame shape _dv_affected_files builds
    (select keys → envelope filter → file-name tag)."""
    from zolo_spark import schemas
    from zolo_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.init()
    rows = spark.createDataFrame(
        [(f"k{i}", "v", i, "sq", "qb", "sh", "cat", "whole",
          float(i), 1) for i in range(100)],
        schemas.WAREHOUSE_TABLES["items"])
    wh.commit_tx({"items": rows})
    import os as _os
    txs = wh._effective_txs(wh._read_txlog())
    fields = wh._tx_fields("items", txs)
    files = wh._replay_files(txs, "items")
    probe = (spark.read.schema(wh._physical_schema(fields))
             .parquet(*[_os.path.join(wh.path("items"), rel)
                        for rel in files])
             .select("zolo_id")
             .filter((F.col("zolo_id") >= F.lit(40))
                     & (F.col("zolo_id") <= F.lit(45)))
             .withColumn("_f", F.input_file_name())
             .select("_f").distinct())
    p = plan_of(probe)
    assert "GreaterThanOrEqual(zolo_id,40)" in p
    assert "LessThanOrEqual(zolo_id,45)" in p
    assert re.search(r"ReadSchema: [^\n]*zolo_id", p)
    assert "weight" not in p.split("ReadSchema")[1].split("\n")[0]


def test_sliding_window_single_aggregate_shuffle(spark):
    """The hopping window is explode + ONE partial-aggregated
    shuffle — a per-window pass would multiply event-scale work by
    width/slide."""
    p = plan_of(q(spark, "events_sliding_window"))
    assert n_shuffles(p) == 1
    assert "partial_count" in p  # map-side combine before the exchange


def test_path_transitions_one_user_window_exchange(spark):
    """The transition matrix costs one per-user window shuffle plus
    the small (|types|^2-key) aggregate."""
    p = plan_of(q(spark, "events_path_transitions"))
    assert len(re.findall(r"hashpartitioning\(user_id", p)) == 1
    assert n_shuffles(p) <= 2
    assert "partial_count" in p


def test_tpch_q5_broadcast_snowflake_one_fact_shuffle(spark):
    """Q5's four dimension sides all broadcast and the region filter
    pushes to its scan: the only shuffle exchange in the whole plan
    is the final per-nation aggregate — at 100 TB the plan reads one
    year of orders and never shuffles a dimension."""
    p = plan_of(q(spark, "tpch_q5_local_supplier_volume"))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 5
    assert "SortMergeJoin" not in p
    assert n_shuffles(p) == 1
    assert "EqualTo(r_name,ASIA)" in p
    assert "GreaterThanOrEqual(o_orderdate" in p


def test_tpch_q19_dnf_factored_into_both_scans(spark):
    """Catalyst must factor the cross-table DNF's single-table
    conjuncts into BOTH scans: the part scan receives the brand/size
    disjunction, the lineitem scan the quantity OR-range — without
    the factoring, every row of both tables reaches the join."""
    p = plan_of(q(spark, "tpch_q19_disjunctive_pushdown"))
    assert "Or(And(EqualTo(p_brand,Brand#12)" in p
    assert re.search(r"PushedFilters:.*l_quantity", p)
    assert "SortMergeJoin" not in p


def test_tpch_q22_broadcast_anti_join_pushed_date(spark):
    """The lapsed-customer anti join broadcasts the date-filtered
    order keys (the date bound pushed to the orders scan); the
    customer side never shuffles before its final aggregate."""
    p = plan_of(q(spark, "tpch_q22_lapsed_customers"))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "GreaterThanOrEqual(o_orderdate,2000-01-01" in p
    # 2 = the 1-ROW threshold aggregate's exchange + the final group;
    # the customer table itself is never hash-exchanged
    assert n_shuffles(p) <= 2


def test_tpch_q18_semi_join_broadcast(spark):
    """The HAVING survivors drive a BROADCAST LeftSemi back into
    orders — the fact pre-aggregate is the only lineitem-scale
    shuffle besides the final group."""
    p = plan_of(q(spark, "tpch_q18_large_volume_customer"))
    assert "LeftSemi, BuildRight" in p or re.search(
        r"BroadcastHashJoin.*LeftSemi", p)
    assert "SortMergeJoin" not in p
    assert n_shuffles(p) <= 2


def test_tpch_q7_role_joins_broadcast_with_filters(spark):
    """Nation joins twice under different roles — each broadcast with
    its own membership filter pushed to its scan; the only shuffle is
    the final aggregate."""
    p = plan_of(q(spark, "tpch_q7_volume_shipping"))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 5
    assert "In(n_name, [NATION_12,NATION_2,NATION_7])" in p \
        or "In(n_name, [NATION_2,NATION_7,NATION_12])" in p
    assert "SortMergeJoin" not in p
    assert n_shuffles(p) == 1


def test_tpch_q10_topn_window_over_aggregated_frame(spark):
    """The quarter + returnflag filters push to the fact scans; the
    top-20 window runs over the small aggregated frame (one
    hash-aggregate shuffle plus the window's single-partition pass),
    never over the facts."""
    p = plan_of(q(spark, "tpch_q10_returned_items"))
    assert "EqualTo(l_returnflag,R)" in p
    assert "GreaterThanOrEqual(o_orderdate,1997-10-01" in p
    assert re.search(r"\(\d+\) Window", p)
    assert "SortMergeJoin" not in p
    assert n_shuffles(p) <= 2
