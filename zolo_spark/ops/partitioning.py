"""Partition-width policy: one :func:`fan_out`.

Parquet scan parallelism follows file bytes (``maxPartitionBytes``),
which is the right default when cost ∝ bytes. The text/vector
operators break that assumption: a few MB of documents fan out into
millions of shingle grams / hash folds, so a single-file table plans
one scan task and serializes the whole CPU-bound pipeline on one
core. :func:`fan_out` sits directly above such per-row work and
widens a narrow input to the session's parallelism — one cheap
shuffle of the raw rows buys full-width execution of everything
downstream.

The decision reads only free inputs — Catalyst's ``sizeInBytes``
estimate, the optimized logical plan, the scan's file index and
session confs — and launches no Spark job. (``df.rdd`` would: under
AQE it materializes every upstream shuffle/broadcast stage just to
report a partition count.)

``target`` = ``defaultParallelism``; ``W`` = the width the frame will
run at. Repartition to ``target`` iff ``W < target``, else return
``df`` as is.

============================  ==========================================
input                         ``W``
============================  ==========================================
streaming frame               untouched — partition shape is the
                              source's concern
estimate ≥ ``target ×         untouched — wide by construction: scans
maxPartitionBytes``           split files at ``maxPartitionBytes``, and
                              AQE keeps post-shuffle frames that big
                              near session parallelism
root, through narrow unary    ``n`` — AQE never coalesces an explicit
nodes, is a ``Repartition``   partition count
/ ``RepartitionByExpression``
with a fixed count ``n``
(incl. ``coalesce(n)``)
root reaches a file scan      Spark's split count: the ``maxSplitBytes``
through narrow nodes only     rule over the scan's file bytes, file
                              count and ``maxPartitionBytes``
anything else (aggregate,     ``min(shuffle.partitions, ⌈estimate /
join, window, union,          1 MB⌉)`` — AQE's coalescing floor
repartition by column,
in-memory data)
============================  ==========================================

Narrow unary nodes are the ones that keep their child's partitions
(projections, filters, generators, samples, Python UDF evaluation).
Each decision emits one DEBUG record on the ``zolo_spark`` logger
carrying the row taken, the estimate, ``W`` and ``target``.

At 100 TB the corpus arrives in thousands of files and its estimate
clears the second row, so :func:`fan_out` is a no-op there by
construction. Estimate error costs one small exchange or a narrow
stage, never correctness: every branch returns the same rows.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger("zolo_spark")

# unary logical nodes that run at their child's width
_NARROW = frozenset({"Project", "Filter", "Generate", "Sample",
                     "ArrowEvalPython", "BatchEvalPython",
                     "MapInPandas", "MapInArrow"})
# spark.sql.adaptive.coalescePartitions.minPartitionSize default
_AQE_MIN_PARTITION_BYTES = 1 << 20


def plan_size_estimate(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate of the optimized plan — FREE
    (no Spark job). Used only to pick between bit-identical plans, so
    estimate error costs time, never correctness."""
    return int(df._jdf.queryExecution().optimizedPlan()
               .stats().sizeInBytes())


def _sql_conf(spark):
    return spark._jsparkSession.sessionState().conf()


def _max_partition_bytes(spark) -> int:
    """``spark.sql.files.maxPartitionBytes`` as an exact byte count
    however the conf string spells it."""
    return int(_sql_conf(spark).filesMaxPartitionBytes())


def _scan_width(spark, relation) -> int:
    """Partitions Spark plans for a scan of ``relation``: files split
    at ``FilePartition.maxSplitBytes``, then packed greedily with an
    open cost per split — computed for files of the mean size."""
    conf = _sql_conf(spark)
    location = relation.location()
    total = int(location.sizeInBytes())
    n_files = max(len(location.inputFiles()), 1)
    open_cost = int(conf.filesOpenCostInBytes())
    min_parts = conf.filesMinPartitionNum()
    min_parts = (min_parts.get() if min_parts.isDefined()
                 else spark._jsparkSession.leafNodeDefaultParallelism())
    split = min(_max_partition_bytes(spark),
                max(open_cost, (total + n_files * open_cost) // min_parts))
    size = total // n_files
    chunks = max(-(-size // split), 1)
    tail = size - (chunks - 1) * split
    # full-size chunks fill a partition each; tails share one
    tails_per_part = 1 + (split - tail) // max(tail + open_cost, 1)
    return n_files * (chunks - 1) + -(-n_files // tails_per_part)


def _decide(df: DataFrame, target: int) -> tuple[str, int | None, int | None]:
    """(table row, estimate, W) for ``df`` — see the module docstring."""
    if df.isStreaming:
        return "streaming", None, None
    spark = df.sparkSession
    plan = df._jdf.queryExecution().optimizedPlan()
    est = int(plan.stats().sizeInBytes())
    if est >= target * _max_partition_bytes(spark):
        return "big_estimate", est, None
    node = plan
    while node.nodeName() in _NARROW:
        node = node.children().apply(0)
    name = node.nodeName()
    if name == "Repartition":
        return "repartition", est, int(node.numPartitions())
    if (name == "RepartitionByExpression"
            and node.optNumPartitions().isDefined()):
        return "repartition", est, int(node.optNumPartitions().get())
    if (name == "LogicalRelation" and node.relation().getClass()
            .getSimpleName() == "HadoopFsRelation"):
        return "file_scan", est, _scan_width(spark, node.relation())
    shuffle = int(_sql_conf(spark).numShufflePartitions())
    return "derived", est, min(shuffle, -(-est // _AQE_MIN_PARTITION_BYTES))


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session's ``defaultParallelism`` iff
    it will run narrower; otherwise return ``df`` itself. Launches no
    Spark job — decision table in the module docstring."""
    target = df.sparkSession.sparkContext.defaultParallelism
    row, est, width = _decide(df, target)
    _log.debug("fan_out row=%s estimate=%s width=%s target=%s",
               row, est, width, target)
    if width is not None and width < target:
        return df.repartition(target)
    return df


def zorder_key(bin_cols: list, bits: int = 8):
    """Morton (Z-order) key over pre-binned integer dimensions — the
    multi-dimensional clustering key behind Delta's OPTIMIZE ZORDER
    and the layout a 100 TB warehouse wants when queries filter on
    several columns at once: sorting files by the interleaved key
    keeps every dimension's value range TIGHT within each file, so
    min/max file statistics prune scans on ANY filtered dimension,
    not just the leading sort column.

    ``bin_cols`` are integer columns already normalized to
    ``[0, 2^bits)`` (use :func:`~zolo_spark.ops.sketches.
    histogram_bins`-style bucketing for doubles). The interleave is a
    sum of ``bits × len(bin_cols)`` pure-integer terms —
    ``((col // 2^i) % 2) · 2^(i·D + d)`` — whole-stage codegen in
    Spark and byte-identical in ANSI SQL, no UDF.
    """
    from pyspark.sql import functions as F

    d_count = len(bin_cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for d, c in enumerate(bin_cols):
            bit = F.shiftright(c.cast("long"), i) % 2
            z = z + bit * F.lit(1 << (i * d_count + d)).cast("long")
    return z


def zorder_layout_stats(df: DataFrame, bin_cols: list[str],
                        bits: int = 8, file_bits: int = 8) -> DataFrame:
    """Per-"file" min/max bounds of every dimension after Z-order
    layout: keys are bucketed into ``2^file_bits`` contiguous z-ranges
    (a stand-in for range-partitioned files) and each bucket reports
    its per-dimension bounds — exactly the footer statistics a reader
    would prune against. Deterministic and SQL-replayable; the
    locality property (bounded per-bucket ranges on EVERY dimension)
    is pinned by pytest."""
    from pyspark.sql import functions as F

    z = zorder_key([F.col(c) for c in bin_cols], bits)
    total_bits = bits * len(bin_cols)
    bucket = F.shiftright(z, max(total_bits - file_bits, 0))
    aggs = []
    for c in bin_cols:
        aggs += [F.min(c).alias(f"{c}_lo"), F.max(c).alias(f"{c}_hi")]
    return (df.select(bucket.alias("zbucket"), *bin_cols)
            .groupBy("zbucket")
            .agg(F.count(F.lit(1)).alias("n"), *aggs))
