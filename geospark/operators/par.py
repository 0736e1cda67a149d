"""Scan-parallelism repair for fanout operators (guide §2.6/§6).

A small compressed input — one parquet row group is common for
dimension-sized tables — scans as a handful of tasks no matter how many
cores the cluster has, and every narrow stage fused on top of that scan
(candidate-cell fanout, regex shingling, join probe + refine, map-side
partial aggregation) inherits the ceiling: measured on the r6 bench,
the kNN candidate join + per-query top-k ran single-threaded because
the 2.9 MB point table scanned as ONE split, leaving 31 of 32 cores
idle for ~4 s.

``fanout_repartition`` inserts one conditional round-robin exchange,
bounded by the input's own (small) bytes, to spread the downstream
fanout over the full core budget. Scale-adaptive by construction:

  * a production-sized input already scans with >= defaultParallelism
    partitions -> no-op;
  * the byte cap (``spark.geospark.fanout.repartitionMaxBytes``,
    default 2 GiB) guards the corner where the partition count is low
    while the bytes are large — there the scan itself is the bottleneck
    and a repartition would just move the problem.

The cost when it fires is one exchange of at most the cap; the win is
core_count/n_partitions on every fused stage above it.
"""

from __future__ import annotations

FANOUT_MAX_BYTES_CONF = "spark.geospark.fanout.repartitionMaxBytes"
_DEFAULT_MAX_BYTES = 2 << 30  # 2 GiB


def plan_bytes(df) -> int | None:
    """The optimizer's size estimate of ``df`` in bytes, read from the
    plan statistics without running a job; ``None`` when it is unknown.
    A plan over an RDD (``createDataFrame`` from a Python list or an
    RDD) reports Long.MaxValue, which means unknown, not huge; no real
    input reaches 2^62 bytes."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:  # estimation is advisory only — never fail a plan
        return None
    return None if size >= 1 << 62 else size


def fanout_repartition(df, *, force: bool = False):
    """Round-robin repartition ``df`` to ``defaultParallelism`` iff its
    planned partition count is below it AND its estimated size is under
    the cap. A size the optimizer does not know cannot exceed the cap,
    so the partition-count gate alone decides. Row content is unchanged
    (round-robin only moves rows); Spark's sort-before-repartition keeps
    the assignment deterministic under task retry.

    ``force=True`` skips the partition-count gate (size cap still
    applies): planned splits over-report EFFECTIVE scan parallelism
    when files have fewer row groups than splits — every split without
    a row-group midpoint reads zero rows — so a caller about to fan a
    small input out by 10-100x can pay the one bounded exchange even
    when the planner claims enough partitions."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        if not force and df.rdd.getNumPartitions() >= par:
            return df
    except Exception:  # advisory only — never fail a plan
        return df
    size = plan_bytes(df)
    cap = int(spark.conf.get(FANOUT_MAX_BYTES_CONF,
                             str(_DEFAULT_MAX_BYTES)))
    if size is not None and size > cap:
        return df
    return df.repartition(par)
