"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the configs
below are chosen to also hold on a multi-executor cluster at 100 TB:

- AQE on (runtime coalescing + skew-join splitting replaces hand-tuned
  shuffle partition counts at scale).
- Arrow on (Pandas UDF / toPandas paths are batch-columnar, not per-row).
- Session timezone pinned to UTC: the reference renders timestamps in a
  configurable tz (run_ac_extraction.py:1401-1404); we standardize on UTC so
  results are deterministic regardless of host tz.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """``min(24g, half of physical RAM)``, in megabytes."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, ram_mb // 2)}m"


def get_spark(
    app_name: str = "acdp-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "*"))
    n_shuffle = shuffle_partitions or (int(cpus) if cpus.isdigit() else 32)
    # local[N] runs N concurrent tasks inside ONE driver JVM, whose heap
    # defaults to 1g — ~20 MB of execution memory per task at N=32, found
    # as a heap OOM in the 10x scale smoke (dedup_ngram_jaccard) and as
    # needless shuffle spill elsewhere. Size the heap like the executor it
    # is standing in for, but never above half the host's physical RAM:
    # the JVM would be killed before it collected. Only effective for
    # sessions THIS factory creates (the external driver owns its own);
    # override via SPARK_GRAFT_DRIVER_MEM.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions by BYTES (the advisory
        # target), not by core count: with parallelismFirst at its true
        # default, AQE refuses to coalesce below one reduce task per
        # core and KB-sized shuffles schedule 32 tasks of launch
        # overhead (measured -16% from respecting the advisory on the
        # scan-agg tail). The advisory VALUE steers two opposing costs
        # — too big serializes CPU-dense stages downstream of MB-sized
        # shuffles (64m: pair-explosion graph family +75%), too small
        # multiplies output files on coalesce-before-write paths (1m:
        # jsonl/span stores +60%) — and a quiet-host interleaved sweep
        # over graph + write-heavy + scan-agg classes picked 4m as the
        # U-curve minimum (35.9 s vs 38.9 @1m, 41.9 @16m, and every
        # class at-or-better than the parallelismFirst default).
        # Coalescing only ever MERGES the initial partitions, so a
        # small advisory is scale-safe (it under-merges, never
        # over-splits); raise SPARK_GRAFT_ADVISORY_PARTITION to
        # 64-256m on clusters where fewer, larger reduce partitions
        # and >=128 MB output files matter more than tail parallelism
        # (guide §2.2/§6/§9).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "4m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The advisory above is ALSO AQE's skew-join SPLIT target: with a
        # 4m advisory, a multi-GB skewed partition on a cluster would
        # shatter into thousands of ~4 MB tasks. The threshold below is
        # Spark's default, pinned explicitly to document the interplay:
        # splits only fire for partitions >256 MB, which cannot occur at
        # local bench scale (KB-MB shuffles), so the 4m advisory never
        # reaches the skew path here; cluster deployments that keep
        # skew-splitting sane must raise SPARK_GRAFT_ADVISORY_PARTITION
        # to 64-256m (the documented cluster setting above), which
        # restores a sensible split size as well.
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256m")
        # Shuffle/spill codec (guide §2.3): lz4 is Spark's default; zstd
        # trades CPU for ratio. Banked interleaved A/B at sf0.1 (r14,
        # OPTIMIZATION_r14.md): at this engine's KB-MB shuffle sizes the
        # two are within host noise locally, so the default stays lz4;
        # at 100 TB, where shuffle bytes cross NICs, zstd's ~2x ratio is
        # usually worth the CPU — flip SPARK_GRAFT_IO_CODEC=zstd on
        # clusters and re-measure stage times (no universal answer).
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # stage progress bars interleave with stdout and have truncated
        # harness-captured artifacts; logs carry the same information
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def pin_session_defaults(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs on a session we did not create.

    The correctness driver hands us its own SparkSession; timestamp
    formatting (``date_format``/``from_unixtime``) renders in the session
    timezone, so we pin UTC for deterministic, oracle-matching output.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


@contextmanager
def scoped_advisory_partition(spark: SparkSession, size: str):
    """Scope ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` around
    one query's EXECUTION (the ``scoped_state_partitions`` pattern for
    batch plans).

    The session default (4m) is the all-class U-curve minimum, but the
    advisory steers two opposing costs and a handful of query classes sit
    far from that optimum (r13 change 8, r13 verdict items 1/3): the
    pair-mining class (MB-scale shuffles feeding CPU-dense in-row array
    stages — prefix filtering, basket pair expansion) loses ~2x when its
    mid-stages coalesce to a handful of tasks, and wants a SMALLER target
    so AQE keeps those stages wide. AQE reads the conf at execution time,
    not plan-build time, so callers must run their action (or an eager
    ``localCheckpoint``) INSIDE the scope. Coalescing only ever merges
    the initial shuffle partitions, so a small scoped advisory remains
    scale-safe at 100 TB: it under-merges (more, smaller reduce tasks —
    exactly what a CPU-dense consumer wants), never over-splits, and the
    write-path file sizing of other queries is untouched because the
    scope ends with the query.

    Single-threaded use only: the scope sets SESSION-wide conf, so do not
    enter it while other threads run Spark work on the same session (a
    streaming query's micro-batches, ``run_pipeline``'s persist pool, or
    another scope). Their jobs would run under the scoped advisory, and
    overlapping scopes restore each other's values out of order."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, size)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def run_with_advisory(spark: SparkSession, size: str, df_fn):
    """Execute ``df_fn()`` eagerly under :func:`scoped_advisory_partition`
    and return the materialized frame — the one-liner for declared
    queries in the CPU-dense class (pair mining, iterative graph
    shapes): their MB-scale shuffles feed in-row array/join stages that
    the session's 4m advisory coalesces down to a handful of tasks.
    Results are unchanged (partitioning never reaches declared output;
    the driver consumes the checkpointed rows)."""
    with scoped_advisory_partition(spark, size):
        return df_fn().localCheckpoint(eager=True)
