"""Incrementally maintained approximate-distinct (HLL sketch) store.

The one aggregate the matview family cannot maintain: COUNT(DISTINCT x)
is not distributive — per-batch counts don't merge — so an exactly-
maintained distinct view would have to keep every key ever seen
(state ∝ cardinality, the thing a 100 TB pipeline cannot afford per
group). The classical fix is a MERGEABLE sketch: HyperLogLog register
arrays merge by element-wise max, which is commutative, associative and
idempotent, so per-batch sketches fold into exactly the sketch of the
union — O(batch) appends with fixed 2^lg_k-register state per key,
straight from the Flajolet et al. HLL line and the Apache DataSketches
implementation Spark 3.5+ exposes as ``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate`` (all JVM-side, no Python).

Layout and lifecycle mirror ``operators/matview.py`` verbatim (same
sidecar protocol, same ``_batch`` replay guard, same crash-safe
compaction swap); the partial column is the sketch binary instead of
count/sum/min/max scalars.

Estimator fine print (measured, pinned by tests): DataSketches keeps an
order-dependent HIP estimator on a directly-built sketch but falls back
to the composite (register-only) estimator once sketches are UNIONED.
Consequently a 1-batch store can estimate slightly differently from a
2+-batch store of the same facts (HIP vs composite — both within the
error bound), while everything downstream of a union is exactly
deterministic: estimates are SLICING-INVARIANT for any >= 2-batch
ingest history, and compaction (which stores the union-folded binary)
is estimate-preserving bit-for-bit. The store contracts are therefore:

- **O(batch) appends** with the matview ``_batch``-key replay guard
  (at-least-once redelivery cannot double-fold — harmless for max-merge
  registers, but the guard keeps the ``applied`` ledger truthful).
- **Slicing invariance**: ``read`` after any >= 2-batch ingest of the
  same facts yields identical estimates (union = register max, HIP
  discarded).
- **Estimate-preserving compaction**: fold keeps the unioned binary, so
  reads before/after are bit-identical; only partials rows drop.
- **Bounded error**: |estimate - exact| <= eps * exact with the
  standard HLL eps ~= 1.04 / sqrt(2^lg_k) (~1.6% at the default
  lg_k=12); oracle-paired queries assert |est - exact| <= exact/15
  (~6.7%, ~4.1 sigma at lg_k=12 — wide enough that a legitimate
  estimate essentially never flips the est_ok hash bit across groups
  and scaled runs, per the r10 advice).

No reference-pipeline analog (``scripts/run_ac_extraction.py`` has no
approximate aggregates at all); this is the sketch-state extension of
the maintained-view family for 100 TB distinct-count dashboards.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from activecampaign_api_data_pipeline_spark.operators.matview import (
    applied_batches_full,
    compact_with_fold,
    load_matview_params,
)
from activecampaign_api_data_pipeline_spark.storage import write_text_sidecar


def _sketch_partials(
    key_cols: list[str], col: str, lg_k: int, batch_key: str
):
    def agg(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(*key_cols)
            .agg(F.hll_sketch_agg(col, F.lit(lg_k)).alias("sk"))
            .withColumn("_batch", F.lit(batch_key))
        )

    return agg


def build_hll_view(
    facts: DataFrame,
    path: str,
    key_cols: list[str],
    col: str,
    lg_k: int = 12,
    batch_key: str = "batch_00000000",
) -> None:
    """Materialize the sketch view from the first fact batch: one
    grouped sketch aggregate (map-side combinable — executors merge
    register arrays before the shuffle, so one partial row per key per
    task crosses the wire, never fact rows), params sidecar last (the
    matview crashed-build rule: no params.json == rebuild)."""
    spark = facts.sparkSession
    partials = _sketch_partials(key_cols, col, lg_k, batch_key)(facts)
    partials.write.mode("overwrite").parquet(f"{path}/partials")
    write_text_sidecar(
        spark, f"{path}/params.json",
        json.dumps({"key_cols": list(key_cols), "col": col, "lg_k": lg_k}, sort_keys=True),
    )


def append_hll_view(
    batch: DataFrame, path: str, batch_key: str, skip_replay_check: bool = False
) -> bool:
    """Fold one fact batch into the view: sketch THE BATCH ONLY and
    append its partial rows — history is never read on ingest. Returns
    False (no-op) when ``batch_key`` was already applied.

    ``skip_replay_check=True`` follows the ``append_matview`` contract:
    for callers that already consulted :func:`applied_batches_full` for
    this exact key in the same logical transaction (the streaming sink's
    once-per-run seeded guard), the tag scan is one redundant Spark job
    per append."""
    spark = batch.sparkSession
    # replay guard across compactions: live tags ∪ the compaction
    # ledger — shared verbatim with the matview (same store layout)
    if not skip_replay_check and batch_key in applied_batches_full(spark, path):
        return False
    p = load_matview_params(spark, path)
    partials = _sketch_partials(p["key_cols"], p["col"], p["lg_k"], batch_key)(
        batch
    )
    partials.write.mode("append").parquet(f"{path}/partials")
    return True


def read_hll_view(spark: SparkSession, path: str) -> DataFrame:
    """The maintained estimates: union per-batch sketches per key and
    estimate — one aggregate over the partials table (rows ~= keys ×
    batches since the last compaction); fact volume never enters the
    read path. Column ``n_distinct_est`` is a BIGINT."""
    p = load_matview_params(spark, path)
    return (
        spark.read.parquet(f"{path}/partials")
        .groupBy(*p["key_cols"])
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_distinct_est")
        )
    )


def compact_hll_view(spark: SparkSession, path: str) -> None:
    """Fold all partials into one sketch per key (tag ``__compacted__``)
    through :func:`matview.compact_with_fold` — the shared compaction
    (ledger-before-swap, ``storage``'s "Commit protocol") with the HLL
    union as the fold. The stored binary is the union result itself, so
    reads are bit-identical before/after (measured: estimate(folded) ==
    estimate(union of originals))."""

    def fold(partials, p):
        return partials.groupBy(*p["key_cols"]).agg(
            F.hll_union_agg("sk").alias("sk")
        )

    compact_with_fold(spark, path, fold, "compact_hll_view")
