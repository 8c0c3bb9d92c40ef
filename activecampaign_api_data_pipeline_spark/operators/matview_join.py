"""Incrementally maintained JOIN view — delta-join maintenance.

The hard case of incremental view maintenance: a grouped aggregate over
``A ⋈ B`` where BOTH fact sides arrive in batches. The classic delta
algebra (append-only relations): when a batch ``ΔA`` lands,

    ΔV = partials( ΔA ⋈ B_so_far )

and symmetrically for ``ΔB`` — every (a, b) pair is counted exactly
once because the LATER-arriving row's batch sees the earlier row in
history (single-writer contract: one append completes, history write
included, before the next starts; a crashed append replays before any
new batch, the Structured Streaming retry discipline).

Layout (composing the two store disciplines this repo already has):

    path/
      a/batch=<key>/bucket=<n>/   join-key-bucketed history, side A
      b/batch=<key>/bucket=<n>/   join-key-bucketed history, side B
      view/                       a matview store (operators/matview.py):
                                  partials + params + applied ledger
      params.json                 join_key / group_cols / measure /
                                  n_buckets + empty-delta applied ledger

Why this scales:

- **History writes are idempotent**: each batch lands under its own
  hive ``batch=<key>`` dir via mode=overwrite — a replayed batch
  rewrites the same partitions bit-for-bit instead of duplicating.
- **The delta join never scans full history**: the batch's join keys
  hash to a bounded bucket set (collected as one ≤ ``n_buckets`` scalar
  list), the other side's read prunes to those hive ``bucket=``
  partitions (PartitionFilters, metadata-only), and rows inside a
  bucket are written sorted by join key so parquet row-group stats
  prune further. Per-append cost is O(batch ⋈ touched-bucket history),
  the indexed-IVM bound — never O(|A| ⋈ |B|).
- **The view component is the matview store**: partials fold through
  ``append_matview`` under the same batch-key replay guard, reads merge
  partials without ever seeing fact volume, ``compact_matview`` applies
  unchanged. An empty delta leaves no partials tag to guard on, so its
  batch key is recorded in THIS store's params ledger instead (replay
  of an empty-delta batch against GROWN opposite history would
  otherwise double-count the pairs a later batch already folded).

No reference-pipeline analog (`run_ac_extraction.py` re-joins full
frames per run); this extends ``operators/matview.py`` from single-
table views to join views.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from activecampaign_api_data_pipeline_spark.operators import matview as MV
from activecampaign_api_data_pipeline_spark.storage import (
    _heal,
    _swap,
    path_exists,
    read_text_sidecar,
    write_text_sidecar,
)


def load_join_params(spark: SparkSession, path: str) -> dict:
    raw = read_text_sidecar(spark, f"{path}/params.json")
    if raw is None:
        raise FileNotFoundError(f"no params sidecar at {path}/params.json")
    return json.loads(raw)


def _spec_source_cols(spec: list[dict]) -> list[str]:
    """Source columns a measure spec reads from the joined delta:
    the measure col plus the max_by/min_by ``by`` column."""
    cols: list[str] = []
    for m in spec:
        for c in (m["col"], m.get("by")):
            if c and c not in cols:
                cols.append(c)
    return cols


def create_join_view(
    spark: SparkSession,
    path: str,
    join_key: str,
    group_cols: list[str],
    measure: str | None = None,
    n_buckets: int = 16,
    spec: list[dict] | None = None,
) -> None:
    """Declare the view: both sides must carry ``join_key``; the joined
    delta must surface ``group_cols`` + the measure columns (each may
    live on either side). Params sidecar lands atomically; histories and
    the view materialize on first append.

    ``measure`` keeps the original single-measure layout; ``spec`` (r11
    verdict item 7) is a matview measure-SPEC list — multi-measure, avg
    as a (sum, count) pair, HLL sketch, max_by/min_by — maintained over
    the delta join through the SAME ``matview`` partial/merge layer
    (``_spec_partial_aggs`` / ``_spec_merge_aggs`` are reused verbatim
    via the spec dispatch inside ``append_matview``/``read_matview``)."""
    if (measure is None) == (spec is None):
        raise ValueError("exactly one of measure / spec is required")
    params: dict = {
        "join_key": join_key,
        "group_cols": list(group_cols),
        "n_buckets": n_buckets,
        "applied": [],
    }
    if spec is not None:
        params["spec"] = list(spec)
    else:
        params["measure"] = measure
    write_text_sidecar(spark, f"{path}/params.json", json.dumps(params, sort_keys=True))


def _applied(spark: SparkSession, path: str, p: dict) -> set[str]:
    """Replay guard: the view's live tags + its compaction ledger + this
    store's empty-delta ledger."""
    got = set(p.get("applied", []))
    if path_exists(spark, f"{path}/view/params.json"):
        got |= MV.applied_batches_full(spark, f"{path}/view")
    return got


def applied_keys(spark: SparkSession, path: str) -> set[str]:
    """Public form of the replay-guard set (side-qualified batch keys):
    lets a single-writer caller — the streaming sink — seed the guard
    ONCE per run and skip the per-append tag scan thereafter."""
    return _applied(spark, path, load_join_params(spark, path))


def append_join_side(
    batch: DataFrame, path: str, side: str, batch_key: str,
    skip_applied_check: bool = False,
) -> bool:
    """Fold one batch of side ``a`` or ``b`` into the join view.

    Sequence (each step idempotent under the replay-before-new-batches
    contract): (1) skip if ``batch_key`` is in the applied set; (2) land
    the batch in history under its own ``batch=`` dir, bucketed and
    key-sorted; (3) delta-join it against the OTHER side's history,
    pruned to the batch's bucket set; (4) fold the delta's partials into
    the view (the matview guard makes a crash-replay of this step a
    no-op); (5) an empty delta records its key in params instead.

    ``skip_applied_check=True`` is for single-writer callers that
    already consulted :func:`applied_keys` for this exact side-qualified
    key in the same logical transaction (the ``append_matview``
    contract) — the guard's view-tag scan is one Spark job per append.
    """
    assert side in ("a", "b")
    spark = batch.sparkSession
    p = load_join_params(spark, path)
    key = f"{side}:{batch_key}"
    if not skip_applied_check and key in _applied(spark, path, p):
        return False
    jk, nb = p["join_key"], p["n_buckets"]
    bucketed = batch.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(jk)), F.lit(nb)).cast("int")
    )
    # ONE pass over the batch answers both questions every append needs —
    # is it empty, and which buckets does it touch — where the old shape
    # paid a separate isEmpty() job before the write and a distinct()
    # job after it (the batch is the small side; this is a bounded
    # ≤ n_buckets collect either way)
    touched = [r["bucket"] for r in bucketed.select("bucket").distinct().collect()]
    if not touched:
        # ledger the key and write NO history dir: an empty batch=
        # directory has no parquet footers and would break every later
        # history read with UNABLE_TO_INFER_SCHEMA (hypothesis-caught)
        p["applied"] = sorted(set(p.get("applied", [])) | {key})
        write_text_sidecar(spark, f"{path}/params.json", json.dumps(p, sort_keys=True))
        return True
    (
        # exactly one task per bucket: file sets align 1:1 with the hive
        # bucket= dirs (the session's 32 shuffle partitions would spray
        # the same nb dirs from 4x the tasks for nothing)
        bucketed.repartition(int(nb), "bucket")
        .sortWithinPartitions(jk)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/{side}/batch={batch_key}")
    )
    other = "b" if side == "a" else "a"
    view = f"{path}/view"
    if path_exists(spark, f"{path}/{other}"):
        hist = spark.read.option("basePath", f"{path}/{other}").parquet(
            f"{path}/{other}"
        )
        hist = hist.filter(F.col("bucket").isin(touched)).drop("batch", "bucket")
        delta = bucketed.drop("bucket").join(hist, jk)
        spec = p.get("spec")
        delta = delta.select(
            *p["group_cols"],
            *(_spec_source_cols(spec) if spec else [p["measure"]]),
        )
        # materialize the delta ONCE: isEmpty() and the fold below would
        # otherwise each execute the bucket-pruned join (2x the append's
        # dominant cost); the checkpoint holds O(batch ⋈ touched-bucket
        # history) rows, exactly the bound the append already pays
        delta = delta.localCheckpoint(eager=True)
        empty = delta.isEmpty()
        if not path_exists(spark, f"{view}/params.json"):
            if spec:
                MV.build_matview_multi(
                    delta, view, p["group_cols"], spec, batch_key=key
                )
            else:
                MV.build_matview(
                    delta, view, p["group_cols"], p["measure"], batch_key=key
                )
        else:
            # append dispatches on the VIEW's frozen params (single
            # measure or spec) — the caller never restates the spec.
            # Replay was already ruled out by the _applied superset
            # check at the top of this append, so the matview's own
            # tag scan (one job) is skipped.
            MV.append_matview(delta, view, key, skip_replay_check=True)
        folded = not empty
    else:
        folded = False
    if not folded:
        # no partials row carries this key — ledger it here so a replay
        # against grown opposite history cannot double-count
        p["applied"] = sorted(set(p.get("applied", [])) | {key})
        write_text_sidecar(spark, f"{path}/params.json", json.dumps(p, sort_keys=True))
    return True


def read_join_view(spark: SparkSession, path: str) -> DataFrame:
    """The maintained join-view result — one merge over the view's
    partials (``matview.read_matview``); neither history is scanned."""
    p = load_join_params(spark, path)
    view = f"{path}/view"
    if not path_exists(spark, f"{view}/params.json"):
        # no pair has ever materialized: an empty-but-typed frame would
        # need a schema no history may exist to derive — callers that
        # read before any join delta get an explicit error, not a guess
        raise FileNotFoundError(f"join view at {path} has no materialized delta yet")
    return MV.read_matview(spark, view)


def compact_join_history(spark: SparkSession, path: str, side: str) -> None:
    """Fold a side's per-batch history dirs into one ``batch=__compacted__``
    dir — the small-file maintenance a year of micro-batches needs (one
    dir + one file set per batch per side otherwise). Pure layout: the
    delta join reads history CONTENT (the ``batch`` column never enters
    a join), so every future delta is bit-identical; bucket partitioning
    and the in-bucket join-key sort are preserved, and the replay guard
    is untouched because it never consults history dirs (view tags +
    params ledger only). Staged at ``<side>__compacting`` and committed
    under ``storage``'s "Commit protocol"."""
    assert side in ("a", "b")
    live = f"{path}/{side}"
    staging = f"{live}__compacting"
    if not _heal(spark, live, staging):
        raise FileNotFoundError(f"compact_join_history: no history at {live}")
    p = load_join_params(spark, path)
    hist = spark.read.option("basePath", live).parquet(live).drop("batch")
    (
        hist.repartition(int(p["n_buckets"]), "bucket")
        .sortWithinPartitions(p["join_key"])
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{staging}/batch=__compacted__")
    )
    _swap(spark, live, staging)
