"""Incrementally maintained materialized aggregate (matview) store.

The last missing persisted-store pattern next to the minhash / block /
decontam / ANN / inverted-index / CC stores: those maintain INDEXES,
this maintains a QUERY RESULT — a grouped aggregate over an append-only
fact stream, kept current by folding each new batch's PARTIAL
aggregates into parquet state, never re-scanning history (the classic
incremental-view-maintenance result for distributive aggregates:
count/sum/min/max partials merge associatively, so view(facts ∪ batch)
== merge(partials(facts), partials(batch))).

Layout (the ``text_index``/``ann_index`` sidecar discipline):

    path/
      partials/                parquet: key cols + partial agg cols
                               + ``_batch`` (ingest provenance)
      params.json              frozen spec: key cols + measure col

Contracts:

- **O(batch) appends**: ``append_matview`` aggregates ONLY the batch
  (map-side combinable, one small shuffle of partial rows — one row per
  distinct key in the batch, never the fact rows) and appends one file
  set. History is never read on ingest.
- **Replay idempotency, explicitly**: a batch key already present in
  ``partials`` is SKIPPED (one metadata-sized distinct scan of the
  ``_batch`` column — no full read). A crashed-and-replayed micro-batch
  therefore cannot double-count, which a content-blind additive fold
  would (the failure mode that makes naive IVM wrong under
  at-least-once delivery).
- **Reads merge partials**: ``read_matview`` is one aggregate over the
  partials table (size ≈ distinct keys × batches seen since the last
  compaction), so read cost is decoupled from fact volume entirely.
- **Compaction bounds read cost**: ``compact_matview`` folds all
  partials into one row per key under a single ``__compacted__`` batch
  tag through the crash-safe staging/rename swap — read results are
  bit-identical before and after (merge is associative), only row/file
  counts drop. The LSM idea applied to aggregate state.

No reference-pipeline analog (`run_ac_extraction.py` recomputes every
digest from scratch per run); this is the maintained-gold extension of
``storage.TableStore``'s medallion snapshots.

100 TB shape: facts never land in the store at all — only per-key
partials, which are smaller than the fact stream by the batch's
rows-per-key factor and shuffle map-side-combined. The maintained view
of a 100 TB fact table is read in one scan of a few-GB partials table.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from activecampaign_api_data_pipeline_spark.storage import (
    _heal,
    _swap,
    read_text_sidecar,
    write_text_sidecar,
)

COMPACTED = "__compacted__"


def _partial_aggs(measure: str) -> list:
    """The distributive-aggregate partials: each merges associatively
    (sum-of-sums, min-of-mins...), which is WHY the view can be
    maintained without rescanning facts."""
    return [
        F.count("*").alias("n_rows"),
        F.sum(measure).alias("sum_m"),
        F.min(measure).alias("min_m"),
        F.max(measure).alias("max_m"),
    ]


# ---------------------------------------------------------------------------
# Measure SPECS — the r10-verdict generalization: one maintained view
# over MULTIPLE measures, avg as a (sum, count) partial pair, and an
# approximate-distinct measure as an HLL sketch partial (composing the
# register-max merge ``hll_store`` proves). The params schema gains an
# optional ``spec`` list; every lifecycle function (append / read /
# compact / stream) dispatches on its presence, so the replay guard,
# the applied ledger and the crash-safe compaction swap are SHARED with
# the single-measure layout rather than reimplemented.
#
# A spec is a list of measure dicts:
#   {"col": "value",   "aggs": ["count", "sum", "avg", "min", "max"]}
#   {"col": "user_id", "agg": "hll", "lg_k": 12}
#   {"col": "value",   "agg": "max_by", "by": "es"}   (also "min_by")
#
# Partials hold the minimal distributive closure of the request: avg is
# NOT distributive but (sum, non-null count) is, so avg stores that pair
# and the READ computes sum/cnt; count-distinct is not distributive but
# the HLL register vector is (merge = register max), so the partial is
# the sketch binary and the read estimates. Partial columns per scalar
# measure c: cnt_c / sum_c / min_c / max_c (only those the requested
# aggs need); per HLL measure: hll_c (binary).
#
# max_by/min_by (r11 verdict item 8 — "latest value per key", the
# reference's A2/W1 gold semantics, as a maintainable measure): the
# partial is max(struct(by, col)) — struct comparison is lexicographic,
# so (max by, argmax value) pairs merge associatively and ties on `by`
# break DETERMINISTICALLY on the value itself. Rows where `by` OR the
# value is NULL are EXCLUDED (SQL-aggregate null semantics, and it
# keeps the tiebreak total — cross-engine null-ordering inside struct
# comparisons is exactly the divergence this avoids). The read
# extracts the value field as `{col}_at_max_{by}` / `{col}_at_min_{by}`.
# ---------------------------------------------------------------------------

_SCALAR_AGGS = ("count", "sum", "avg", "min", "max")


def _spec_partial_cols(m: dict) -> list[str]:
    c = m["col"]
    if m.get("agg") == "hll":
        return [f"hll_{c}"]
    if m.get("agg") in ("max_by", "min_by"):
        if not m.get("by"):
            raise ValueError(f"{m['agg']} measure on {c} needs a 'by' column")
        kind = "maxby" if m["agg"] == "max_by" else "minby"
        return [f"{kind}_{c}_{m['by']}"]
    want = set(m["aggs"])
    bad = want - set(_SCALAR_AGGS)
    if bad:
        raise ValueError(f"unsupported aggs for {c}: {sorted(bad)}")
    cols = []
    if want & {"count", "avg"}:
        cols.append(f"cnt_{c}")
    if want & {"sum", "avg"}:
        cols.append(f"sum_{c}")
    if "min" in want:
        cols.append(f"min_{c}")
    if "max" in want:
        cols.append(f"max_{c}")
    return cols


def _spec_partial_aggs(spec: list[dict]) -> list:
    """Batch-side partials for a measure spec — every column merges
    associatively (the IVM precondition), including the HLL binary
    whose merge is register max."""
    aggs = [F.count("*").alias("n_rows")]
    for m in spec:
        c = m["col"]
        if m.get("agg") == "hll":
            aggs.append(
                F.hll_sketch_agg(c, F.lit(int(m.get("lg_k", 12)))).alias(f"hll_{c}")
            )
            continue
        if m.get("agg") in ("max_by", "min_by"):
            (pc,) = _spec_partial_cols(m)
            by = m["by"]
            # NULL by/value rows are excluded (the when() yields a NULL
            # struct, which min/max skip); field names are fixed so the
            # partial schema is stable across batches
            pair = F.when(
                F.col(by).isNotNull() & F.col(c).isNotNull(),
                F.struct(F.col(by).alias("b"), F.col(c).alias("v")),
            )
            agg = F.max(pair) if m["agg"] == "max_by" else F.min(pair)
            aggs.append(agg.alias(pc))
            continue
        for pc in _spec_partial_cols(m):
            kind = pc.split("_", 1)[0]
            aggs.append(
                {
                    "cnt": F.count(c),
                    "sum": F.sum(c),
                    "min": F.min(c),
                    "max": F.max(c),
                }[kind].alias(pc)
            )
    return aggs


def _spec_merge_aggs(spec: list[dict]) -> list:
    """Partials-table merge (read AND compaction fold share it):
    sum-of-counts/sums, min-of-mins, max-of-maxs, union-of-sketches —
    keeping the BINARY for sketches so compaction stays
    estimate-preserving (the hll_store contract)."""
    aggs = [F.sum("n_rows").alias("n_rows")]
    for m in spec:
        for pc in _spec_partial_cols(m):
            kind = pc.split("_", 1)[0]
            aggs.append(
                {
                    "cnt": F.sum(pc),
                    "sum": F.sum(pc),
                    "min": F.min(pc),
                    "max": F.max(pc),
                    "hll": F.hll_union_agg(pc),
                    # struct max/min: lexicographic on (by, value) — the
                    # same ordering the batch partial used, so merge is
                    # associative and deterministic
                    "maxby": F.max(pc),
                    "minby": F.min(pc),
                }[kind].alias(pc)
            )
    return aggs


def _spec_read_cols(spec: list[dict]) -> list:
    """Requested outputs from merged partials: count_c / sum_c / avg_c
    (= sum/cnt, NULL on zero non-null rows, matching SQL AVG) / min_c /
    max_c / n_distinct_c (sketch estimate)."""
    cols = [F.col("n_rows")]
    for m in spec:
        c = m["col"]
        if m.get("agg") == "hll":
            cols.append(
                F.hll_sketch_estimate(f"hll_{c}").alias(f"n_distinct_{c}")
            )
            continue
        if m.get("agg") in ("max_by", "min_by"):
            (pc,) = _spec_partial_cols(m)
            side = "max" if m["agg"] == "max_by" else "min"
            cols.append(F.col(pc)["v"].alias(f"{c}_at_{side}_{m['by']}"))
            continue
        for a in m["aggs"]:
            cols.append(
                {
                    "count": F.col(f"cnt_{c}").alias(f"count_{c}"),
                    "sum": F.col(f"sum_{c}").alias(f"sum_{c}"),
                    "avg": (
                        F.col(f"sum_{c}")
                        / F.when(F.col(f"cnt_{c}") > 0, F.col(f"cnt_{c}"))
                    ).alias(f"avg_{c}"),
                    "min": F.col(f"min_{c}").alias(f"min_{c}"),
                    "max": F.col(f"max_{c}").alias(f"max_{c}"),
                }[a]
            )
    return cols


def build_matview_multi(
    facts: DataFrame, path: str, key_cols: list[str], spec: list[dict],
    batch_key: str = "batch_00000000",
) -> None:
    """Spec-based twin of :func:`build_matview`: same one-batch partial
    aggregate + params-sidecar-last discipline, with the measure spec
    frozen in params.json (later appends read it — per-call drift is
    structurally impossible, the span-store lesson)."""
    spark = facts.sparkSession
    partials = facts.groupBy(*key_cols).agg(*_spec_partial_aggs(spec)).withColumn(
        "_batch", F.lit(batch_key)
    )
    partials.write.mode("overwrite").parquet(f"{path}/partials")
    write_text_sidecar(
        spark, f"{path}/params.json",
        json.dumps({"key_cols": list(key_cols), "spec": list(spec)}, sort_keys=True),
    )


def load_matview_params(spark: SparkSession, path: str) -> dict:
    raw = read_text_sidecar(spark, f"{path}/params.json")
    if raw is None:
        raise FileNotFoundError(f"no params sidecar at {path}/params.json")
    return json.loads(raw)


def build_matview(
    facts: DataFrame, path: str, key_cols: list[str], measure: str,
    batch_key: str = "batch_00000000",
    extra_params: dict | None = None,
) -> None:
    """Materialize the view from the first fact batch: one grouped
    partial aggregate, one parquet write, params sidecar last (a crashed
    build leaves no params.json and is rebuilt, never half-read).
    ``extra_params`` lets a composing store freeze ITS spec in the same
    sidecar (the span store's shingle k / min_df — per-call drift on a
    frozen store is a raise, not a silent mix; r10 advice)."""
    spark = facts.sparkSession
    partials = facts.groupBy(*key_cols).agg(*_partial_aggs(measure)).withColumn(
        "_batch", F.lit(batch_key)
    )
    params = {"key_cols": list(key_cols), "measure": measure}
    if extra_params:
        clash = set(extra_params) & {"key_cols", "measure", "spec", "applied"}
        if clash:
            raise ValueError(f"extra_params may not shadow {sorted(clash)}")
        params.update(extra_params)
    partials.write.mode("overwrite").parquet(f"{path}/partials")
    write_text_sidecar(spark, f"{path}/params.json", json.dumps(params, sort_keys=True))


def applied_batches(spark: SparkSession, path: str) -> set[str]:
    """Batch keys already folded in — one distinct scan of the tiny
    ``_batch`` column (column-pruned; partials are metadata-sized
    relative to facts)."""
    return {
        r["_batch"]
        for r in spark.read.parquet(f"{path}/partials").select("_batch").distinct().collect()
    }


def _merge_aggs_for(p: dict) -> list:
    """Single merge definition shared by read and compaction — the two
    MUST agree or compaction would change results."""
    if "spec" in p:
        return _spec_merge_aggs(p["spec"])
    return [
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_m").alias("sum_m"),
        F.min("min_m").alias("min_m"),
        F.max("max_m").alias("max_m"),
    ]


def append_matview(
    batch: DataFrame, path: str, batch_key: str, skip_replay_check: bool = False
) -> bool:
    """Fold one fact batch into the view: aggregate THE BATCH ONLY and
    append its partial rows. Returns False (no-op) when ``batch_key``
    was already applied — the explicit replay guard that makes
    at-least-once redelivery safe for additive state. Dispatches on the
    frozen params (single measure or measure spec) — the caller never
    restates the spec, so per-call drift cannot corrupt the store.

    EMPTY batches are a deliberate carve-out: the ``_batch`` tag is
    rows-borne, so an empty batch leaves no tag and its replay returns
    True again — vacuously harmless here (its partials are empty, the
    view cannot change; hypothesis-pinned). This differs from
    ``matview_join``, which MUST ledger empty deltas because the
    opposite side's history grows between delivery and replay.

    ``skip_replay_check=True`` is for callers that already consulted
    :func:`applied_batches_full` for this exact key in the same logical
    transaction (``matview_join.append_join_side`` guards on a superset
    ledger before ever computing the delta) — the scan of the partials
    tags is one Spark job per call, and paying it twice per append is
    pure barrier overhead. Callers that cannot prove the prior check
    (streams, direct API users) keep the default."""
    spark = batch.sparkSession
    if not skip_replay_check and batch_key in applied_batches_full(spark, path):
        return False
    p = load_matview_params(spark, path)
    aggs = (
        _spec_partial_aggs(p["spec"]) if "spec" in p
        else _partial_aggs(p["measure"])
    )
    partials = batch.groupBy(*p["key_cols"]).agg(*aggs).withColumn(
        "_batch", F.lit(batch_key)
    )
    partials.write.mode("append").parquet(f"{path}/partials")
    return True


def read_matview(spark: SparkSession, path: str) -> DataFrame:
    """The maintained view: merge partials per key (sum-of-counts,
    sum-of-sums, min-of-mins, max-of-maxs, union-of-sketches for spec
    stores). One aggregate over the partials table — fact volume never
    enters the read path. Spec stores additionally project the
    REQUESTED aggregates (avg = sum/cnt, n_distinct = sketch
    estimate)."""
    p = load_matview_params(spark, path)
    merged = (
        spark.read.parquet(f"{path}/partials")
        .groupBy(*p["key_cols"])
        .agg(*_merge_aggs_for(p))
    )
    if "spec" in p:
        return merged.select(*p["key_cols"], *_spec_read_cols(p["spec"]))
    return merged


def compact_with_fold(spark: SparkSession, path: str, fold, op: str) -> None:
    """The compaction SHARED by every matview-layout store (scalar
    partials here, HLL sketch partials in ``hll_store``): fold to
    ``partials__compacting`` via the caller's ``fold(partials_df, params)
    -> folded_df`` (``_batch`` tag appended here) and commit it under
    ``storage``'s "Commit protocol". The applied ledger is written BEFORE
    the swap: if the crash lands between the renames, the rolled-forward
    copy's only live tag is ``__compacted__``, so the replay guard must
    already know the folded keys; recording them early is harmless on a
    pre-swap crash since the same keys are still live tags and the union
    is idempotent."""
    live = f"{path}/partials"
    staging = f"{live}__compacting"
    if not _heal(spark, live, staging):
        raise FileNotFoundError(f"{op}: no partials at {path}")
    p = load_matview_params(spark, path)
    seen = sorted(applied_batches(spark, path))
    folded = fold(spark.read.parquet(live), p).withColumn(
        "_batch", F.lit(COMPACTED)
    )
    folded.coalesce(1).write.mode("overwrite").parquet(staging)
    p["applied"] = sorted((set(p.get("applied", [])) | set(seen)) - {COMPACTED})
    write_text_sidecar(spark, f"{path}/params.json", json.dumps(p, sort_keys=True))
    _swap(spark, live, staging)


def compact_matview(spark: SparkSession, path: str) -> None:
    """Fold all partials into one row per key (batch tag
    ``__compacted__``) through :func:`compact_with_fold`. Merge
    associativity makes the read bit-identical before/after; only
    partials-row and file counts drop. Batch keys folded into ``__compacted__`` stay
    replay-guarded via the ``applied`` ledger in ``params.json``."""

    def fold(partials: DataFrame, p: dict) -> DataFrame:
        # the same merge the read path uses — spec stores keep the
        # BINARY sketch through compaction (estimate-preserving)
        return partials.groupBy(*p["key_cols"]).agg(*_merge_aggs_for(p))

    compact_with_fold(spark, path, fold, "compact_matview")


def applied_batches_full(spark: SparkSession, path: str) -> set[str]:
    """Replay guard across compactions: live ``_batch`` tags plus the
    keys ``compact_matview`` folded away (kept in params.json)."""
    p = load_matview_params(spark, path)
    return applied_batches(spark, path) | set(p.get("applied", []))
