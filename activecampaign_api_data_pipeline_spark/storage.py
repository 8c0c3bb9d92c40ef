"""Medallion table store — the reference's write path, re-designed for scale.

Re-expresses ``persist_table_dual`` (reference run_ac_extraction.py:134-188)
and the JSON state checkpoint (:70-80, :1557-1559, :1696-1700) WITHOUT the
reference's read-modify-rewrite of the whole master on every run (the
scalability cliff called out in SURVEY.md §3.2):

- **delta**  = ``bronze/<table>/run_id=<id>`` — the reference's immutable
  per-run drop (K1/K2) is exactly bronze's run partition; ``read_delta``
  reads it partition-pruned instead of writing a duplicate directory.
- **bronze** ``bronze/<table>/run_id=…`` — per-run partition, idempotently
  OVERWRITTEN on replay of the same ``run_id`` (reference "raw" before
  dedup). run_ids must therefore be unique per logical run: replaying a
  run_id with a *different* batch replaces that run's earlier bronze drop
  (an append would have preserved it) — the orchestrator owns uniqueness.
- **silver** ``silver/<table>/_kb=…``    — content-hash-deduped history
  (reference "raw" after A1 dedup), partitioned by a key-hash bucket.
- **gold**   ``gold/<table>/_kb=…``      — last-per-key snapshot (reference
  "latest", A2/W1), same bucketing.

Why the bucket column ``_kb = pmod(xxhash64(keys), n_buckets)`` is the load-
bearing design: exact duplicates agree on their key columns, so they agree
on ``_kb``. Both incremental maintenance joins can therefore be restricted
to the buckets the new batch actually touches:

- silver append = ``new LEFT ANTI JOIN silver ON (_kb, _row_hash)`` — the
  probe side reads ONLY affected bucket partitions (partition pruning) and
  only the ``_row_hash`` column (column pruning), under a pinned schema
  (``_row_hash string, _kb int``) so no footer job infers it.
- gold refresh  = latest-per-key over silver restricted to affected buckets,
  written with dynamic partition overwrite — untouched buckets are not read
  and not rewritten. The rank runs per ``(_kb, keys)``: the same groups as
  per key, because ``_kb`` is a function of the keys, so the one shuffle
  on ``_kb`` serves both the rank and the bucketed write.

So per run, work is O(new batch + touched buckets), not O(master) as in the
reference; a run touching k buckets rewrites k/n_buckets of gold, nothing
else.

Table metadata: each table records, in ``<root>/_meta/<table>/_table.json``
(written by :func:`write_text_sidecar`), its key columns, its updated
column, its read schema and its bucket count:

- **Pinned schema.** Every read takes the recorded schema
  (``.schema(...)``), so no footer job infers it and the column order does
  not depend on the files a read touches. ``persist`` unions additive
  column drift into the sidecar on the driver, before it writes.
- **Per-table bucket count.** A new table gets the fewest buckets (a power
  of two) that keep its first batch's bronze bytes under
  :data:`BUCKET_BYTES` each, measured by an FS listing; a small table is
  one bucket, one file per write. ``TableStore(n_buckets=k)`` fixes a new
  table's count instead. A table keeps its recorded count, whatever count
  a later store is opened with.
- **Split.** When a touched gold bucket outgrows :data:`BUCKET_BYTES`
  (an FS listing after the gold write), the table splits from ``n`` to
  ``n·2^k`` buckets: bucket ``b`` becomes ``b, b+n, …``, because
  ``pmod(h, m·n) mod n == pmod(h, n)``. At 100 TB every bucket therefore
  stays ≪ executor memory without a store-wide setting. The split commits
  through the sidecar (:meth:`TableStore._split`).
- **Old lakes.** A table written before the sidecar existed reads under a
  schema inferred from its part-file footers on the driver, with the
  count it was written with (the explicit one, else
  :data:`LEGACY_BUCKETS`), and records both on its first write.

Actions are few as well: the bronze and silver writes count their own
rows and buckets as they run (``DataFrame.observe``), so no count job
re-reads a batch, and an empty batch stops after bronze — it writes no
silver and no gold. A persist onto an existing table runs at most 7 Spark
jobs, with or without ``tombstone_col``: the gold write reports the
buckets it kept, so finding the emptied ones costs no job. With
``compact=True`` (the streaming sink's cadence), the gold
refresh also compacts the batch's silver buckets from its own read: one
``_kb`` exchange ranks them, one materialized copy feeds both the silver
rewrite and the gold write, and the persist runs 9 jobs where a persist
followed by :meth:`TableStore.compact_silver` ran 12. :meth:`TableStore.
maybe_compact` measures fragmentation with an FS listing, so a healthy
table costs no Spark job.

Exactly-once under SAME-BATCH restart: every write is either per-run-
partition idempotent (bronze: dynamic overwrite of ``run_id=<id>``),
duplicate-proof (silver: anti-join on ``(_kb, _row_hash)`` — replayed rows
vanish), or a pure recomputation from silver (gold: dynamic overwrite of
the batch's buckets, executed even when the replay contributes zero new
silver rows). Re-running ``persist`` with the same ``run_id``/
``extracted_at`` AND the same (or bucket-covering) batch after a crash at
ANY point therefore converges the store to the committed state — see
``tests/test_storage.py::test_exactly_once_restart``. The claim is scoped
to same-batch replay because dynamic partition overwrite is not atomic: a
crash mid-gold-commit can leave some bucket partitions deleted, and a
retry whose re-extract no longer hashes to those buckets (source data
changed between attempts) will not repair them. :meth:`TableStore.
rebuild_gold` is the recovery path — it recomputes gold from silver for
arbitrary buckets (default: all).

Determinism: gold ordering is an explicit total order
(updated_col DESC, extracted_at DESC, run_id DESC, _row_hash DESC) — the
reference leans on pandas' stable mergesort file order (:186), which has no
distributed equivalent (SURVEY.md §7.3). Each layout rule is stated once:
gold's order in :func:`_latest_rank`, the first-seen rule in
:func:`_first_rank`, and every rewrite of a bucketed layer goes through
:meth:`TableStore._write_buckets`.

Commit protocol: every artifact that is replaced whole — a compacted or
vacuumed directory, a Z-ordered table, a KMV sketch, a text sidecar — is
committed by :func:`_swap`: write the complete new copy to a staging
name, rename the live copy to ``<live>__old``, rename staging in, delete
``__old``. Every rename is checked (:func:`_rename`) and nothing is
deleted before its replacement is in place, so a crash leaves one of
three states, each healed by :func:`_heal` on the writer's next call:
staging beside a live copy (pre-commit: staging is dropped); live
missing with staging present (between the renames: staging rolls
forward); ``__old`` beside a live copy (post-commit: ``__old`` is
dropped). Live is renamed aside only after the staging write finished,
so a rolled-forward copy is complete — except after a crash inside the FIRST
write of a sidecar or KMV sketch, whose writer then replaces that copy
(a sidecar) or folds the replayed batch into it (a sketch: the fold is
idempotent). Contract: a single writer per artifact (the contract the
appending sinks already require); a reader racing the two renames can
see a brief path-not-found and should retry — never partial or
duplicated rows. A split swaps two directories and the sidecar: both
new layouts are staged first, the sidecar marked ``splitting`` is the
commit point, and a writer that finds the mark rolls the directory swaps
forward (:meth:`TableStore._split`).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from activecampaign_api_data_pipeline_spark.functions.hashing import row_hash

LINEAGE_COLS = ("run_id", "extracted_at")
BUCKET_COL = "_kb"
HASH_COL = "_row_hash"
#: Bytes one bucket of a table may hold: a new table gets the fewest
#: buckets (a power of two) that keep its first batch under this, and a
#: table splits when a gold bucket outgrows it. One bucket is one file per
#: write, so this is also the target file size of the bucketed layers.
BUCKET_BYTES = 128 * 1024 * 1024
#: The bucket count of a table written before ``_table.json`` existed,
#: when the store is opened without an explicit count.
LEGACY_BUCKETS = 16


@dataclass
class PersistResult:
    table: str
    run_id: str
    n_delta: int
    n_new_silver: int
    # every bucket the batch staged = every gold partition rewritten this
    # run (gold refresh is keyed on the staged buckets, not just the ones
    # that gained silver rows — a replay with n_new_silver == 0 still
    # rewrites them). Downstream cache invalidation must key on THIS.
    touched_buckets: list[int]
    # the narrower set: buckets that actually gained new silver rows
    new_silver_buckets: list[int]
    # both lists name buckets of the count the persist started with; a
    # persist that splits the table (TableStore._split) rewrote them all


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem holding ``path``, Hadoop ``Path`` constructor)."""
    P = spark._jvm.org.apache.hadoop.fs.Path
    return P(path).getFileSystem(spark._jsc.hadoopConfiguration()), P


def _rename(fs, src, dst) -> None:
    """``fs.rename`` that raises. Hadoop FileSystem.rename reports some
    failures by RETURNING false (not raising) — e.g. a missing parent on
    some implementations. The only rename in the package: every commit
    goes through :func:`_heal` / :func:`_swap`."""
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def _heal(spark: SparkSession, live: str, staging: str) -> bool:
    """Finish or undo a crashed commit of ``live`` (a directory or a
    file; module docstring, "Commit protocol"). Returns whether ``live``
    exists afterwards; the caller decides what an absent artifact
    means."""
    fs, P = _fs(spark, live)
    if not fs.exists(P(live)):
        if not fs.exists(P(staging)):
            return False
        _rename(fs, P(staging), P(live))
    for leftover in (f"{live}__old", staging):
        if fs.exists(P(leftover)):
            fs.delete(P(leftover), True)
    return True


def _swap(spark: SparkSession, live: str, staging: str) -> None:
    """Commit the complete copy at ``staging`` as ``live`` (module
    docstring, "Commit protocol"). The caller heals first."""
    fs, P = _fs(spark, live)
    old = f"{live}__old"
    had_live = fs.exists(P(live))
    if had_live:
        _rename(fs, P(live), P(old))
    _rename(fs, P(staging), P(live))
    if had_live:
        fs.delete(P(old), True)


def write_text_sidecar(spark: SparkSession, path: str, payload: str) -> None:
    """One-file text sidecar via direct FileSystem ops — NO Spark job.

    Replaces the ``createDataFrame([(json,)]).coalesce(1).write.text(path)``
    pattern for params.json markers: that shape schedules a full Spark job
    (driver→executor round-trip, task launch, commit protocol) to move
    ~100 bytes — locally a fixed ~0.2-0.4 s per call, at 100 TB a
    cluster-wide barrier per sidecar. Writes ``<path>.__tmp__`` and
    commits it under the module's commit protocol; the target may be a
    legacy DIRECTORY layout (old text-writer output), swapped out whole.
    Works on any Hadoop FileSystem.
    """
    staging = path + ".__tmp__"
    _heal(spark, path, staging)
    fs, P = _fs(spark, path)
    parent = P(path).getParent()
    if parent is not None:
        fs.mkdirs(parent)
    out = fs.create(P(staging), True)
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()
    _swap(spark, path, staging)


# What a params loader raises on a sidecar that marks no finished build:
# absent or empty (FileNotFoundError), the ``_building_`` marker a build
# writes first (TypeError: not a params field), or junk (ValueError,
# KeyError, IndexError). Anything else, e.g. an IO error, is not "absent".
SIDECAR_INCOMPLETE = (FileNotFoundError, TypeError, ValueError, KeyError, IndexError)


def read_text_sidecar(spark: SparkSession, path: str) -> str | None:
    """Text of a sidecar, stripped — single-file OR legacy directory layout
    (the first part-* file from the old Spark text writer that is not
    blank) — via direct FileSystem ops, no Spark job. Returns ``None``
    when the sidecar is absent or blank (the crashed-legacy-dir-write
    case); genuine IO errors propagate. Every writer's payload is one
    line; ``state.json`` from before it committed through
    :func:`write_text_sidecar` spans several."""
    fs, P = _fs(spark, path)
    target = P(path)
    if not fs.exists(target):
        return None
    paths = (
        [
            st.getPath()
            for st in fs.listStatus(target)
            if st.getPath().getName().startswith("part-")
        ]
        if fs.getFileStatus(target).isDirectory()
        else [target]
    )
    for p in paths:
        stream = fs.open(p)
        try:
            data = bytes(
                stream.readAllBytes()
                if hasattr(stream, "readAllBytes")
                else spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()
        text = data.decode("utf-8").strip()
        if text:
            return text
    return None


def path_exists(spark: SparkSession, path: str) -> bool:
    """Explicit Hadoop-FS existence probe.

    The store readers use this instead of ``try: read / except: first
    batch`` — a bare except treats corruption, permission, or transient
    IO failures as "no store yet", which silently drops the whole corpus
    history (dedup) or rebuilds an index over an existing path (ANN).
    With an explicit probe, only genuine absence takes the first-batch
    path; real read errors propagate.
    """
    fs, P = _fs(spark, path)
    return bool(fs.exists(P(path)))


def compact_artifact(
    spark: SparkSession,
    path: str,
    max_files: int = 8,
    target_bytes_per_file: int = 128 * 1024 * 1024,
) -> bool:
    """Stats-driven compaction for an append-only, unpartitioned parquet
    artifact directory (signature-store ``sigs``/``bands``, ANN-index
    ``cells``/``codes``): those sinks append one file set per micro-batch
    forever, so without maintenance a year of ingest is ~10⁵ tiny files
    and every candidate join pays the open-file tax. Returns whether a
    rewrite ran.

    Cheap metadata probe first (one ``listStatus``): rewrite only when the
    part-file count exceeds ``max_files``. The rewrite coalesces to
    ``ceil(bytes / target_bytes_per_file)`` files — sized for row-group
    locality at scale, not a blind ``coalesce(1)``.

    The rewrite is staged at ``{path}__compacting`` and committed under
    the module's "Commit protocol"; a missing artifact is a no-op.
    """
    staging = f"{path}__compacting"
    if not _heal(spark, path, staging):
        return False
    fs, P = _fs(spark, path)
    parts = [
        f
        for f in fs.listStatus(P(path))
        if f.isFile() and not f.getPath().getName().startswith("_")
    ]
    if len(parts) <= max_files:
        return False
    total_bytes = sum(f.getLen() for f in parts)
    n_out = max(1, -(-total_bytes // target_bytes_per_file))  # ceil div
    spark.read.parquet(path).coalesce(int(n_out)).write.mode("overwrite").parquet(staging)
    _swap(spark, path, staging)
    return True


def _key_bucket(key_cols: list[str], n_buckets: int) -> Column:
    """The bucket of each row: ``pmod(xxhash64(keys), n_buckets)``. Every
    caller in this module passes a :class:`TableMeta`'s keys and count,
    so a table's rows are bucketed by the count it records."""
    ks = [F.coalesce(F.col(k).cast("string"), F.lit("\x00null")) for k in key_cols]
    return F.pmod(F.xxhash64(*ks), F.lit(n_buckets)).cast("int")


def _observed(df: DataFrame, obs: Observation) -> DataFrame:
    """``df`` reporting its row count, and its buckets when it has them,
    to ``obs`` when an action (here: a write) runs it."""
    metrics = [F.count(F.lit(1)).alias("n")]
    if BUCKET_COL in df.columns:
        metrics.append(F.collect_set(BUCKET_COL).alias("buckets"))
    return df.observe(obs, *metrics)


def _counts(obs: Observation) -> tuple[int, list[int]]:
    m = obs.get
    return m["n"], sorted(m.get("buckets", []))


def _latest_rank(key_cols: list[str], updated_col: str | None) -> Column:
    """Gold's total order: per key, rank 1 is the row with the greatest
    ``updated_col`` (when the table has one), then ``extracted_at``,
    ``run_id`` and ``_row_hash``. The rank runs per ``(_kb, keys)``: the
    same groups as per key, because ``_kb`` is a function of the keys, so
    a frame clustered by ``_kb`` already satisfies its distribution."""
    order = [updated_col] if updated_col is not None else []
    order += ["extracted_at", "run_id", HASH_COL]
    w = Window.partitionBy(BUCKET_COL, *key_cols)
    return F.row_number().over(w.orderBy(*[F.col(c).desc_nulls_last() for c in order]))


def _first_rank() -> Column:
    """The first-seen rule: per ``(_kb, _row_hash)``, rank 1 is the row
    with the earliest ``extracted_at``, then ``run_id`` — the copy the
    persist path's anti-join keeps, since it drops later replays."""
    w = Window.partitionBy(BUCKET_COL, HASH_COL)
    return F.row_number().over(
        w.orderBy(F.col("extracted_at").asc_nulls_last(), F.col("run_id").asc_nulls_last())
    )


def _top(df: DataFrame, rank: Column) -> DataFrame:
    """The rows of ``df`` that ``rank`` (a ``row_number`` window) ranks 1."""
    return df.withColumn("_rn", rank).filter(F.col("_rn") == 1).drop("_rn")


def _data_files(spark: SparkSession, path: str) -> list:
    """Hadoop ``FileStatus`` of every data file under ``path`` (Spark's
    listing rule: no ``_`` or ``.`` file names), oldest first; empty when
    ``path`` is absent. One recursive listing, no Spark job."""
    fs, P = _fs(spark, path)
    if not fs.exists(P(path)):
        return []
    out, it = [], fs.listFiles(P(path), True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        if not p.getName().startswith(("_", ".")) and "/_temporary/" not in p.toString():
            out.append(st)
    return sorted(out, key=lambda st: (st.getModificationTime(), st.getPath().toString()))


def _partitions(spark: SparkSession, path: str, name: str) -> list[str]:
    """The values of the ``name=value`` directories directly under
    ``path``, sorted; empty when ``path`` is absent. A listing, no Spark
    job."""
    fs, P = _fs(spark, path)
    if not fs.exists(P(path)):
        return []
    prefix = f"{name}="
    return sorted(
        st.getPath().getName()[len(prefix):]
        for st in fs.listStatus(P(path))
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    )


def _footer_schema(spark: SparkSession, path) -> StructType:
    """The Spark schema a parquet part file was written with, read from
    its footer on the driver (no Spark job)."""
    jvm = spark._jvm
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            path, spark._jsc.hadoopConfiguration()
        )
    )
    try:
        raw = reader.getFooter().getFileMetaData().getKeyValueMetaData().get(
            "org.apache.spark.sql.parquet.row.metadata"
        )
    finally:
        reader.close()
    return StructType.fromJson(json.loads(raw))


_SYSTEM_COLS = (*LINEAGE_COLS, HASH_COL, BUCKET_COL)


def _widened(schema: StructType | None, content: StructType) -> StructType:
    """A table's read schema (``None``: a new table's) grown by the columns
    of ``content`` it lacks. A new table reads its first batch's columns in
    their order, then ``run_id``, ``extracted_at``, ``_row_hash`` and
    ``_kb``. Columns added later (payload drift) follow ``_row_hash`` in
    name order, so two tables that gained the same columns in different
    batch orders read the same column order. A column whose type changed
    raises, as a merged-schema read of its files would."""
    fields = [StructField(f.name, f.dataType) for f in content if f.name not in _SYSTEM_COLS]
    if schema is None:
        lineage = [StructField(c, StringType()) for c in (*LINEAGE_COLS, HASH_COL)]
        return StructType(fields + lineage + [StructField(BUCKET_COL, IntegerType())])
    have = {f.name: f.dataType for f in schema.fields}
    for f in fields:
        if f.name in have and have[f.name].simpleString() != f.dataType.simpleString():
            raise ValueError(
                f"column {f.name} changed type: {have[f.name].simpleString()} -> "
                f"{f.dataType.simpleString()}"
            )
    new = [f for f in fields if f.name not in have]
    if not new:
        return schema
    cols = schema.fields[:-1]  # _kb stays last
    cut = [f.name for f in cols].index(HASH_COL) + 1
    drift = sorted(cols[cut:] + new, key=lambda f: f.name)
    return StructType(cols[:cut] + drift + schema.fields[-1:])


@dataclass(frozen=True)
class TableMeta:
    """What ``<root>/_meta/<table>/_table.json`` records for one table:
    its key columns, its updated column, its silver/gold read schema and
    its bucket count. ``splitting`` marks a committed split whose layer
    swaps may not have finished (:meth:`TableStore._split`)."""

    key_cols: list[str] | None
    updated_col: str | None
    schema: StructType
    n_buckets: int
    splitting: bool = False

    def to_json(self) -> str:
        return json.dumps(
            {
                "key_cols": self.key_cols,
                "updated_col": self.updated_col,
                "n_buckets": self.n_buckets,
                "splitting": self.splitting,
                "schema": self.schema.jsonValue(),
            }
        )

    @classmethod
    def from_json(cls, raw: str) -> "TableMeta":
        d = json.loads(raw)
        return cls(
            d["key_cols"], d["updated_col"], StructType.fromJson(d["schema"]),
            int(d["n_buckets"]), bool(d.get("splitting", False)),
        )

    def keyed(self, key_cols: list[str] | None, updated_col: str | None = None) -> "TableMeta":
        """This metadata with a caller's keys and updated column: a table
        keeps the keys it was bucketed by (another set raises), and its
        updated column is the last one a caller named."""
        if key_cols is not None and self.key_cols is not None and list(key_cols) != self.key_cols:
            raise ValueError(f"table is keyed by {self.key_cols}, not {list(key_cols)}")
        return replace(
            self,
            key_cols=self.key_cols or (list(key_cols) if key_cols is not None else None),
            updated_col=updated_col or self.updated_col,
        )


class TableStore:
    """Bronze/silver/gold store rooted at a directory (local or DFS URI).

    ``n_buckets=None`` sizes each new table's bucket count from its first
    batch (:data:`BUCKET_BYTES`); an explicit count fixes it. Either way a
    table keeps the count its ``_table.json`` records, whatever count a
    later store is opened with."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int | None = None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.n_buckets = n_buckets

    # ------------------------------------------------------------- paths/fs

    def _path(self, layer: str, table: str) -> str:
        return f"{self.root}/{layer}/{table}"

    def _exists(self, path: str) -> bool:
        return path_exists(self.spark, path)

    # ------------------------------------------------------ table metadata

    def _meta_path(self, table: str) -> str:
        return f"{self.root}/_meta/{table}/_table.json"

    def _write_meta(self, table: str, meta: TableMeta) -> None:
        write_text_sidecar(self.spark, self._meta_path(table), meta.to_json())

    def _load(self, table: str) -> TableMeta | None:
        """The table's recorded metadata. A table without a sidecar (written
        before it existed) gets metadata inferred from its part-file
        footers on the driver, with no keys and the count it was written
        with (the explicit count, else :data:`LEGACY_BUCKETS`); ``None``
        when it has no files. Reads only: heals and writes nothing."""
        raw = read_text_sidecar(self.spark, self._meta_path(table))
        if raw is not None:
            return TableMeta.from_json(raw)
        schema = None
        for layer in ("silver", "gold", "bronze"):
            for st in _data_files(self.spark, self._path(layer, table)):
                schema = _widened(schema, _footer_schema(self.spark, st.getPath()))
            if schema is not None:
                return TableMeta(None, None, schema, self.n_buckets or LEGACY_BUCKETS)
        return None

    def _open(
        self, table: str, key_cols: list[str] | None = None, updated_col: str | None = None
    ) -> TableMeta | None:
        """A writer's entry: heal a crashed sidecar write or split, then
        return the table's metadata, keyed by ``key_cols``. A table written
        before the sidecar existed gets its sidecar here once its keys are
        known. ``None``: a new table (no sidecar and no silver)."""
        path = self._meta_path(table)
        _heal(self.spark, path, path + ".__tmp__")
        raw = read_text_sidecar(self.spark, path)
        meta = TableMeta.from_json(raw) if raw is not None else None
        if meta is not None and meta.splitting:
            meta = self._finish_split(table, meta)
        for layer in ("silver", "gold"):
            # a split that crashed before its commit point left only staging
            staging = self._path(layer, table) + "__splitting"
            if self._exists(staging):
                fs, P = _fs(self.spark, staging)
                fs.delete(P(staging), True)
        if meta is None and self._exists(self._path("silver", table)):
            meta = self._load(table)
        if meta is None:
            return None
        keyed = meta.keyed(key_cols, updated_col)
        if keyed.key_cols is not None and (raw is None or keyed != meta):
            self._write_meta(table, keyed)
        return keyed

    def _split(self, table: str, n_buckets: int) -> None:
        """Re-bucket the table's silver and gold to ``n_buckets``, a
        power-of-two multiple of its count ``n``. Bucket ``b`` splits into
        ``b, b + n, …``, since ``pmod(h, m·n) mod n == pmod(h, n)``; the
        rows and the gold ranks are unchanged.

        Crash-safe across the three artifacts: both new layouts are written
        beside the live ones (``<layer>/<table>__splitting``), then the
        sidecar recording the new count with ``splitting`` set is the
        commit point. The layer swaps (:func:`_swap`) follow, and the mark
        is cleared. A writer that finds the mark set rolls the swaps
        forward (:meth:`_finish_split`); one that finds staging without it
        drops the staging (:meth:`_open`)."""
        meta = self._open(table)
        if meta is None or n_buckets <= meta.n_buckets:
            return
        new = replace(meta, n_buckets=n_buckets, splitting=True)
        for layer in ("silver", "gold"):
            if self._exists(self._path(layer, table)):
                rows = self._read(meta, layer, table).withColumn(
                    BUCKET_COL, _key_bucket(new.key_cols, new.n_buckets)
                )
                self._write_buckets(
                    new, rows.repartition(F.col(BUCKET_COL)),
                    self._path(layer, table) + "__splitting",
                )
        self._write_meta(table, new)
        self._finish_split(table, new)

    def _finish_split(self, table: str, meta: TableMeta) -> TableMeta:
        """Swap in every staged layer of a committed split, then clear the
        ``splitting`` mark."""
        for layer in ("silver", "gold"):
            live = self._path(layer, table)
            staging = live + "__splitting"
            if self._exists(staging) and self._exists(live):
                _swap(self.spark, live, staging)
            _heal(self.spark, live, staging)
        done = replace(meta, splitting=False)
        self._write_meta(table, done)
        return done

    def _fit(self, paths) -> int:
        """The fewest buckets (a power of two) that keep the largest of
        ``paths``' data bytes under :data:`BUCKET_BYTES` each. An FS
        listing, no Spark job."""
        size = max((sum(st.getLen() for st in _data_files(self.spark, p)) for p in paths), default=0)
        n = 1
        while size > n * BUCKET_BYTES:
            n *= 2
        return n

    def _sized(self, table: str, run_id: str) -> int:
        """A new table's bucket count: the explicit one, else the count
        that fits its first bronze run partition (:meth:`_fit`)."""
        if self.n_buckets is not None:
            return self.n_buckets
        return self._fit([f"{self._path('bronze', table)}/run_id={run_id}"])

    def _grow(self, table: str, meta: TableMeta, buckets: list[int]) -> None:
        """Split the table when a bucket of ``buckets`` outgrew
        :data:`BUCKET_BYTES` in gold, into enough buckets that the largest
        one's bytes, evenly spread, fit."""
        gold = self._path("gold", table)
        factor = self._fit([f"{gold}/{BUCKET_COL}={b}" for b in buckets])
        if factor > 1:
            self._split(table, meta.n_buckets * factor)

    # ------------------------------------------------------------- persist

    def persist(
        self,
        df: DataFrame,
        table: str,
        key_cols: list[str],
        run_id: str,
        updated_col: str | None = None,
        extracted_at: str | None = None,
        tombstone_col: str | None = None,
        compact: bool = False,
    ) -> PersistResult:
        """Tri-destination persist (reference :134-188), incremental form.

        ``df`` is one run's extract. ``updated_col`` orders the gold
        snapshot (reference's update-column, fallback ``extracted_at``).
        ``extracted_at`` may be pinned for reproducible tests; defaults to
        the driver's current UTC time, constant for the whole run.
        ``tombstone_col`` names a BOOLEAN column marking delete ops (CDC
        'D' rows / GDPR erasure requests): tombstones flow through
        bronze/silver as auditable history, but a key whose LATEST row is
        a tombstone is excluded from gold — and a later upsert resurrects
        it. This is Delta/Hudi MERGE delete semantics at O(batch buckets)
        cost, since tombstones hash to the same buckets as their keys.
        ``compact=True`` rewrites the batch's silver buckets as one file
        each inside the gold refresh (:meth:`rebuild_gold`); an empty
        batch compacts nothing.
        """
        content_cols = [c for c in df.columns if c not in LINEAGE_COLS]
        content = df.select(*content_cols).schema
        meta = self._open(table, key_cols, updated_col)
        created = meta is None
        if not created:
            # record drift BEFORE any write: a crash then leaves a schema
            # wider than the files, whose extra columns read as NULL
            widened = replace(meta, schema=_widened(meta.schema, content))
            if widened != meta:
                self._write_meta(table, widened)
                meta = widened
        stamp = (
            F.lit(extracted_at)
            if extracted_at is not None
            else F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss")
        )
        # P1 lineage + P2 content hash, all expression work (no UDFs)
        staged = (
            df.select(*content_cols)
            .withColumn("run_id", F.lit(run_id))
            .withColumn("extracted_at", stamp)
            .withColumn(HASH_COL, row_hash(df, content_cols))
        )
        if not created:
            # cluster by bucket FIRST, then batch-internal exact dedup (A1
            # within the run) keyed (bucket, hash): equal hashes imply
            # equal content, hence equal keys, hence the same bucket, so
            # the dedup result is identical — but the bucket partitioning
            # now satisfies the dedup's clustering requirement and the
            # whole stage runs on ONE exchange where dedup-then-repartition
            # paid two full shuffles of the batch (plan-verified: 2
            # Exchange → 1). The bucket clustering also keeps every
            # partitioned write below at one file per touched bucket
            # instead of (tasks × buckets) small files — at 100 TB this
            # shuffle-before-dynamic-partition-insert is the standard
            # pattern; without it a 1000-task stage writing 4096 buckets
            # would create millions of files.
            staged = (
                staged.withColumn(BUCKET_COL, _key_bucket(meta.key_cols, meta.n_buckets))
                .repartition(F.col(BUCKET_COL))
                .dropDuplicates([BUCKET_COL, HASH_COL])
            )
        else:
            # a new table has no count before its bronze write (it is sized
            # from it): the dedup clusters on the hash, so a large first
            # batch spreads over as many tasks as the exchange gives it
            staged = staged.repartition(F.col(HASH_COL)).dropDuplicates([HASH_COL])
        staged.persist()
        try:
            # 1. bronze: per-run partition (never read-modify other runs).
            #    The per-run "delta" drop of the reference (:156-157) IS the
            #    bronze run_id partition — same rows, one write, partition-
            #    pruned via read_delta() instead of a duplicate directory.
            #    Dynamic partition OVERWRITE (not append) makes a replayed
            #    run_id land on its own partition idempotently: a run killed
            #    anywhere after this write can be re-run with the same run_id
            #    without doubling its bronze rows. Other runs' partitions are
            #    untouched. The write itself counts the batch and collects
            #    its buckets (no separate count job).
            batch = Observation()
            _observed(staged, batch).drop(BUCKET_COL).withColumn(
                "run_id", F.lit(run_id)
            ).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("run_id").parquet(self._path("bronze", table))
            n_delta, buckets = _counts(batch)
            if not n_delta:
                # nothing to dedup and no bucket to refresh: silver and
                # gold stay as they are (a new table gets neither, and no
                # sidecar: its first non-empty batch sizes it)
                return PersistResult(table, run_id, 0, 0, [], [])

            # 2. silver: anti-join on (_kb, _row_hash) — bucket-pruned probe.
            #    The probe reads only the two columns it joins on, under the
            #    table's pinned schema, so no footer job infers them.
            silver_path = self._path("silver", table)
            fresh = staged  # no silver yet: the anti-join is vacuous
            if created:
                meta = TableMeta(
                    list(key_cols), updated_col, _widened(None, content),
                    self._sized(table, run_id),
                )
                # the sidecar goes before silver: a table with silver has one
                self._write_meta(table, meta)
                fresh = staged.withColumn(
                    BUCKET_COL, _key_bucket(meta.key_cols, meta.n_buckets)
                )
                # one bucket is one file without an exchange
                fresh = (
                    fresh.coalesce(1)
                    if meta.n_buckets == 1
                    else fresh.repartition(F.col(BUCKET_COL))
                )
            elif self._exists(silver_path):
                old = self._read(meta, "silver", table, buckets).select(BUCKET_COL, HASH_COL)
                fresh = staged.join(old, [BUCKET_COL, HASH_COL], "left_anti").repartition(
                    F.col(BUCKET_COL)
                )
            # the append counts its own rows: the anti-join is evaluated
            # once, by the write, so it never sees the rows it appends
            new = Observation()
            _observed(fresh, new).write.mode("append").partitionBy(BUCKET_COL).parquet(
                silver_path
            )
            n_new, touched = _counts(new)
            if created:
                buckets = touched

            # 3. gold: recompute ONLY the batch's buckets from silver,
            #    dynamic partition overwrite leaves the rest untouched.
            #    Refresh is keyed on the STAGED buckets, not just the
            #    fresh ones, and runs even when n_new == 0: a run killed
            #    between the silver append and this refresh replays with
            #    every row anti-joined away (n_new == 0), and gold must
            #    still be repaired from silver. The refresh is a pure
            #    function of silver, so re-running it is idempotent; the
            #    cost stays O(batch buckets) either way (duplicates hash
            #    to the same buckets as their originals).
            self.rebuild_gold(
                table, key_cols, updated_col, buckets=buckets,
                tombstone_col=tombstone_col, compact=compact,
            )
        finally:
            staged.unpersist()
        # 4. growth: a gold bucket past BUCKET_BYTES splits the table
        self._grow(table, meta, buckets)
        return PersistResult(table, run_id, n_delta, n_new, buckets, touched)

    def rebuild_gold(
        self,
        table: str,
        key_cols: list[str],
        updated_col: str | None = None,
        buckets: list[int] | None = None,
        tombstone_col: str | None = None,
        compact: bool = False,
    ) -> None:
        """Recompute gold from silver for ``buckets`` (default: ALL).

        Gold is a pure function of silver (latest-per-key under the total
        order below), so this is safe to run at any time — it is both the
        incremental refresh used by :meth:`persist` and the repair path for
        the non-atomic dynamic-overwrite window documented in the module
        docstring (a crash mid-gold-commit followed by a changed re-extract
        can orphan bucket partitions; rebuild with ``buckets=None`` to
        restore the invariant). Cost is O(selected buckets), never
        O(store).

        ``compact=True`` also compacts the selected silver buckets from the
        same read: :meth:`compact_silver`'s rewrite clusters them by
        ``_kb`` once, ranks them on that exchange and materializes them;
        silver is overwritten from that copy as one file per bucket, and
        gold is its rank-1 rows, with no second exchange. The silver
        overwrite comes first; a crash before the gold write leaves
        silver's rows unchanged, and re-running the refresh repairs gold.
        """
        meta = self._open(table, key_cols, updated_col)
        # one shuffle on ``_kb`` serves both the rank (_latest_rank) and
        # the bucketed write below (one file per bucket)
        ranked = (
            self._read(meta, "silver", table, buckets)
            .repartition(F.col(BUCKET_COL))
            .withColumn("_rn", _latest_rank(key_cols, updated_col))
        )
        if compact:
            # rank before the copy: under adaptive execution the copy
            # reports no partitioning, so a window over it would shuffle
            # again
            ranked = self._compact(meta, table, ranked)
        latest = ranked.filter(F.col("_rn") == 1)
        gold = self._path("gold", table)
        if tombstone_col is None:
            self._write_buckets(meta, latest, gold)
            return
        # drop keys whose LATEST row is a delete marker (after the rank, so
        # an upsert newer than a tombstone resurrects the key); null marker
        # = not deleted. Dynamic overwrite only rewrites partitions PRESENT
        # in the output, so a bucket whose every key tombstoned away would
        # keep its stale partition: the write reports the buckets it kept,
        # and the other selected ones (all of gold's, by a listing, when
        # none are given) are dropped after it. A crash in between is
        # repaired by re-running this idempotent rebuild, as in the
        # documented gold-commit window. A gold with no bucket left reads
        # as 0 typed rows under the pinned schema.
        kept = Observation()
        self._write_buckets(
            meta, _observed(latest.filter(~F.coalesce(F.col(tombstone_col), F.lit(False))), kept),
            gold,
        )
        selected = _partitions(self.spark, gold, BUCKET_COL) if buckets is None else buckets
        fs, P = _fs(self.spark, gold)
        for b in {int(b) for b in selected} - set(_counts(kept)[1]):
            fs.delete(P(f"{gold}/{BUCKET_COL}={b}"), True)

    def gold_asof(
        self,
        table: str,
        run_id: str,
        key_cols: list[str],
        updated_col: str | None = None,
    ) -> DataFrame:
        """Time-travel: the gold snapshot AS OF a historical run — the
        dataset-versioning read a reproducible training job needs ("train
        on the corpus exactly as it stood after run N").

        Derivation, not storage: bronze partitions ≤ ``run_id`` are
        replayed through the same dedup (first occurrence of each content
        hash, matching the persist path) and the same latest-per-key
        total order as :meth:`rebuild_gold` — so ``gold_asof(latest run)``
        equals current gold bit-for-bit, and any earlier run yields the
        state gold had then. Cost is O(bronze history ≤ run); bound it
        with :meth:`vacuum_bronze`'s retention window (vacuumed runs are
        no longer reachable as snapshots — the documented trade-off).
        run_id comparison is lexicographic == chronological for both
        producers (``run_…`` pipeline ids, zero-padded ``batch_%08d``).

        Replay cost is bounded by :meth:`checkpoint_asof` snapshots when
        present: the dedup state is restored from the nearest checkpoint
        ≤ ``run_id`` and only the bronze delta after it is replayed —
        which also keeps snapshots reachable after :meth:`vacuum_bronze`
        has dropped the runs a checkpoint already covers.
        """
        return _top(self._first_asof(table, run_id, key_cols), _latest_rank(key_cols, updated_col))

    def gold_diff(
        self,
        table: str,
        run_a: str,
        run_b: str,
        key_cols: list[str],
        carry_cols: list[str] | None = None,
        updated_col: str | None = None,
    ) -> DataFrame:
        """Dataset diff between two gold snapshots: which keys were
        ``added``, ``removed``, or ``changed`` from run_a to run_b — the
        data-versioning primitive behind "what changed in the corpus
        between the checkpoint we trained on and today".

        Built on :meth:`gold_asof` (so both sides benefit from
        checkpoints and survive bronze vacuum), keyed full-outer join,
        change detection via the persisted content hash — any column
        difference counts, no per-column compare list to maintain.
        Unchanged keys are dropped (at 100 TB the diff output is
        O(churn), the join is one shuffle on the snapshot keys).
        ``carry_cols`` are emitted from both sides as ``<col>_a`` /
        ``<col>_b`` for human-readable reports.
        """
        carry_cols = carry_cols or []
        a = self.gold_asof(table, run_a, key_cols, updated_col=updated_col)
        b = self.gold_asof(table, run_b, key_cols, updated_col=updated_col)
        a_sel = a.select(
            *key_cols,
            F.col(HASH_COL).alias("_hash_a"),
            *[F.col(c).alias(f"{c}_a") for c in carry_cols],
        )
        b_sel = b.select(
            *key_cols,
            F.col(HASH_COL).alias("_hash_b"),
            *[F.col(c).alias(f"{c}_b") for c in carry_cols],
        )
        j = a_sel.join(b_sel, key_cols, "full_outer")
        status = (
            F.when(F.col("_hash_a").isNull(), F.lit("added"))
            .when(F.col("_hash_b").isNull(), F.lit("removed"))
            .when(F.col("_hash_a") != F.col("_hash_b"), F.lit("changed"))
        )
        return (
            j.withColumn("status", status)
            .filter(F.col("status").isNotNull())
            .select(
                *key_cols,
                "status",
                *[f"{c}_a" for c in carry_cols],
                *[f"{c}_b" for c in carry_cols],
            )
        )

    def _first_asof(self, table: str, run_id: str, key_cols: list[str]) -> DataFrame:
        """The dedup state as of ``run_id``: first occurrence of every
        ``(bucket, row_hash)`` across bronze runs ≤ run_id, carrying its
        FIRST run's lineage (re-appearing content keeps its original
        timestamps, exactly as the persist path's anti-join behaves), in
        the table's column order (silver's and gold's).

        Incremental from the nearest :meth:`checkpoint_asof` snapshot ≤
        ``run_id`` when one exists: restore the checkpoint, replay only
        the bronze delta (checkpoint_run, run_id], anti-join the delta's
        hashes against the restored state (a hash the checkpoint already
        holds is a re-appearance, not a new row), dedup within the delta,
        union. By induction this equals the full replay bit-for-bit while
        reading O(delta) bronze instead of O(history).
        """
        meta = self._load(table)
        if meta is not None:
            meta = meta.keyed(key_cols)
        ckpt_run = max(
            (r for r in self.list_checkpoints(table) if r <= run_id), default=None
        )
        bronze = self._read(meta, "bronze", table).filter(F.col("run_id") <= run_id)
        bucket = _key_bucket(meta.key_cols, meta.n_buckets)
        if ckpt_run is None:
            return _top(bronze.withColumn(BUCKET_COL, bucket), _first_rank()).select(
                *meta.schema.names
            )
        # the checkpoint reads under the table's schema, so a column added
        # after it reads as NULL; one written before a split holds the old
        # buckets, so ``_kb`` is recomputed
        base = (
            self.spark.read.schema(meta.schema)
            .parquet(self._ckpt_path(table, ckpt_run))
            .withColumn(BUCKET_COL, bucket)
        )
        delta = (
            bronze.filter(F.col("run_id") > ckpt_run)
            .withColumn(BUCKET_COL, bucket)
            .join(base.select(BUCKET_COL, HASH_COL), [BUCKET_COL, HASH_COL], "left_anti")
        )
        return base.unionByName(_top(delta, _first_rank()))

    def _ckpt_path(self, table: str, run_id: str) -> str:
        return f"{self.root}/ckpt/{table}/asof_run={run_id}"

    def list_checkpoints(self, table: str) -> list[str]:
        return _partitions(self.spark, f"{self.root}/ckpt/{table}", "asof_run")

    def checkpoint_asof(self, table: str, run_id: str, key_cols: list[str]) -> None:
        """Persist the dedup state as of ``run_id`` so later
        :meth:`gold_asof` reads replay only the bronze delta past it —
        run every K ingests to keep time-travel O(delta) instead of
        O(bronze history), and BEFORE :meth:`vacuum_bronze` tightens the
        retention window so snapshots stay reachable after the covered
        runs are deleted.

        The artifact is the first-occurrence frame (content-hash-unique
        rows with first-run lineage), NOT the gold snapshot: gold alone
        forgets superseded hashes, so a hash re-appearing in the delta
        would replay as new and steal latest-per-key wins it should not
        have. Size is O(unique content ≤ run) — silver-scale, not
        bronze-scale. Idempotent: rewriting the same run's checkpoint
        overwrites it. Builds incrementally from the nearest earlier
        checkpoint via :meth:`_first_asof`.
        """
        self._first_asof(table, run_id, key_cols).write.mode("overwrite").parquet(
            self._ckpt_path(table, run_id)
        )

    # -------------------------------------------------------- maintenance

    def compact_silver(self, table: str, buckets: list[int] | None = None) -> None:
        """Small-file maintenance: every :meth:`persist` (and every
        streaming micro-batch through ``stream_into_store``) APPENDS one
        file per touched bucket to silver, so after N runs a bucket holds
        up to N files and scan cost is dominated by file opens, not bytes.
        Rewrites the selected bucket partitions as one file each; contents
        are byte-for-byte the same rows (pure rewrite, no dedup, no
        reorder semantics — silver's row set is already hash-unique).

        ``localCheckpoint`` materializes the rows BEFORE the overwrite —
        Spark refuses to overwrite a path its plan still reads, and the
        checkpoint also removes the re-read-during-delete race. At 100 TB
        compact in bucket slices (``buckets=[...]``) so one slice fits the
        cluster's storage memory; like the gold refresh, the dynamic
        partition overwrite is not atomic, and a crash mid-commit is
        repaired by :meth:`rebuild_silver` from immutable bronze.

        Single-writer assumption: do not compact concurrently with a
        ``persist`` to the same table. ``persist(compact=True)`` runs this
        same rewrite inside its gold refresh (:meth:`rebuild_gold`).
        """
        meta = self._open(table)
        self._compact(
            meta, table, self._read(meta, "silver", table, buckets).repartition(F.col(BUCKET_COL))
        )

    def cluster_silver(
        self, table: str, sort_cols: list[str], buckets: list[int] | None = None
    ) -> None:
        """Data-skipping maintenance: rewrite silver buckets SORTED on
        ``sort_cols`` so parquet row-group min/max statistics become
        tight, disjoint ranges — a range predicate on the sort key then
        prunes most row groups at scan time (the poor man's Z-order; for
        one dominant predicate column a plain sort is optimal).

        Same mechanics and single-writer contract as
        :meth:`compact_silver` (bucket-sliced dynamic overwrite,
        localCheckpoint before the rewrite, crash repaired by
        :meth:`rebuild_silver`), plus ``sortWithinPartitions`` — each
        bucket stays one file, rows unchanged, order now useful. Run it
        after compaction cadence on cold buckets; at 100 TB the rewrite
        is the price of every later scan skipping ~(1 - selectivity) of
        the bytes.
        """
        meta = self._open(table)
        silver = self._read(meta, "silver", table, buckets)
        self._compact(
            meta, table,
            silver.repartition(F.col(BUCKET_COL)).sortWithinPartitions(BUCKET_COL, *sort_cols),
        )

    def vacuum_bronze(self, table: str, keep_runs: int) -> list[str]:
        """Bronze retention: drop the oldest run partitions beyond the
        newest ``keep_runs``. Returns the run_ids removed.

        Bronze grows one immutable partition per ingest forever; this is
        the retention knob. THE TRADE-OFF IS EXPLICIT: bronze is the only
        non-recomputable layer — vacuumed runs can no longer feed
        :meth:`rebuild_silver` / :meth:`rebuild_gold`, so the recompute
        horizon shrinks to the retained window (vacuum only after
        downstream layers are verified, e.g. post-compaction). run_ids
        sort lexicographically == chronologically for both producers
        (``run_YYYYMMDD…`` pipeline ids and zero-padded ``batch_%08d``
        streaming ids). Deletion is per-partition directory removal —
        O(removed runs), no data rewrite.
        """
        path = self._path("bronze", table)
        runs = _partitions(self.spark, path, "run_id")
        drop = runs[: max(len(runs) - keep_runs, 0)]
        fs, P = _fs(self.spark, path)
        for rid in drop:
            fs.delete(P(f"{path}/run_id={rid}"), True)
        return drop

    def maybe_compact(
        self, table: str, max_files_per_bucket: int = 4, buckets: list[int] | None = None
    ) -> bool:
        """Stats-driven compaction: rewrite silver only when fragmentation
        crosses the threshold (avg files per touched bucket >
        ``max_files_per_bucket``). Returns whether a rewrite ran.

        The policy knob a scheduler calls after every ingest: a Hadoop FS
        listing of the selected bucket directories when healthy (no Spark
        job, as in :func:`compact_artifact`), the full
        :meth:`compact_silver` only when the small-file tax is real — so
        continuous ingest amortizes rewrite cost against actual
        fragmentation instead of a blind cadence.
        """
        path = self._path("silver", table)
        wanted = None if buckets is None else {str(b) for b in buckets}
        per_bucket = [
            len(_data_files(self.spark, f"{path}/{BUCKET_COL}={b}"))
            for b in _partitions(self.spark, path, BUCKET_COL)
            if wanted is None or b in wanted
        ]
        parts = sum(1 for n in per_bucket if n)
        if parts == 0 or sum(per_bucket) <= max_files_per_bucket * parts:
            return False
        self.compact_silver(table, buckets=buckets)
        return True

    def zorder_silver(
        self,
        table: str,
        zorder_cols: list[str],
        buckets: list[int] | None = None,
        bits: int = 16,
    ) -> None:
        """Multi-column clustering: rewrite silver buckets ordered along a
        Z-curve over ``zorder_cols`` (the lakehouse OPTIMIZE ZORDER
        pattern, public knowledge) so range predicates on ANY of the
        columns prune row groups/pages — a plain sort optimizes one
        column's locality at the expense of the others.

        Key construction is pure expression work: each column is mapped to
        a ``bits``-bit rank bucket via ``percent_rank`` PARTITIONED BY the
        store bucket (rank-based, so skewed value distributions still
        spread; per-bucket ranks keep the window parallel — pruning is
        per-file, so each bucket only needs internally consistent
        scaling), then the buckets' bits are interleaved
        (:func:`zorder_key`). Mechanics and single-writer contract as
        :meth:`cluster_silver`.
        """
        meta = self._open(table)
        silver = self._read(meta, "silver", table, buckets)
        ranked = []
        for c in zorder_cols:
            w = Window.partitionBy(BUCKET_COL).orderBy(F.col(c).asc_nulls_first())
            pr = F.percent_rank().over(w)
            ranked.append(
                F.least(
                    F.floor(pr * (1 << bits)).cast("long"), F.lit((1 << bits) - 1)
                )
            )
        self._compact(
            meta, table,
            silver.withColumn("_z", zorder_key(ranked, bits=bits))
            .repartition(F.col(BUCKET_COL))
            .sortWithinPartitions(BUCKET_COL, "_z")
            .drop("_z"),
        )

    def rebuild_silver(
        self, table: str, buckets: list[int] | None = None, key_cols: list[str] | None = None
    ) -> None:
        """Recovery path: recompute silver for ``buckets`` (default ALL)
        from immutable bronze — the union of every run's drop, deduped to
        the EARLIEST occurrence of each content hash (matching the persist
        path, whose anti-join keeps the first run's copy and drops later
        replays). Closes the durability story: bronze is the append-only
        source of truth; silver and gold are both pure recomputations
        (this method, then :meth:`rebuild_gold`), so the non-atomic
        dynamic-overwrite windows anywhere above bronze are always
        repairable. Cost is O(bronze history of the selected buckets).

        ``key_cols`` must match the values used by :meth:`persist`; the
        recomputed ``_kb`` uses the table's recorded count, so it agrees
        with the existing layout.
        """
        if key_cols is None:
            raise ValueError("rebuild_silver needs the table's key_cols")
        meta = self._open(table, key_cols)
        if meta is None and (meta := self._load(table)) is not None:
            # bronze only: record the count this rebuild buckets by
            meta = meta.keyed(key_cols)
            self._write_meta(table, meta)
        staged = self._read(meta, "bronze", table).withColumn(
            BUCKET_COL, _key_bucket(meta.key_cols, meta.n_buckets)
        )
        if buckets is not None:
            staged = staged.filter(F.col(BUCKET_COL).isin(buckets))
        self._compact(
            meta, table, _top(staged, _first_rank()).repartition(F.col(BUCKET_COL))
        )

    def stats(self, table: str) -> DataFrame:
        """Operational per-layer summary — rows, files, partitions — the
        numbers that drive maintenance decisions (files ≫ partitions in
        silver → :meth:`compact_silver`; bronze partitions = runs kept).
        One count job per existing layer; no data columns are read beyond
        the partition key, so at scale this is footer/metadata-bound.
        """
        out = []
        for layer, part_col in (("bronze", "run_id"), ("silver", BUCKET_COL), ("gold", BUCKET_COL)):
            path = self._path(layer, table)
            if not self._exists(path):
                continue
            row = (
                self.read(layer, table)
                # project first: input_file_name() is non-deterministic and
                # may not appear directly inside an aggregate
                .select(F.col(part_col), F.input_file_name().alias("_f"))
                .agg(
                    F.count("*").alias("n"),
                    F.countDistinct("_f").alias("f"),
                    F.countDistinct(F.col(part_col)).alias("p"),
                )
                .collect()[0]
            )
            out.append((layer, row["n"], row["f"], row["p"]))
        return self.spark.createDataFrame(
            out, "layer string, n_rows long, n_files long, n_partitions long"
        )

    # ------------------------------------------------- distinct sketches

    def _kmv_path(self, table: str, value_col: str) -> str:
        return f"{self.root}/stats/{table}_kmv_{value_col}"

    def update_kmv(
        self,
        table: str,
        batch_df: DataFrame,
        value_col: str,
        group_cols: list[str],
        k: int = 32,
    ) -> None:
        """Fold a batch into the persisted KMV distinct sketch for
        ``(table, value_col)`` — continuous distinct-count monitoring
        without ever rescanning history.

        The state is a few hundred bytes per group (k 8-byte hashes), so
        each update is O(batch) + a tiny merge; the union-then-re-minimize
        merge is exact (:func:`operators.curation.kmv_merge`), so the
        resulting sketch is identical to one built over all batches at
        once regardless of arrival order. The new sketch is staged at
        ``<sketch>__tmp`` and committed under the module's "Commit
        protocol", so a replayed batch folds into the last committed
        sketch, never into an empty one.

        The prior sketch is read under the batch state's schema (the group
        columns plus ``kmv array<bigint>``), which is the schema this
        method wrote it with, so no footer job infers it.
        """
        from activecampaign_api_data_pipeline_spark.operators.curation import (
            kmv_merge,
            kmv_state,
        )

        path = self._kmv_path(table, value_col)
        staging = path + "__tmp"
        new = kmv_state(batch_df, value_col, group_cols, k)
        if _heal(self.spark, path, staging):
            old = self.spark.read.schema(new.schema).parquet(path)
            merged = kmv_merge(old, new, group_cols, k)
        else:
            merged = new
        merged.coalesce(1).write.mode("overwrite").parquet(staging)
        _swap(self.spark, path, staging)

    def kmv_stats(self, table: str, value_col: str, k: int = 32) -> DataFrame:
        """Distinct-count estimates from the persisted sketch."""
        from activecampaign_api_data_pipeline_spark.operators.curation import kmv_estimate

        return kmv_estimate(
            self.spark.read.parquet(self._kmv_path(table, value_col)), k
        )

    # --------------------------------------------------------------- reads

    def read(self, layer: str, table: str) -> DataFrame:
        """One layer under the table's pinned schema (``_table.json``), so
        no footer job infers it. Runs may add columns (API payload drift —
        the reference keeps every field, U1 ``pd.concat`` alignment): files
        written before a column existed read it as NULL, and the columns
        come in the recorded order (:func:`_widened`) whichever files the
        read touches. Bronze reads the same columns without ``_kb``, with
        its ``run_id`` partition last. A table written before the sidecar
        existed reads under a schema inferred from its footers on the
        driver (:meth:`_load`)."""
        return self._read(self._load(table), layer, table)

    def _read(
        self, meta: TableMeta | None, layer: str, table: str, buckets: list[int] | None = None
    ) -> DataFrame:
        """One layer under ``meta``'s schema; of a bucketed layer, only
        ``buckets`` (partition-pruned) when given."""
        path = self._path(layer, table)
        if meta is None:  # no table: the plain read raises Spark's own error
            return self.spark.read.parquet(path)
        schema = meta.schema
        if layer == "bronze":
            schema = StructType(schema.fields[:-1])
        df = self.spark.read.schema(schema).parquet(path)
        return df if buckets is None else df.filter(F.col(BUCKET_COL).isin(buckets))

    def _write_buckets(self, meta: TableMeta, df: DataFrame, path: str) -> None:
        """The one writer of a bucketed layer's files: ``df``'s rows in the
        table's columns (helper columns such as ``_rn`` drop out),
        partitioned by ``_kb``, with dynamic partition overwrite — the
        ``_kb`` partitions ``df`` holds are replaced, every other one is
        untouched. Re-running it with the same rows writes the same layer,
        which every recovery path and a replayed stream batch rely on."""
        df.select(*meta.schema.names).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(BUCKET_COL).parquet(path)

    def _compact(self, meta: TableMeta, table: str, clustered: DataFrame) -> DataFrame:
        """Every silver rewrite: overwrite the silver buckets that
        ``clustered`` (silver rows clustered by ``_kb``) holds with its
        rows, one file per bucket, and return the materialized copy it
        wrote. ``localCheckpoint`` takes
        the copy BEFORE the overwrite: Spark refuses to overwrite a path
        its plan still reads, and the copy removes the
        re-read-during-delete race."""
        snap = clustered.localCheckpoint(eager=True)
        self._write_buckets(meta, snap, self._path("silver", table))
        return snap

    def read_delta(self, table: str, run_id: str) -> DataFrame:
        """One run's delta = the bronze run partition (partition-pruned)."""
        return self.read("bronze", table).filter(F.col("run_id") == run_id)

    def read_best(self, table: str) -> DataFrame:
        """Gold if present else silver (reference ``_read_best_table`` :1000-1008)."""
        for layer in ("gold", "silver"):
            if self._exists(self._path(layer, table)):
                return self.read(layer, table).drop(BUCKET_COL)
        raise FileNotFoundError(f"{table}: no gold or silver layer in {self.root}")

    # ------------------------------------------------- state checkpoint (K3)

    @property
    def _state_path(self) -> str:
        return f"{self.root}/state.json"

    def load_state(self) -> dict:
        """Reference ``load_json`` of state.json (:70-74, :1557-1559); ``{}``
        before the first run. Reads only: the next :meth:`save_state` heals
        a crashed one. A crash between its two renames leaves no live
        state, so that run starts from watermark 0 and silver dedups the
        contacts it fetches again."""
        raw = read_text_sidecar(self.spark, self._state_path)
        return {} if raw is None else json.loads(raw)

    def save_state(self, state: dict) -> None:
        """Commit the state as one JSON line through
        :func:`write_text_sidecar` (the module's commit protocol, on any
        Hadoop FileSystem), advanced only after a successful run
        (:1696-1700)."""
        write_text_sidecar(self.spark, self._state_path, json.dumps(state, sort_keys=True))


def zorder_key(bucketed: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of the given integer bucket
    columns into one Z-curve value (Morton order, public knowledge) —
    pure shift/and/or arithmetic, whole-stage-codegen'd.

    Bit b of column i lands at output position ``b * n_cols + i``, so
    sorting by the result alternates locality between the columns: a
    range predicate on ANY input column maps to O(few) contiguous runs
    of the curve instead of a full scan.
    """
    n = len(bucketed)
    if n == 0:
        raise ValueError("zorder_key needs at least one column")
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(bucketed):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def max_id_watermark(df: DataFrame, id_col: str) -> int | None:
    """A4/T1: high-watermark over a monotone key (reference :266, :1697-1698)."""
    row = df.agg(F.max(F.col(id_col).cast("long")).alias("m")).collect()[0]
    return row["m"]


def save_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed+sorted catalog table for co-located joins.

    Two tables bucketed the same way on their join key hash-join WITHOUT a
    shuffle (no Exchange in the plan) — the pre-partitioning strategy for
    repeatedly-joined 100 TB fact tables. Requires the session catalog
    (``saveAsTable``); plain parquet paths cannot carry bucket metadata.
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def write_digests(df: DataFrame, path: str, key_col: str, text_col: str) -> None:
    """K4 per-entity text sink: one directory per key holding its digest text

    (reference writes ``contact_<id>.txt`` per contact, :1684-1692).
    """
    df.select(F.col(key_col), F.col(text_col).alias("value")).write.mode(
        "overwrite"
    ).partitionBy(key_col).text(path)
