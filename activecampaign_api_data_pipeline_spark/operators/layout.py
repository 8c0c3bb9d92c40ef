"""Z-order (Morton curve) data layout + min/max file-skipping manifest.

At 100 TB the fastest scan is the one that never happens: cluster the
table so each file covers a tight hyper-rectangle of the filter columns,
record per-file min/max statistics in a manifest, and let point/range
queries read only the files whose stats overlap the predicate — the
Delta Lake ``OPTIMIZE ZORDER BY`` / Iceberg sort-order idea (public
literature: Morton 1966; the multi-dimensional clustering sections of
the Delta/Iceberg docs), built here from plain parquet + a manifest
table, no table format required.

Why Morton order: range-partitioning on ``(a, b)`` lexicographically
makes files tight in ``a`` but spans the full ``b`` domain, so
``b``-only predicates prune nothing. Interleaving the bits of both
columns gives every file a bounded extent in BOTH dimensions — either
predicate skips most files.

No reference-pipeline analog (`run_ac_extraction.py` writes flat CSVs);
lake-layout extension family alongside ``storage.save_bucketed``.

Scale notes: the z-value is a pure JVM-side bit expression (no UDF);
the write is one ``repartitionByRange`` (range boundaries come from
Spark's reservoir sample, so file BOUNDARIES are not bit-stable across
runs — query RESULTS are, which is what the oracle checks); the
manifest is one tiny aggregate over ``input_file_name()`` and the
pruning decision is a manifest scan, never a data scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from activecampaign_api_data_pipeline_spark.storage import _fs, _heal, _swap, zorder_key

MANIFEST = "_manifest"


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 32,
    bits: int = 16,
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered along the
    Morton curve of ``(col_a, col_b)``, plus a ``_manifest`` table of
    per-file min/max for both columns and a row count. One range
    shuffle + one metadata-sized aggregate."""
    zv = zorder_key([F.col(col_a), F.col(col_b)], bits)
    (
        df.withColumn("_zv", zv)
        .repartitionByRange(n_files, F.col("_zv"))
        .sortWithinPartitions("_zv")
        .drop("_zv")
        .write.mode("overwrite")
        .parquet(path)
    )
    _write_manifest(df.sparkSession, path, col_a, col_b)


def _write_manifest(spark: SparkSession, path: str, col_a: str, col_b: str) -> None:
    """(Re)build the per-file min/max skipping manifest from the live
    files — one metadata-sized aggregate over ``input_file_name()``."""
    manifest = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min(col_a).alias(f"min_{col_a}"),
            F.max(col_a).alias(f"max_{col_a}"),
            F.min(col_b).alias(f"min_{col_b}"),
            F.max(col_b).alias(f"max_{col_b}"),
            F.count("*").alias("n_rows"),
        )
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(f"{path}/{MANIFEST}")


def _norm(uri: str) -> str:
    """Normalize a file URI for identity comparison: ``file:///x``,
    ``file:/x`` and ``/x`` all denote the same local file."""
    import re

    return re.sub(r"^file:/+", "/", uri)


def _data_files(spark: SparkSession, path: str) -> list[str]:
    """The live part files of ``path`` (one listStatus; hidden ``_``
    entries like the manifest are excluded, matching Spark's reader)."""
    fs, P = _fs(spark, path)
    return [
        st.getPath().toString()
        for st in fs.listStatus(P(path))
        if st.isFile() and st.getPath().getName().startswith("part-")
    ]


def _read_index(spark: SparkSession, path: str) -> list:
    """Rows of a per-file index table (``_manifest``, ``_bloom``), read by
    its part files: Spark's reader ignores a path whose own name starts
    with ``_`` and logs "All paths were ignored" on every read."""
    return spark.read.parquet(*_data_files(spark, path)).collect()


def pruned_read(
    spark: SparkSession,
    path: str,
    ranges: dict[str, tuple],
) -> tuple[DataFrame, int, int]:
    """Manifest-gated read: skip files whose [min, max] envelope misses
    ANY requested ``col: (lo, hi)`` range, then hand the survivors to
    the parquet reader (whose row-group stats prune further). Returns
    ``(df, files_selected, files_total)``. The caller still applies the
    exact predicate — manifests bound, they don't filter.

    CORRECTNESS RULE for stale manifests: a data file ABSENT from the
    manifest (appended after the last write_zordered/optimize) has no
    stats, so it can never be skipped — it is always read. Skipping is
    an optimization earned by stats; missing stats degrade to a full
    read of that file, never to dropped rows. An empty survivor set
    returns an empty-but-typed frame."""
    stats = {
        _norm(r["file"]): r
        for r in _read_index(spark, f"{path}/{MANIFEST}")
    }
    files = _data_files(spark, path)
    total = len(files)
    keep = []
    for f in files:
        row = stats.get(_norm(f))
        if row is None:  # unmanifested append: must scan
            keep.append(f)
            continue
        # NULL stats (a file all-NULL in a pruned column) are unskippable:
        # missing stats degrade to a read, never to a skip.
        ok = all(
            row[f"min_{c}"] is None
            or row[f"max_{c}"] is None
            or not (row[f"min_{c}"] > hi or row[f"max_{c}"] < lo)
            for c, (lo, hi) in ranges.items()
        )
        if ok:
            keep.append(f)
    if not keep:
        return spark.read.parquet(path).filter(F.lit(False)), 0, total
    return spark.read.parquet(*keep), len(keep), total


def optimize_zorder(
    spark: SparkSession,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 32,
    bits: int = 16,
) -> None:
    """Re-cluster a table that has taken unclustered appends — the
    ``OPTIMIZE ZORDER`` maintenance step: read the live files (clustered
    base + appended stragglers), rewrite the whole set Morton-ordered to
    ``{path}__optimizing``, commit it under ``storage``'s "Commit
    protocol", then rebuild the manifest so every file is skippable
    again. A copy rolled forward after a crash between the renames has
    no manifest; the full run that follows rewrites it and builds one."""
    staging = f"{path}__optimizing"
    if not _heal(spark, path, staging):
        raise FileNotFoundError(
            f"optimize_zorder: no live table at {path} and no staging copy"
        )
    zv = zorder_key([F.col(col_a), F.col(col_b)], bits)
    (
        spark.read.parquet(path)
        .withColumn("_zv", zv)
        .repartitionByRange(n_files, F.col("_zv"))
        .sortWithinPartitions("_zv")
        .drop("_zv")
        .write.mode("overwrite")
        .parquet(staging)
    )
    _swap(spark, path, staging)
    _write_manifest(spark, path, col_a, col_b)


BLOOM_MANIFEST = "_bloom"


def _bloom_positions(key: Column, m_bits: int, k_hashes: int) -> Column:
    """The ``k_hashes`` bloom bit positions of ``key`` as an int array —
    pure JVM xxhash64 with per-hash seeds. The key is cast to long HERE,
    on both the build and the probe path, because xxhash64 hashes an
    int and a long to different values: an int-typed data column probed
    with a long-typed literal would silently skip files that contain
    the key (dropped rows), not just mis-prune."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key.cast("long"), F.lit(i)), F.lit(m_bits)).cast("int")
            for i in range(k_hashes)
        ]
    )


def write_bloom_indexed(
    df: DataFrame,
    path: str,
    key: str,
    layout_col: str,
    n_files: int = 16,
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> None:
    """Write ``df`` range-clustered on ``layout_col`` plus a per-file
    BLOOM index over ``key`` — the Delta Lake bloom-filter-index idea
    (public: Bloom 1970; Delta's index docs) for point lookups on a
    HIGH-CARDINALITY key the layout does NOT cluster: min/max stats on
    ``key`` are useless when every file spans the key domain, but each
    file only CONTAINS a small key subset, which a bloom captures.

    The index is stored sparse (sorted distinct set-bit positions per
    file) — fine while files hold ≲ ``m_bits/k`` distinct keys; a 100 TB
    build packs the same positions into ``m_bits/64`` longs per file and
    sizes ``m_bits`` off the expected distinct count (~10 bits/key for
    ~1% false positives). Build cost: one distinct-positions aggregate
    per file, metadata-sized output."""
    (
        df.repartitionByRange(n_files, F.col(layout_col))
        .write.mode("overwrite")
        .parquet(path)
    )
    spark = df.sparkSession
    idx = (
        spark.read.parquet(path)
        .select(
            F.input_file_name().alias("file"),
            F.explode(_bloom_positions(F.col(key), m_bits, k_hashes)).alias("pos"),
        )
        .groupBy("file")
        .agg(F.array_sort(F.collect_set("pos")).alias("bits"))
    )
    idx.coalesce(1).write.mode("overwrite").parquet(f"{path}/{BLOOM_MANIFEST}")


def bloom_pruned_read(
    spark: SparkSession,
    path: str,
    key: str,
    values: list[int],
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> tuple[DataFrame, int, int]:
    """Point-lookup read through the bloom index: keep a file iff its
    bloom CONTAINS every bit position of at least one probe value (a
    false positive only adds a file read; a bloom can never miss a key
    it indexed). Same stale-layout rule as :func:`pruned_read`: a data
    file absent from the index has no bloom and is always read. Returns
    ``(df, files_selected, files_total)``; the caller still applies the
    exact predicate."""
    probe = spark.createDataFrame([(int(v),) for v in values], f"{key} long")
    want = [
        set(r["p"])
        for r in probe.select(
            _bloom_positions(F.col(key), m_bits, k_hashes).alias("p")
        ).collect()
    ]
    blooms = {
        _norm(r["file"]): set(r["bits"])
        for r in _read_index(spark, f"{path}/{BLOOM_MANIFEST}")
    }
    files = _data_files(spark, path)
    keep = [
        f
        for f in files
        if _norm(f) not in blooms  # unindexed append: must scan
        or any(w <= blooms[_norm(f)] for w in want)
    ]
    if not keep:
        return (
            spark.read.parquet(path).filter(F.lit(False)),
            0,
            len(files),
        )
    return spark.read.parquet(*keep), len(keep), len(files)
