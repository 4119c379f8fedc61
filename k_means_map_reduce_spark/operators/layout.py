"""Data-layout operators: Z-order clustering for multi-dimensional skipping.

See functions/zorder.py for the key construction. `zorder_write` is the
write-side entry (repartitionByRange on the key + sortWithinPartitions →
every parquet file covers a small Z-curve segment, so min/max row-group
stats stay tight on BOTH dimensions); `events_zorder_keys` registers the
key computation itself as an oracled query (DuckDB recomputes the exact
interleave), which pins the bit-level layout contract cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._memo import memoized
from ..registry import query
from ..sources import load_table
from ..functions.zorder import (
    interleave_bits_sql,
    rank32_sql,
    zorder_key,
)


def zorder_write(
    df: DataFrame, path: str, x_col: str, y_col: str, num_files: int = 8
) -> None:
    """Write df parquet-clustered along the (x_col, y_col) Z-curve.

    One cheap agg for global bounds, one range-partitioning shuffle on the
    key (range, not hash: neighboring curve segments land in the same file),
    an in-partition sort so row groups inside each file stay tight too.
    At 100 TB this is the OPTIMIZE ZORDER pass run after ingest; bounds come
    from table stats instead of the agg."""
    b = df.agg(
        F.min(x_col).alias("xlo"),
        F.max(x_col).alias("xhi"),
        F.min(y_col).alias("ylo"),
        F.max(y_col).alias("yhi"),
    )
    keyed = df.crossJoin(F.broadcast(b)).withColumn(
        "_zkey",
        zorder_key(
            F.col(x_col), F.col("xlo"), F.col("xhi"),
            F.col(y_col), F.col("ylo"), F.col("yhi"),
        ),
    ).drop("xlo", "xhi", "ylo", "yhi")
    (
        keyed.repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


@query(
    "events_zorder_keys",
    oracle=f"""
    WITH b AS (
      SELECT MIN(user_id) AS xlo, MAX(user_id) AS xhi,
             MIN(value) AS ylo, MAX(value) AS yhi
      FROM events
    ),
    ranked AS (
      SELECT e.event_id,
             {rank32_sql('e.user_id', 'b.xlo', 'b.xhi')} AS rx,
             {rank32_sql('e.value', 'b.ylo', 'b.yhi')} AS ry
      FROM events e CROSS JOIN b
    )
    SELECT event_id, {interleave_bits_sql('rx', 'ry')} AS zkey
    FROM ranked
    """,
)
def events_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order key per event over (user_id, value) — the clustering key
    `zorder_write` sorts by, hash-compared bit-for-bit against DuckDB's
    recomputation (64 unrolled shift/mask terms must agree exactly)."""
    e = load_table(spark, sf_dir, "events")
    b = e.agg(
        F.min("user_id").alias("xlo"),
        F.max("user_id").alias("xhi"),
        F.min("value").alias("ylo"),
        F.max("value").alias("yhi"),
    )
    return (
        e.crossJoin(F.broadcast(b))
        .select(
            "event_id",
            zorder_key(
                F.col("user_id"), F.col("xlo"), F.col("xhi"),
                F.col("value"), F.col("ylo"), F.col("yhi"),
            ).alias("zkey"),
        )
    )


_IDX_BITS = 1 << 13  # bloom bits per file (1 KB of longs)


def build_file_index(spark: SparkSession, path: str, col: str) -> DataFrame:
    """Manifest-style skipping index: one row per parquet file of `path`
    with (file, lo, hi, bloom words) for `col` — min/max for range pruning
    plus a per-file Bloom filter for point-lookup pruning that survives
    value gaps inside a file's [lo, hi] span.

    This is the poor-man's Iceberg/Delta manifest, built WITH the engine:
    one scan groups rows by input_file_name(); min/max and the bloom words
    (xxhash64 positions -> bit_or over 64-bit words -> dense array via a
    map + sequence fill) are all aggregation expressions. The index is
    O(files) rows — thousands of rows for a 100 TB table — and lives
    happily as a parquet table refreshed per ingest batch.
    """
    from .bloom import _bit_mask, _positions

    df = spark.read.parquet(path).select(
        F.input_file_name().alias("file"), F.col(col).alias("v")
    )
    minmax = df.groupBy("file").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    pos = df.select(
        "file",
        F.explode(F.array(*_positions(F.col("v"), _IDX_BITS, 5))).alias("pos"),
    )
    words = (
        pos.select(
            "file",
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            _bit_mask(F.col("pos")).alias("mask"),
        )
        .groupBy("file", "word_idx")
        .agg(F.bit_or("mask").alias("word"))
        .groupBy("file")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word_idx", "word"))
            ).alias("m")
        )
        .select(
            "file",
            F.transform(
                F.sequence(F.lit(0), F.lit(_IDX_BITS // 64 - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("m"), i), F.lit(0).cast("long")
                ),
            ).alias("words"),
        )
    )
    return minmax.join(words, "file")


def pruned_point_read(
    spark: SparkSession, path: str, index: DataFrame, col: str, value
) -> tuple[DataFrame, int]:
    """Point lookup through the index: keep files whose [lo, hi] covers the
    value AND whose Bloom filter admits it, then read ONLY those files.
    Returns (rows, n_files_read). Exact by construction — min/max and
    bloom both only ever skip true negatives.

    At scale the index probe is a driver-side flash (O(files) rows,
    broadcast-small); the read lists explicit files, so the scan cost is
    proportional to matching files, not table size — this is the entire
    economics of manifest pruning.
    """
    from .bloom import bloom_might_contain_col

    # xxhash64 is TYPE-sensitive: probing an indexed BIGINT column with an
    # int32 literal hashes differently and silently prunes everything — pin
    # the literal to the column's on-disk type.
    col_type = spark.read.parquet(path).schema[col].dataType
    lit = F.lit(value).cast(col_type)
    hits = index.where(
        (lit >= F.col("lo"))
        & (lit <= F.col("hi"))
        & bloom_might_contain_col(lit, F.col("words"), _IDX_BITS)
    )
    files = [r["file"] for r in hits.select("file").collect()]
    if not files:
        empty = spark.read.parquet(path).where(F.lit(False))
        return empty, 0
    return (
        spark.read.parquet(*files).where(F.col(col) == value),
        len(files),
    )


@query(
    "layout_index_point_lookup",
    oracle="""
    SELECT event_id, user_id, event_type,
           ROUND(value, 6) AS value
    FROM events
    WHERE user_id = (SELECT MIN(user_id) FROM events)
    """,
)
def layout_index_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof of the skipping index: z-write a copy of events,
    build the manifest index, and serve the lowest user_id's events through
    `pruned_point_read` — the result must equal a plain filtered scan
    (DuckDB recomputes it from the raw table), while reading only the
    files the index admits (subset asserted in tests/test_layout.py).

    The staged copy + index are ingest-time artifacts: memoized per
    (session, sf_dir) — repeated invocations time the lookup, not the
    build — and the staging dir is removed at interpreter exit.
    """
    e = load_table(spark, sf_dir, "events")
    path, index = _zidx_artifacts(spark, sf_dir)
    target = e.agg(F.min("user_id")).first()[0]
    rows, _n = pruned_point_read(spark, path, index, "user_id", target)
    return rows.select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )


@memoized("layout.zidx")
def _zidx_artifacts(spark: SparkSession, sf_dir: str):
    """(staged z-ordered path, cached index DF) per (session, sf_dir)."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix="kmmr_zidx_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    e = load_table(spark, sf_dir, "events")
    zorder_write(e, path, "user_id", "value", num_files=8)
    index = build_file_index(spark, path, "user_id").persist()
    return path, index


@query(
    "layout_compaction_census",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders)
    SELECT
      CAST(16 AS INT) AS files_before,
      CAST((n_rows + ((n_rows + 3) // 4) - 1) // ((n_rows + 3) // 4)
           AS INT) AS files_after,
      n_rows,
      n_rows AS rows_after
    FROM n
    """,
)
def layout_compaction_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction exercised END-TO-END as a registered query:
    stage the orders table as 16 parquet files (the streaming-ingest
    fragmentation shape), run sources/sinks.compact_files with a
    quarter-table target, and report (files_before, files_after, rows
    before/after) — the silent killer of 100 TB tables is file count
    (every file = a task + an open + a footer parse), and this registers
    the maintenance pass that fixes it, with row conservation as the
    correctness claim. Deterministic: 16 is pinned by repartition(16)
    (round-robin leaves no empty partitions while orders ≥ 16 rows —
    1,500 at the smallest shipped SF), files_after = ceil(n / ceil(n/4))
    is pure integer arithmetic the oracle recomputes from COUNT(*)
    alone."""
    import math
    import shutil
    import tempfile

    o = load_table(spark, sf_dir, "orders")
    # try/finally on the mkdtemp PARENT (r12 advice): rmtree'ing only the
    # /orders subdir leaked one empty kmmr_compact_* dir per invocation
    # (every warm bench rep), and a mid-run failure leaked the whole
    # staged 16-file copy.
    tmp_root = tempfile.mkdtemp(prefix="kmmr_compact_")
    try:
        path = tmp_root + "/orders"
        o.repartition(16).write.parquet(path)
        n = spark.read.parquet(path).count()
        from ..sources.sinks import compact_files

        before, after = compact_files(
            spark, path, target_rows_per_file=math.ceil(n / 4)
        )
        rows_after = spark.read.parquet(path).count()
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
    return spark.range(1).select(
        F.lit(before).cast("int").alias("files_before"),
        F.lit(after).cast("int").alias("files_after"),
        F.lit(n).cast("bigint").alias("n_rows"),
        F.lit(rows_after).cast("bigint").alias("rows_after"),
    )
