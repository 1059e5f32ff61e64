"""Small-files compaction — the table-maintenance operator every
long-running ingest needs at scale: streaming/incremental writers emit
one file per trigger per partition, and a 100 TB table accumulates
millions of KB-sized parquet files whose per-file open/footer cost
dominates scans (the classic small-files problem; Iceberg/Delta ship
`rewrite_data_files`/`OPTIMIZE` for exactly this). This is the plain-
parquet form: size-aware rewrite into right-sized files.

Sizing is by MEASURED bytes, not row counts: the target file count is
ceil(total_compressed_bytes / target_bytes), never fewer than 1, and
the rewrite uses a round-robin repartition (no key skew — compaction
must not inherit data skew; layout-preserving compaction would
repartitionByRange on the sort key instead, noted for callers).

Swap protocol (and its honest limits — round-8 ADVICE): the rewrite
stages into a sibling ``.__compact__`` directory and is swapped in via
two plain renames (``path`` -> ``.__old__``, ``.__compact__`` ->
``path``). Plain-directory rename is not transactional, so there IS a
crash window between the two renames during which no directory exists
at ``path``; the ``.__old__`` backup makes that window RECOVERABLE,
not invisible (a metadata-pointer table format — Iceberg/Delta — is
the true atomic fix and is out of scope for the plain-parquet form).
Every entry therefore starts with crash recovery: a leftover
``.__old__`` with no live table is rolled back to the original; stale
staging/backup dirs next to a live table are removed so a previous
crash can never brick the next run. The backup is deleted only after
BOTH a row-count and a full content-checksum parity check pass.

Partitioned (hive-layout) datasets are explicitly refused: this
operator is the flat-parquet form, and silently reading
``key=.../part.parquet`` trees would flatten the partition columns
into data columns while measuring bytes_before=0.

For a table that cannot tolerate the recoverable-but-real window (or
needs readers isolated from the swap entirely), use the versioned
form: ``sinks/versioned.py`` publishes immutable version directories
behind one atomically-replaced manifest line — zero crash window,
snapshot-isolated readers — and its ``compact_chain`` folds a table
into a new version behind the same parity gates as this module.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def parquet_file_stats(path: str) -> tuple[int, int]:
    """(n_files, total_bytes) over the directory's top-level parquet
    parts. Raises if the directory nests subdirectories (partitioned
    layout) — see module docstring."""
    subdirs = [
        f
        for f in os.listdir(path)
        if os.path.isdir(os.path.join(path, f)) and not f.startswith(".")
    ]
    if subdirs:
        raise ValueError(
            f"compact_parquet is the flat-parquet form; {path!r} nests "
            f"subdirectories (partitioned layout?): {sorted(subdirs)[:3]}"
        )
    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


def _content_checksum(spark: SparkSession, path: str) -> tuple[int, str]:
    """(row_count, order-insensitive content checksum) of a parquet dir.

    Checksum = SUM(xxhash64(all columns)) carried in decimal(38,0) so
    it is exact (no long overflow under ANSI mode) and independent of
    row/file order — a far stronger parity gate than count() alone
    (round-8 ADVICE: count parity alone guarded deleting the only
    original copy)."""
    df = spark.read.parquet(path)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("ck"),
    ).collect()[0]
    return int(row["n"]), str(row["ck"])


def _recover(path: str) -> None:
    """Crash recovery at entry: make ``path`` live and remove leftovers.

    Cases (staging = path.__compact__, backup = path.__old__):
      * backup exists, path missing  -> crashed between the two swap
        renames: roll the backup forward to ``path`` (original data).
      * backup exists, path exists   -> crashed after swap, before
        cleanup: the live table is the NEW data; drop the backup.
      * staging exists               -> a previous rewrite died before
        swap; the live table is untouched — drop the stale staging.
    """
    staging = path.rstrip("/") + ".__compact__"
    backup = path.rstrip("/") + ".__old__"
    if os.path.exists(backup):
        if not os.path.exists(path):
            os.rename(backup, path)
        else:
            shutil.rmtree(backup)
    if os.path.exists(staging):
        shutil.rmtree(staging)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_by: str | None = None,
) -> dict:
    """Rewrite the flat parquet directory at ``path`` into
    ceil(total_bytes / target_bytes) files. Returns a stats dict
    {files_before, bytes_before, files_after, rows}. Refuses to swap in
    the rewrite unless row count AND content checksum match exactly.

    ``sort_by``: LAYOUT-PRESERVING compaction (the Delta/Iceberg
    ``OPTIMIZE ... ZORDER``-lite, single-key form): instead of the
    round-robin rewrite, range-partition on the key and sort within
    each output file, so every file owns a disjoint key range and its
    parquet min/max footer statistics prune point/range scans to ~one
    file — compaction then BUYS scan locality instead of merely fixing
    the file count. Round-robin stays the default because it is
    skew-proof; range layout inherits the key's skew (AQE cannot help
    a deliberate repartitionByRange), which is the documented trade."""
    _recover(path)
    files_before, bytes_before = parquet_file_stats(path)
    n_out = max(1, math.ceil(bytes_before / target_bytes))
    rows_before, ck_before = _content_checksum(spark, path)
    staging = path.rstrip("/") + ".__compact__"
    src = spark.read.parquet(path)
    if sort_by is not None:
        src = src.repartitionByRange(n_out, sort_by).sortWithinPartitions(
            sort_by
        )
    else:
        src = src.repartition(n_out)
    src.write.mode("overwrite").parquet(staging)
    rows_after, ck_after = _content_checksum(spark, staging)
    if (rows_after, ck_after) != (rows_before, ck_before):
        shutil.rmtree(staging)
        raise RuntimeError(
            "compaction parity mismatch: "
            f"rows {rows_before} -> {rows_after}, "
            f"checksum {ck_before} -> {ck_after}"
        )
    backup = path.rstrip("/") + ".__old__"
    os.rename(path, backup)
    os.rename(staging, path)  # crash window: recovered by _recover()
    shutil.rmtree(backup)
    files_after, _ = parquet_file_stats(path)
    return {
        "files_before": files_before,
        "bytes_before": bytes_before,
        "files_after": files_after,
        "rows": rows_before,
    }
