"""Table maintenance: small-file compaction + table stats probe.

The reference gets OPTIMIZE/auto-compaction implicitly from Delta on
Databricks (gold_dim_branch.py:188 Delta write path); a plain parquet lake
has to do it itself. Incremental ingest is the classic small-file factory —
one file per writer task per batch — and at 100 TB a table served by
millions of KB-sized files dies on scan-planning and open() overhead long
before raw bandwidth matters. ``compact_table`` is the bin-packing rewrite
pass: read the table, size the target file count from the table's actual
bytes, rewrite, atomically swap.

Design notes (scale):
- The stats probe is DISTRIBUTED: it reads the hidden ``_metadata`` file
  source column (file_path, file_size) plus footer-driven row counts — no
  driver-side directory walk, works on any Hadoop-compatible FS.
- Sizing uses the table's own on-disk bytes, so the target holds under
  compression-ratio drift; ``repartition(n)`` is one round-robin shuffle
  producing uniformly sized output files.
- The rewrite is ``sinks.atomic_overwrite`` (write new version to temp,
  swap) with the table's commit record carried over verbatim, so readers
  never observe a half-compacted table and a crash mid-rewrite leaves the
  original intact.
- Partitioned tables compact WITHIN each partition (one shuffle keyed by
  partition value + a file-count salt), preserving the partition layout
  that downstream pruning depends on. Their rewrite is
  ``sinks.overwrite_partitions``: one staged commit through the table's
  commit record, which it keeps, superseding every file it rewrote.
"""

from __future__ import annotations

import glob
import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incremental_data_pipeline_spark.sources import sinks
from incremental_data_pipeline_spark.sources.sinks import atomic_overwrite, overwrite_partitions

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def file_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-file (file, bytes, rows) for a parquet table — the probe that
    decides whether compaction is worth a rewrite. Row counts come from
    footer metadata (zero data columns scanned); file path/size from the
    ``_metadata`` hidden column, so the probe runs distributed on any FS."""
    df = sinks.read_table(spark, path)
    return (
        df.select(
            F.col("_metadata.file_path").alias("file"),
            F.col("_metadata.file_size").alias("bytes"),
        )
        .groupBy("file", "bytes")
        .agg(F.count(F.lit(1)).alias("rows"))
    )


def table_stats(spark: SparkSession, path: str) -> dict:
    """Table-level rollup: n_files, total_bytes, total_rows, and the
    small-file symptom (files under a quarter of the default target)."""
    row = (
        file_stats(spark, path)
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").alias("total_bytes"),
            F.sum("rows").alias("total_rows"),
            F.sum(
                (F.col("bytes") < DEFAULT_TARGET_FILE_BYTES // 4).cast("long")
            ).alias("small_files"),
        )
        .first()
    )
    return {k: row[k] for k in ("n_files", "total_bytes", "total_rows", "small_files")}


ZORDER_BITS = 16


def zorder_value(cols: list, mins: list, maxs: list):
    """Z-order (Morton) curve position for up to a few numeric columns:
    each column is min/max-scaled to a ZORDER_BITS integer, then the bits
    are interleaved. Rows close on the curve are close in EVERY dimension,
    so range-partitioning a table by this value gives each output file a
    tight min/max envelope on ALL z-ordered columns at once — parquet
    row-group / file skipping then prunes point and range predicates on any
    of them, the OPTIMIZE ZORDER effect without Delta. Pure JVM bit
    arithmetic (shifts + masks), whole-stage codegen'd."""
    scaled = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = (hi - lo) or 1
        scaled.append(
            F.least(
                F.lit((1 << ZORDER_BITS) - 1),
                (
                    (F.col(c).cast("double") - F.lit(float(lo)))
                    / F.lit(float(span))
                    * F.lit(float((1 << ZORDER_BITS) - 1))
                ).cast("long"),
            )
        )
    z = F.lit(0).cast("long")
    nd = len(scaled)
    for bit in range(ZORDER_BITS):
        for d, s in enumerate(scaled):
            z = z + (
                F.shiftleft(
                    F.shiftright(s, bit).bitwiseAND(F.lit(1)), bit * nd + d
                )
            )
    return z


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    partition_cols: list[str] | None = None,
    zorder_cols: list[str] | None = None,
) -> dict:
    """Bin-pack a parquet table's files toward ``target_file_bytes``.

    Unpartitioned: one round-robin ``repartition(ceil(bytes/target))`` —
    uniform output files regardless of input skew. Partitioned: each
    partition directory is bin-packed independently — a tiny per-partition
    row-count dim (broadcast back onto the data) sizes a salt
    ``pmod(hash, files_for_this_partition)``, the table shuffles once on
    (partition values, salt), and ``sinks.overwrite_partitions`` replaces
    every directory's files in one staged commit, preserving the layout
    downstream pruning depends on. Per-partition bytes are estimated as rows × the table's
    global bytes/row — exact enough for packing, and it avoids a second
    footer pass.

    ``zorder_cols`` (unpartitioned tables): instead of round-robin packing,
    rows are range-partitioned on their Z-curve position (``zorder_value``),
    clustering every listed column into tight per-file min/max envelopes —
    compaction and data-skipping optimization in the same single rewrite,
    like Delta's ``OPTIMIZE ... ZORDER BY``. Column min/max for the scaling
    come from one tiny agg over the table.

    Data-preserving by construction (a pure rewrite — no dedup, no
    reorder semantics) and atomic via temp-write + swap (unpartitioned) /
    the replace of the commit record (partitioned). The table's commit record
    (epoch and marks) survives either way, so a medallion table compacted
    between batches still takes the next batch's append. Returns
    {'files_before', 'files_after', 'bytes', 'rows'}.
    """
    before = table_stats(spark, path)
    total_bytes = before["total_bytes"] or 0
    total_rows = before["total_rows"] or 1
    n = max(1, math.ceil(total_bytes / target_file_bytes))
    df = sinks.read_table(spark, path)
    record = sinks.commit_record(path)  # the same rows: it still describes them
    if zorder_cols:
        if partition_cols:
            raise ValueError("zorder_cols supports unpartitioned tables")
        bounds = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"__lo_{c}") for c in zorder_cols],
            *[F.max(F.col(c).cast("double")).alias(f"__hi_{c}") for c in zorder_cols],
        ).first()
        z = zorder_value(
            zorder_cols,
            [bounds[f"__lo_{c}"] for c in zorder_cols],
            [bounds[f"__hi_{c}"] for c in zorder_cols],
        )
        clustered = df.withColumn("__z", z).repartitionByRange(n, "__z")
        atomic_overwrite(clustered.sortWithinPartitions("__z").drop("__z"), path, record)
    elif not partition_cols:
        atomic_overwrite(df.repartition(n), path, record)
    else:
        bytes_per_row = total_bytes / total_rows
        sizes = (
            df.groupBy(*partition_cols)
            .agg(F.count(F.lit(1)).alias("__prows"))
            .withColumn(
                "__pfiles",
                F.greatest(
                    F.lit(1),
                    F.ceil(F.col("__prows") * F.lit(bytes_per_row) / F.lit(target_file_bytes)),
                ).cast("int"),
            )
            .drop("__prows")
        )
        salted = df.join(F.broadcast(sizes), partition_cols).withColumn(
            "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.col("__pfiles"))
        )
        packed = salted.repartition(
            *[F.col(c) for c in partition_cols], F.col("__salt")
        ).drop("__pfiles", "__salt")
        overwrite_partitions(packed, path, partition_cols)
    after = table_stats(spark, path)
    return {
        "files_before": before["n_files"],
        "files_after": after["n_files"],
        "bytes": after["total_bytes"],
        "rows": after["total_rows"],
    }


def expire_versions(path: str, keep_last_n: int) -> list[int]:
    """Retention for the ``versioned_overwrite`` table emulation — the
    VACUUM / log-retention half of the Delta feature set whose read
    semantics ``read_version`` emulates. Expires (deletes) all but the
    last ``keep_last_n`` versions; the version the ``_CURRENT`` pointer
    names is NEVER expired, even at ``keep_last_n=0`` — current reads
    must stay unaffected by retention. Returns the expired version
    numbers (ascending); time-travel to any of them subsequently fails
    loudly in ``read_version`` (FileNotFoundError), matching Delta's
    behavior for a vacuumed ``versionAsOf``. Driver-side listdir
    bookkeeping only — no Spark job, exactly like Delta's log cleanup.
    Single-writer contract, as documented by the swap-based sinks.
    """
    if keep_last_n < 0:
        raise ValueError(f"keep_last_n must be >= 0, got {keep_last_n}")
    versions = sinks.list_versions(path)
    protected = set(versions[len(versions) - keep_last_n :] if keep_last_n else [])
    protected.add(sinks._current_version(path))
    expired = [v for v in versions if v not in protected]
    for v in expired:
        sinks.drop_version(path, v)
    return expired


def vacuum_swap_debris(path: str) -> list[str]:
    """Remove leftover ``.__tmp__*`` / ``.__old__`` sibling directories a
    crashed ``atomic_overwrite`` can strand next to ``path``. Safe only
    when no swap is in flight for ``path`` (single-writer contract): a
    live writer's temp dir is indistinguishable from debris. The stable
    ``path.__old__`` name is removed only when ``path`` itself exists —
    if the table is missing, ``__old__`` is the interrupted-swap backup
    that ``recover_interrupted_swap`` needs, so it is left alone.
    Returns the removed paths.
    """
    removed = []
    for tmp in glob.glob(f"{glob.escape(path)}{sinks._TMP}*"):
        shutil.rmtree(tmp, ignore_errors=True)
        removed.append(tmp)
    old = f"{path}{sinks._OLD}"
    if os.path.exists(path) and os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)
        removed.append(old)
    # Orphaned per-writer stage dirs a crashed ``versioned_overwrite``
    # strands INSIDE a versioned table dir (".vN.stage-<uuid>"). Same
    # no-write-in-flight contract as above.
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if name.startswith(".v") and sinks._STAGE in name:
                stale = os.path.join(path, name)
                shutil.rmtree(stale, ignore_errors=True)
                removed.append(stale)
    return removed


def expire_partitions(path: str, partition_col: str, keep_last_n: int) -> list[str]:
    """Partition-level retention for a date-partitioned table: keep the
    lexicographically-LAST ``keep_last_n`` ``col=value`` directories (ISO
    dates sort chronologically) and delete the rest — the bronze-layer
    "keep a rolling window of raw days" policy. Returns the expired
    partition values (ascending). Driver-side directory bookkeeping only,
    like ``expire_versions``; the next scan simply lists fewer
    directories, and partition pruning on survivors is unaffected.
    Single-writer contract as documented by the swap-based sinks."""
    if keep_last_n < 1:
        raise ValueError(f"keep_last_n must be >= 1, got {keep_last_n}")
    prefix = f"{partition_col}="
    parts = sorted(d for d in os.listdir(path) if d.startswith(prefix))
    expired = parts[:-keep_last_n]
    for d in expired:
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    return [d[len(prefix):] for d in expired]
