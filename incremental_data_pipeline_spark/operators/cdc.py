"""Change-data-capture primitives.

Rebuilds the reference's CDC machinery (SURVEY §2.1 S2-S4, §2.3 J1, §2.8 I1)
as generic DataFrame operators:

- the reference's "left join + isNull/isNotNull split" new/old-row detector
  (gold_dim_branch.py:79-105) becomes explicit left_anti / left_semi joins —
  same semantics, no fan-out risk from duplicate sink keys, and Catalyst
  plans them as a single broadcast/shuffled hash join with no post-filter;
- "what changed between two keyed versions" is one full-outer join,
  ``changes``: ``snapshot_diff``, the SCD2 merge and ``build_dim``'s SCD1
  upsert read its flags instead of each joining for themselves;
- the ADF watermark range extract (docs/incremental_load.PNG,
  watermark_table.sql:6-9) becomes a pushed-down range filter.

At 100 TB: anti/semi joins against a dimension-sized target broadcast. The
range filter lands in PushedFilters, but Spark 4.1 skips no row groups for
a TIMESTAMP_NTZ predicate or an INT96 column (the timestamp type Spark
writes); only UTC-adjusted INT64 timestamps prune row groups. So the
filter alone does not bound a batch's read: ``run_incremental_batch``
skips each source file whose footer puts it at or below the watermark,
and partition pruning (the day-partitioned bronze) bounds the sink's.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def new_rows(source: DataFrame, target: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``source`` whose key is absent from ``target`` (the INSERT set).

    Reference: the ``filter(k.isNull())`` branch after the left join,
    gold_dim_branch.py:105 — expressed directly as an anti join. The build
    side is projected to the keys, so it is as small (and as broadcastable)
    as possible.
    """
    return source.join(target.select(*keys), keys, "left_anti")


def existing_rows(source: DataFrame, target: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``source`` whose key already exists in ``target`` (the UPDATE
    set). Reference: the ``filter(k.isNotNull())`` branch,
    gold_dim_branch.py:92 — expressed as a semi join."""
    return source.join(target.select(*keys), keys, "left_semi")


def changes(old: DataFrame, new: DataFrame, keys: list[str], cols: list[str]) -> DataFrame:
    """The keyed change set between two versions of a table: one row per
    key of either side, from one full-outer join on ``keys``.

    Columns: ``old``'s as they are (NULL for a key only ``new`` has), each
    non-key column ``c`` of ``new`` as ``__new_c``, and three flags:
    ``__in_old``, ``__in_new`` and ``__changed`` — a NULL-safe compare of
    ``cols`` (False for an empty ``cols``). A NULL key matches nothing, as
    in any equi-join. Applying the change set to the old version gives the
    new one ("What's the Difference?", SIGMOD 2023); the callers pick the
    legs they need from the flags.

    ``new_rows`` and ``existing_rows`` stay anti/semi joins: they need one
    side's keys only, and broadcast them without shuffling either side.

    Scale shape: both sides shuffle once on the key (zero times when
    bucketed on it); the flags are narrow projections.
    """
    renamed = [F.col(c).alias(f"__new_{c}") for c in new.columns if c not in keys]
    j = old.withColumn("__in_old", F.lit(True)).join(
        new.select(*keys, *renamed, F.lit(True).alias("__in_new")), keys, "full_outer"
    )
    changed = F.lit(False)
    for c in cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"__new_{c}"))
    return j.withColumns({
        "__in_old": F.coalesce(F.col("__in_old"), F.lit(False)),
        "__in_new": F.coalesce(F.col("__in_new"), F.lit(False)),
        "__changed": changed,
    })


def watermark_range(df: DataFrame, ts_col: str, last_load, current_load) -> DataFrame:
    """The incremental extract window ``(last_load, current_load]``
    (reference: ADF Lookup+Copy range filter, watermark_table.sql:6-9).
    Both bounds are plain comparisons, pushed to the parquet scan (which
    prunes row groups only for UTC-adjusted INT64 timestamps)."""
    c: Column = F.col(ts_col)
    return df.filter((c > F.lit(last_load)) & (c <= F.lit(current_load)))


def merge_partial_aggs(
    gold: DataFrame | None, batch: DataFrame, keys: list[str], sum_cols: dict[str, Column]
) -> DataFrame:
    """Incremental AGGREGATE maintenance: fold a new batch into a stored
    per-key rollup WITHOUT rescanning history — the step that turns the
    medallion's gold layer from recompute-the-world into O(batch) work.

    ``sum_cols`` maps output column -> aggregation over the RAW batch
    columns; the same names must already exist in ``gold``. A None
    ``gold`` (no rollup stored yet) returns the batch's partials. Works
    for any associative-commutative aggregate expressed as sums/counts
    (avg = sum/count at read time, the standard decomposition).

    Scale shape: the batch collapses to per-key partials first (map-side
    combine over only the batch), then one unionByName + re-aggregate with
    the (key-partitioned) gold table. The 100 TB gold table shuffles only
    its matched keys' rows — and none at all when both sides are bucketed
    on the key (sources/sinks.py bucketed tables).
    """
    partial = batch.groupBy(*keys).agg(
        *[c.alias(name) for name, c in sum_cols.items()]
    )
    if gold is None:
        return partial
    merged = gold.unionByName(partial)
    return merged.groupBy(*keys).agg(
        *[F.sum(name).alias(name) for name in sum_cols]
    )


def max_rescan_under_deletes(
    base: DataFrame,
    delete_pred: Column,
    keys: list[str],
    value_col: str,
    out_col: str = "max_value",
    flag_col: str = "rescanned",
) -> DataFrame:
    """Incremental maintenance of a per-key MAX view under DELETES — the
    aggregate ``merge_partial_aggs`` / ``ivm_agg_retract`` CANNOT handle:
    sums and counts absorb a retraction as a signed partial, but MAX is
    not invertible (deleting the max tells you nothing about the runner-
    up), so the textbook IVM answer is a rescan SCOPED to the groups
    whose maximum was actually deleted.

    ``base`` is the pre-delete table, ``delete_pred`` marks the deleted
    rows (the CDC delete batch). A group is AFFECTED iff the max over
    its deleted rows equals the stored max — every other group's stored
    max is provably still valid (only non-extremal rows left). Affected
    groups are recomputed from base-minus-deletes via a semi-join whose
    key set is the affected groups only; groups whose every row was
    deleted drop out of the view. ``flag_col`` exposes the
    affected/untouched classification so the oracle can re-derive and
    hash-check the SCOPING decision itself, not just the final values.

    Scale shape: the delete batch collapses to per-key partials
    map-side; the stored view shuffles only its |keys| rows; the rescan
    scan is pruned to affected keys by a semi-join (broadcast when the
    affected set is small — the common case: |affected| ≤ |delete
    batch|)."""
    stored = base.groupBy(*keys).agg(F.max(value_col).alias(out_col))
    dmax = (
        base.filter(delete_pred)
        .groupBy(*keys)
        .agg(F.max(value_col).alias("__del_max"))
    )
    st = stored.join(dmax, keys, "left")
    untouched = st.filter(
        F.col("__del_max").isNull() | (F.col("__del_max") < F.col(out_col))
    ).select(*keys, out_col, F.lit(False).alias(flag_col))
    affected_keys = st.filter(F.col("__del_max") == F.col(out_col)).select(*keys)
    rescanned = (
        base.join(affected_keys, keys, "left_semi")
        .filter(~delete_pred)
        .groupBy(*keys)
        .agg(F.max(value_col).alias(out_col))
        .select(*keys, out_col, F.lit(True).alias(flag_col))
    )
    return untouched.unionByName(rescanned)


def reconcile_checksums(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    value_cols: list[str],
    n_buckets: int = 64,
) -> DataFrame:
    """Anti-entropy reconciliation: compare two copies of a table by
    per-bucket row counts and order-free XOR checksums instead of a
    row-by-row diff — the way you verify a 100 TB replica (bronze vs
    source, post-migration copies) without shuffling either table against
    the other.

    Each row hashes (keys + values) to a 32-bit digest; rows land in
    md5(key)-derived buckets; each side aggregates (count, bit_xor digest)
    per bucket — map-side combinable, one tiny result per side. XOR is
    commutative/associative, so the checksum is partition-order-free and
    engine-reproducible. A mismatched bucket localizes divergence to
    ~1/n_buckets of the key space for a targeted row-level follow-up
    (``snapshot_diff`` over just that bucket).

    NULL handling: each column is encoded ``coalesce('v' || value, 'n')``
    before concatenation, so NULL gets its own token instead of being
    silently skipped — rows ('a', NULL, 'b') and ('a', 'b', NULL) digest
    differently, and the encoding is the same expression in the DuckDB
    twin (``'v' || NULL`` is NULL there too, so coalesce picks 'n').
    """

    def enc(c: str) -> Column:
        return F.coalesce(
            F.concat(F.lit("v"), F.col(c).cast("string")), F.lit("n")
        )

    def digests(df: DataFrame, side: str) -> DataFrame:
        key_concat = F.concat_ws("|", *[enc(c) for c in keys])
        row_concat = F.concat_ws("|", *[enc(c) for c in [*keys, *value_cols]])
        bucket = (
            F.conv(F.substring(F.md5(key_concat), 1, 8), 16, 10).cast("long")
            % n_buckets
        )
        digest = F.conv(F.substring(F.md5(row_concat), 1, 8), 16, 10).cast("long")
        return (
            df.select(bucket.alias("bucket"), digest.alias("__d"))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias(f"n_{side}"),
                F.expr("bit_xor(__d)").cast("long").alias(f"xor_{side}"),
            )
        )

    joined = digests(left, "left").join(digests(right, "right"), "bucket", "full_outer")
    return joined.select(
        "bucket",
        F.coalesce(F.col("n_left"), F.lit(0)).cast("long").alias("n_left"),
        F.coalesce(F.col("n_right"), F.lit(0)).cast("long").alias("n_right"),
        F.coalesce(F.col("xor_left"), F.lit(0)).cast("long").alias("xor_left"),
        F.coalesce(F.col("xor_right"), F.lit(0)).cast("long").alias("xor_right"),
        (
            F.coalesce(F.col("n_left"), F.lit(0)).eqNullSafe(
                F.coalesce(F.col("n_right"), F.lit(0))
            )
            & F.coalesce(F.col("xor_left"), F.lit(0)).eqNullSafe(
                F.coalesce(F.col("xor_right"), F.lit(0))
            )
        ).alias("match"),
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, keys: list[str], compare_cols: list[str]
) -> DataFrame:
    """Change feed between two table snapshots (Delta CDF / CDC-feed
    emulation): one row per changed key with ``op`` in
    ('insert', 'update', 'delete') and the post-image values (pre-image
    NULL-padded for deletes), so a downstream consumer can replay the diff.
    An empty ``compare_cols`` diffs the key sets: inserts and deletes only.

    Scale shape: ``changes`` over the keys and compared columns (both
    snapshots shuffle once — or zero times when bucketed on the key) and a
    narrow column comparison; unchanged keys drop out before anything else
    sees them.
    """
    cols = [*keys, *compare_cols]
    op = (
        F.when(~F.col("__in_old"), F.lit("insert"))
        .when(~F.col("__in_new"), F.lit("delete"))
        .when(F.col("__changed"), F.lit("update"))
    )
    return (
        changes(old.select(*cols), new.select(*cols), keys, compare_cols)
        .withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(*keys, "op", *[F.col(f"__new_{c}").alias(c) for c in compare_cols])
    )
