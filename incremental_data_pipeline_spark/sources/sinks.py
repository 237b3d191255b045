"""Sinks: one commit protocol per storage shape, plus layered table paths.

The reference's sinks are Delta MERGE / overwrite + saveAsTable
(gold_dim_branch.py:188-191) and a raw parquet append for silver
(silver_notebook.py:59-62 — re-run ⇒ duplicates, SURVEY §2.9 #7). Without
delta-spark, mutation is emulated as write-new-version + swap, defined
once per storage shape:

- **Directory swap** (``swap_in``): fill a temp dir, then rename it into
  place with rollback — ``atomic_overwrite`` and ``WatermarkStore.advance``.
  Writing first also breaks the Spark self-overwrite trap (SURVEY §7
  "what's hard" (a)).
- **Keyed partition merge** (``merge_partitions``): batch-wins merge into
  the touched partitions — day-partitioned bronze and the IVF index.
- **Version directory** (``version_dir``, ``versioned_overwrite``,
  ``drop_version``): immutable ``vN`` dirs, a ``.commit`` marker and a
  ``_CURRENT`` pointer — time travel and ``sources.transactions``.
- **Table fold** (``fold_into``, ``commit_record``): read the current
  version, compute the next from it and swap it in, committing the
  batch's epoch with it so a replayed batch is skipped — the apply step
  of every streaming state table (the change-query apply: old version
  plus change set gives the new version). The swap is
  ``atomic_overwrite``, the only writer of a swap's commit record: the
  epoch, plus marks observed on the rows as they are written (a dim's
  surrogate-key high-water mark), commit in the same rename as the rows,
  and a compaction carries a table's record over verbatim.
- **Epoch append** (``append_into``): a flat table's change set lands as
  new part files, committed by one atomic replace of the table's commit
  record — the medallion's silver and fact appends.

``read_table`` is the read side of all of them: the one read of a table
the engine committed. It repairs an interrupted swap or append, returns
None when there is no table, and reads with the schema Spark stored in
the part files' footers, so no schema-inference job runs (the role
Delta's log plays for the reference's gold tables).

``idempotent_append`` dedups on a key against rows already in the sink,
so replaying a batch (at-least-once upstream) cannot duplicate the layer
— the fix for the reference's append-mode silver.
"""

from __future__ import annotations

import contextlib
import errno
import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Swap and stage debris names, shared with maintenance.vacuum_swap_debris.
_TMP = ".__tmp__"
_OLD = ".__old__"  # stable name => interrupted swaps are detectable
_STAGE = ".stage-"
_EPOCH = "_applied_epoch"  # the commit record: JSON {"epoch": e, mark: value, ...}
_APPEND = "_append-"  # an epoch append's staged part files, hidden from readers


def recover_interrupted_swap(path: str) -> bool:
    """Repair a swap that crashed between its two renames: if ``path`` is
    missing but the stable backup exists, restore the backup. Returns True
    if a recovery happened. ``swap_in``, ``read_table`` and
    ``WatermarkStore.read`` call it before they look at ``path``, so a
    crashed swap is never read as "no table"."""
    old = f"{path}{_OLD}"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
        return True
    return False


def swap_in(path: str, fill: Callable[[str], None]) -> None:
    """Replace the directory ``path`` with what ``fill(tmp)`` writes into
    a fresh temp dir. ``path`` is untouched until ``fill`` returns, and the
    previous version is deleted only after the forward rename lands; a
    crash between the two renames leaves it under the stable
    ``path.__old__``, which the rollback or the next
    ``recover_interrupted_swap`` restores. A stranded backup is restored
    before it is cleared, so the only copy is never deleted.
    Single-writer contract."""
    tmp = f"{path}{_TMP}{uuid.uuid4().hex[:8]}"
    old = f"{path}{_OLD}"
    try:
        fill(tmp)
        recover_interrupted_swap(path)
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
    except BaseException:
        recover_interrupted_swap(path)  # roll back: restore the previous version
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(old, ignore_errors=True)


def atomic_overwrite(
    df: DataFrame,
    path: str,
    record: dict | None = None,
    marks: dict[str, Column] | None = None,
) -> None:
    """Write ``df`` as the new content of ``path`` via ``swap_in`` and
    commit ``record`` with it, in the same rename: ``{"epoch": e}``, or a
    record ``commit_record`` returned (a compaction, whose rows it still
    describes). Each of ``marks`` (name -> aggregate Column) is observed
    over ``df`` while it is written, so it costs no extra job, and is
    committed in the record — a dim's key high-water mark, which the next
    batch reads instead of aggregating the dim. With no record the table
    carries none and ``marks`` go unobserved. This and ``append_into``
    are the only writers of a commit record.
    """
    from pyspark.sql import Observation

    from incremental_data_pipeline_spark.functions.util import observation_result

    cols = [c.alias(name) for name, c in (marks or {}).items()] if record else []
    obs = Observation() if cols else None
    if obs is not None:
        df = df.observe(obs, *cols)

    def fill(tmp: str) -> None:
        df.write.mode("overwrite").parquet(tmp)  # fully materialized before swap
        if record:
            seen = {}
            if obs is not None:  # an empty plan may never report: aggregate instead
                seen = observation_result(obs) or df.agg(*cols).first().asDict()
            with open(os.path.join(tmp, _EPOCH), "w") as f:
                f.write(json.dumps({**record, **seen}))

    swap_in(path, fill)


def commit_record(path: str) -> dict:
    """What the last epoch commit stored with the table at ``path``:
    ``{"epoch": e}`` plus the marks ``atomic_overwrite`` observed; ``{}``
    when there is none. A swap that crashed between its renames is
    repaired and an append interrupted after its commit point finished
    first, so the record always describes the rows a read sees."""
    recover_interrupted_swap(path)
    _finish_append(path)
    return {k: v for k, v in _read_record(path).items() if k != "pending"}


def _read_record(path: str) -> dict:
    try:
        with open(os.path.join(path, _EPOCH)) as f:
            record = json.loads(f.read())
    except (FileNotFoundError, NotADirectoryError):
        return {}
    return record if isinstance(record, dict) else {"epoch": record}  # a bare int: older tables


def _replayed(record: dict, epoch: int) -> bool:
    """The one replay rule: ``epoch`` is at or below the one ``record``
    commits. A table with no epoch (a batch-primed one) applies any."""
    return record.get("epoch") is not None and epoch <= record["epoch"]


def fold_into(
    spark: SparkSession,
    path: str,
    step: Callable[[DataFrame | None], DataFrame],
    epoch: int,
) -> bool:
    """Fold one batch into the swap-committed table at ``path``: replace
    it with ``step(current)``, where ``current`` is the stored table, or
    None when there is none yet, and commit ``epoch`` in the same rename.
    A swap that crashed between its renames is recovered first, so it is
    never folded as "no table".

    An ``epoch`` at or below the committed one is a replay (the
    at-least-once drain re-delivered a batch, ``streaming.fold_stream``):
    it is skipped before the table is read, without a Spark job, and
    returns False. So a fold need not be idempotent (sums, counts).

    The existence check, the sidecar and the swap use driver-local
    os.path/open semantics — correct for a single driver on a local or
    POSIX filesystem; a table on HDFS/S3 must route them through that
    filesystem's atomic-rename primitives (e.g. the Hadoop FileSystem
    API). Returns True when the fold was applied."""
    if _replayed(commit_record(path), epoch):
        return False
    atomic_overwrite(step(read_table(spark, path)), path, {"epoch": epoch})
    return True


def append_into(df: DataFrame, path: str, epoch: int) -> bool:
    """Append ``df`` to the flat table at ``path`` as new part files and
    commit ``epoch`` with them: the change-set apply for a table whose
    change set is rows to add. Like ``fold_into``, an ``epoch`` at or
    below the committed one is a replay, skipped without a Spark job
    (returns False); the other marks of the record are kept.

    The rows are written to a hidden ``_append-<id>`` directory inside the
    table. The commit point is the atomic replace of the commit record
    that names that directory; only then are its files renamed into the
    table. A crash before the commit point leaves a stage that the next
    look at the table deletes; a crash after it leaves one that
    ``commit_record`` (and so ``read_table``) finishes moving. Part-file
    names carry Spark's per-write job id, so appends never collide.
    Single-writer contract, as ``swap_in``."""
    record = commit_record(path)
    if _replayed(record, epoch):
        return False
    stage = f"{_APPEND}{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(os.path.join(path, stage))
    staged = os.path.join(path, f".{_EPOCH}.{stage}")
    with open(staged, "w") as f:
        f.write(json.dumps({**record, "epoch": epoch, "pending": stage}))
    os.replace(staged, os.path.join(path, _EPOCH))  # the commit point
    _finish_append(path)
    return True


def _finish_append(path: str) -> None:
    """Roll a committed append forward and drop uncommitted ones: move
    the part files of the stage the commit record names into the table,
    and delete every other ``_append-`` stage (a writer that died before
    its commit point)."""
    try:
        stages = [n for n in os.listdir(path) if n.startswith(_APPEND)]
    except (FileNotFoundError, NotADirectoryError):
        return
    pending = _read_record(path).get("pending") if stages else None
    for stage in stages:
        sdir = os.path.join(path, stage)
        if stage == pending:
            for name in os.listdir(sdir):
                if name.startswith("part-"):
                    os.replace(os.path.join(sdir, name), os.path.join(path, name))
        shutil.rmtree(sdir, ignore_errors=True)


def idempotent_append(spark: SparkSession, df: DataFrame, path: str, keys: list[str]) -> None:
    """Append only rows whose key is not already present (replay-safe).

    At scale this anti-join prunes with pushdown on the sink scan; for
    time-keyed layers prefer partitioned tables + dynamic partition
    overwrite, which skips the read entirely.
    """
    df = df.dropDuplicates(keys)  # collapse intra-batch duplicates too
    existing = read_table(spark, path)
    fresh = df if existing is None else df.join(existing.select(*keys), keys, "left_anti")
    fresh.write.mode("append").parquet(path)


def idempotent_overwrite_day_partitions(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
    ts_col: str,
    day_col: str = "__day",
    lo=None,
    hi=None,
    granularity: str = "day",
) -> int | None:
    """Replay-safe DAY-PARTITIONED bronze sink — the 100 TB shape of
    ``idempotent_append``.

    The plain append sink re-reads the ENTIRE sink for its anti-join every
    batch; here the re-read is pruned to the day partitions the batch's
    watermark window touches (``lo``/``hi`` are the window's date bounds —
    known driver-side, zero extra jobs), the batch is unioned in, deduped
    by key, and exactly those day partitions are dynamically overwritten.
    Correct for windows that split a day (the partial day's existing rows
    ride along in the pruned read) and for replays (rewriting the same
    partitions from the same union is idempotent). The merge itself —
    batch wins on a key conflict, stored schema checked, one REBALANCE on
    the day column — is ``merge_partitions``.

    Guarantee is WEAKER than ``idempotent_append``'s whole-sink anti-join:
    dedup only sees the [lo, hi]-pruned partitions, so a key re-delivered
    with a timestamp landing in a *different* partition than its earlier
    occurrence is written twice. Use this sink when key uniqueness is
    stable per partition (the usual event-log shape: a key's event time
    never moves across days); use ``idempotent_append`` when keys can
    re-arrive under arbitrary timestamps.

    ``granularity`` sizes partitions to the data: 'day' at production
    volume (aim for 100 MB–1 GB per partition), 'month' when daily slices
    would be pathologically small (tiny fixtures, low-rate sources) —
    over-partitioning trades scan pruning for per-directory overhead.

    Returns how many stored rows the batch replaced (``merge_partitions``).
    """
    trunc = {"day": F.to_date(F.col(ts_col)), "month": F.trunc(F.col(ts_col), "month")}[
        granularity
    ]
    if lo is not None and granularity == "month":
        lo = lo.replace(day=1)  # floor to the partition value, or pruning over-prunes
    touched = F.lit(True)
    if lo is not None:
        touched &= F.col(day_col) >= F.lit(lo)
    if hi is not None:
        touched &= F.col(day_col) <= F.lit(hi)
    batch = df.withColumn(day_col, trunc).dropDuplicates(keys)
    return merge_partitions(spark, batch, path, keys, day_col, touched)


class StoredSchemaError(ValueError):
    """A stored table's data columns differ from a batch merged into it."""


def _stored_schema(path: str) -> tuple[str | None, StructType | None]:
    """The first part file under ``path`` and the schema Spark stored in
    its footer (its own JSON; partition columns are not in it), read on
    the driver — no Spark job, as schema inference would launch.
    Directories Spark's file index hides are skipped. ``(None, None)``
    when there is no part file; ``(part, None)`` when its footer carries
    no Spark schema (a file Spark did not write)."""
    import pyarrow.parquet as pq

    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if "=" in d or not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.startswith("part-") and f.endswith(".parquet"):
                part = os.path.join(root, f)
                raw = (pq.read_schema(part).metadata or {}).get(
                    b"org.apache.spark.sql.parquet.row.metadata"
                )
                return part, StructType.fromJson(json.loads(raw)) if raw else None
    return None, None


def read_table(spark: SparkSession, path: str) -> DataFrame | None:
    """The one read of a table the engine committed at ``path``, in any
    of the storage shapes: None when there is no table, after repairing
    a swap that crashed between its renames and finishing an append that
    crashed after its commit point. The read takes Spark's schema from a
    part file's footer (``_stored_schema``), so it starts no
    schema-inference job; partition columns are discovered from
    directory names as in any parquet read. A table whose part file
    carries no Spark schema (or that has none, as an empty partitioned
    write) falls back to inference."""
    recover_interrupted_swap(path)
    if not os.path.exists(path):
        return None
    _finish_append(path)
    _, schema = _stored_schema(path)
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def _check_stored_schema(path: str, schema: StructType, part_col: str) -> bool:
    """Raise ``StoredSchemaError`` unless the table at ``path`` stores
    exactly ``schema``'s data columns (``part_col`` aside; nullability
    ignored). Returns False when nothing is stored (no part file), so
    there is nothing a read could corrupt."""
    part, stored = _stored_schema(path)
    if part is None:
        return False
    if stored is None:
        raise StoredSchemaError(f"{part}: no Spark schema in parquet footer")

    def cols(st: StructType) -> dict:
        return {f.name: f.dataType.simpleString() for f in st if f.name != part_col}

    if cols(stored) != cols(schema):
        raise StoredSchemaError(
            f"table at {path} stores columns {cols(stored)}, the batch has {cols(schema)}; "
            f"rebuild the table or fix the batch"
        )
    return True


def merge_partitions(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: list[str],
    part_col: str,
    touched: Column,
) -> int | None:
    """Merge ``batch`` into the ``part_col``-partitioned table at ``path``:
    stored rows selected by ``touched`` (partition pruning), minus those
    whose ``keys`` the batch re-delivers, plus the batch, dynamically
    overwrite exactly the partitions that receive rows. The batch wins
    deterministically (dropDuplicates on the union would keep an arbitrary
    payload), so replays converge. The stored schema must equal
    the batch's (else ``StoredSchemaError``, before anything is written):
    a union across a drifted column would widen its type silently. One
    REBALANCE on ``part_col`` keeps ~one writer per partition.

    Returns how many stored rows the batch replaced, counted by two
    observations on the write (no extra job): 0 means the merge only
    added rows. None when the counts did not arrive."""
    from pyspark.sql import Observation

    from incremental_data_pipeline_spark.functions.util import observation_result

    if not _check_stored_schema(path, batch.schema, part_col):
        overwrite_partitions(batch.hint("rebalance", part_col), path, [part_col])
        return 0
    stored, kept = Observation(), Observation()
    n = F.count(F.lit(1)).alias("n")
    existing = read_table(spark, path).filter(touched).observe(stored, n)
    survivors = existing.join(batch.select(*keys), keys, "left_anti").observe(kept, n)
    overwrite_partitions(survivors.unionByName(batch).hint("rebalance", part_col), path, [part_col])
    counts = [observation_result(o) for o in (stored, kept)]
    return None if None in counts else counts[0]["n"] - counts[1]["n"]


def overwrite_partitions(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Idempotent partition-level overwrite (dynamic mode): re-running a
    batch rewrites exactly the partitions it touches, nothing else."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


_VERSION_PTR = "_CURRENT"
_COMMIT = ".commit"


def version_dir(path: str, version: int, stage: bool = False) -> str:
    """``path/vNNNNNNNN``, the directory holding ``version`` of a versioned
    table (its commit marker is that name plus ``.commit``). ``stage=True``
    names a fresh private staging dir for it instead,
    ``.vNNNNNNNN.stage-<uuid>`` — two racing writers never share one."""
    name = f"v{version:08d}"
    if stage:
        name = f".{name}{_STAGE}{uuid.uuid4().hex[:8]}"
    return os.path.join(path, name)


def drop_version(path: str, version: int) -> str:
    """Delete ``version``'s dir and commit marker; returns the dir."""
    vdir = version_dir(path, version)
    shutil.rmtree(vdir, ignore_errors=True)
    with contextlib.suppress(FileNotFoundError):
        os.remove(vdir + _COMMIT)
    return vdir


def _current_version(path: str) -> int:
    ptr = os.path.join(path, _VERSION_PTR)
    if not os.path.exists(ptr):
        return 0
    with open(ptr) as f:
        return int(f.read().strip())


def _write_pointer(path: str, version: int) -> None:
    """Point ``_CURRENT`` at ``version``: temp file + atomic replace."""
    tmp = os.path.join(path, f".{_VERSION_PTR}.tmp.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(path, _VERSION_PTR))


def list_versions(path: str) -> list[int]:
    """Versions still readable under ``path`` (ascending)."""
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        if name.startswith("v") and name[1:].isdigit():
            out.append(int(name[1:]))
    return sorted(out)


class VersionConflictError(RuntimeError):
    """Another writer committed the version this writer was about to claim
    (or the table moved past the caller's ``expected_base``)."""


def reconcile_versions(path: str) -> int:
    """Heal a versioned table after a writer crash and return the current
    version. The commit point of the protocol is the atomic rename of the
    staged dir to ``vN``; the ``_CURRENT`` pointer flip is visibility
    bookkeeping that can lag behind after a crash. If a committed ``vN``
    dir exists beyond the pointer, flip the pointer forward to the newest
    committed version (idempotent; safe under concurrent writers because
    version dirs are immutable once renamed into place). Stale
    ``vN.commit`` markers without a ``vN`` dir — the permanent-wedge state
    of the pre-round-5 marker-first protocol — are removed as abandoned
    claims."""
    cur = _current_version(path)
    committed = list_versions(path)
    newest = committed[-1] if committed else 0
    if newest > cur:
        _write_pointer(path, newest)
        cur = newest
    have = set(committed)
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        names = []
    for name in names:
        v = name[1 : -len(_COMMIT)]
        if name.startswith("v") and name.endswith(_COMMIT) and v.isdigit():
            if int(v) not in have and int(v) > cur:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(path, name))  # abandoned claim
    return cur


def commit_staged_version(
    path: str, stage: str, version: int, keep: int = 3
) -> int:
    """Atomically publish a fully-staged directory as ``v{version}``.

    The single ``os.rename(stage, vN)`` IS the commit point: a rename
    onto an existing non-empty ``vN`` fails with ENOTEMPTY/EEXIST, which
    is the local-FS analogue of the put-if-absent Delta performs on its
    ``_delta_log`` JSON to serialize concurrent writers. The loser's
    staged data is its own private dir (never shared), so losing cleans
    up only the loser's bytes and can never corrupt the winner's. The
    ``vN.commit`` marker and the ``_CURRENT`` pointer flip happen AFTER
    the rename — a crash between them is healed by
    :func:`reconcile_versions` on the next write, so there is no wedge
    state. Raises :class:`VersionConflictError` on losing the race; only
    the race errnos (EEXIST/ENOTEMPTY/EISDIR/EPERM — "target already
    exists") are treated as a conflict, any other OSError (EACCES, EXDEV,
    I/O failure) re-raises unchanged with the staged data left intact so
    a non-retryable fault is not misreported as a retryable conflict."""
    vdir = version_dir(path, version)
    try:
        os.rename(stage, vdir)
    except OSError as e:
        if e.errno not in (
            errno.EEXIST,
            errno.ENOTEMPTY,
            errno.EISDIR,
            errno.EPERM,
        ):
            raise  # real I/O / permission / cross-device fault, not a race
        shutil.rmtree(stage, ignore_errors=True)  # only OUR stage, never the winner's
        raise VersionConflictError(
            f"{path}: version {version} was committed by a concurrent writer"
        ) from None
    with open(vdir + _COMMIT, "w"):
        pass  # bookkeeping only; the rename above already committed
    # Never flip the pointer backwards: a slow writer finishing version N
    # after a faster one already published N+1 must not roll visibility
    # back. (Can't happen for the same-number race — the rename arbiter
    # rejects it — but can for distinct numbers under reconcile healing.)
    if _current_version(path) <= version:
        _write_pointer(path, version)
    for v in list_versions(path)[:-keep] if keep > 0 else []:
        drop_version(path, v)
    return version


def versioned_overwrite(
    df: DataFrame, path: str, keep: int = 3, expected_base: int | None = None
) -> int:
    """Overwrite that RETAINS history: Delta-style time travel's observable
    read semantics without delta-spark (reference gold_dim_branch.py:178
    ``DeltaTable.forPath`` + ``versionAsOf``).

    Each call heals any crashed predecessor (:func:`reconcile_versions`),
    stages a fresh version directory under a PER-WRITER unique name
    (``.vN.stage-<uuid>`` — two racing writers never touch each other's
    staged bytes), then commits via :func:`commit_staged_version`, whose
    single atomic rename to ``vN`` arbitrates the race. The loser cleans
    up only its own staged data and raises :class:`VersionConflictError`
    so the caller re-reads and retries (optimistic concurrency). Readers
    that resolved the pointer before the flip keep reading their
    (immutable) version dir — writers never mutate a published version,
    the same snapshot-isolation contract Delta gives.

    ``expected_base`` opts into compare-and-swap semantics: the write
    aborts (before any data is written) unless the current version still
    equals it — the transactional-MERGE guard for read-modify-write
    updates, where blindly winning the commit race would lose the other
    writer's rows. The ``keep`` most recent versions survive pruning.
    Returns the new version number.
    """
    os.makedirs(path, exist_ok=True)
    cur = reconcile_versions(path)
    if expected_base is not None and cur != expected_base:
        raise VersionConflictError(
            f"{path}: expected base version {expected_base}, found {cur}"
        )
    stage = version_dir(path, cur + 1, stage=True)
    df.write.mode("overwrite").parquet(stage)
    return commit_staged_version(path, stage, cur + 1, keep=keep)


def read_version(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Time-travel read: ``version=None`` reads the current version,
    otherwise the requested retained version (Delta's ``versionAsOf``).
    The current version is what ``reconcile_versions`` returns, so a
    version renamed into place (the commit point) reads as current even
    when its writer died before the ``_CURRENT`` flip."""
    v = reconcile_versions(path) if version is None else version
    df = read_table(spark, version_dir(path, v))
    if df is None:
        raise FileNotFoundError(f"version {v} not retained at {path}")
    return df


def write_bucketed(
    df: DataFrame, table: str, bucket_keys: list[str], num_buckets: int = 16
) -> None:
    """Persist as a bucketed managed table: rows are hash-partitioned into
    ``num_buckets`` files per partition BY KEY AT WRITE TIME, so any later
    equi-join or agg on the bucket keys skips its Exchange entirely — the
    pre-shuffle is amortized across every downstream consumer. This is the
    co-located-join design for repeatedly joined 100 TB fact tables.

    Uses the session catalog (in-memory or Hive); bucketing metadata lives
    with the table, Catalyst picks it up automatically.

    The pre-write repartition onto the bucket keys is the standard
    bucketed-write discipline (r10): without it every input task opens a
    file in every bucket it sees — tasks × num_buckets small files at
    any scale — while one key-clustered exchange leaves ~one file per
    bucket and the same bucket metadata.
    """
    (
        df.repartition(num_buckets, *bucket_keys)
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_keys)
        .sortBy(*bucket_keys)
        .saveAsTable(table)
    )
