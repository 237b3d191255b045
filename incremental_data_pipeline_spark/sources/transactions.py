"""Multi-table transactions + checkpointed log compaction over the
versioned sink — the two Delta-log-level features named as missing in the
round-4 parity audit (the third, 3-level namespaces, is a Spark catalog
limitation documented in ``sources/catalog.py``).

Layout (one transaction ROOT spans N tables):

    root/
      _txn_log/
        txn-000000000001.json      one manifest per committed transaction
        txn-000000000002.json
        checkpoint-000000000002.json   folded state at txn 2 (compaction)
      <table>/v00000001/…          per-table version dirs (sources.sinks)

Protocol (same discipline as Delta's ``_delta_log``):

- Writers stage every table's new version dir privately and publish each
  via :func:`sinks.versioned_overwrite` (atomic rename arbiter). The
  per-table version is NOT what readers see — visibility is governed
  solely by the transaction manifest.
- The COMMIT POINT of the whole transaction is the put-if-absent creation
  of ``txn-N.json`` (written complete to a private temp file, then
  ``os.link``ed to its final name — link fails with EEXIST if a rival
  committed N first, and a half-written manifest can never be observed).
  All tables flip together or not at all.
- Losers (and crashes after table-version publish but before manifest
  link) leave unreferenced per-table version dirs. They are invisible to
  transactional readers and reclaimed by :func:`vacuum_unreferenced`.
- ``expected_txn`` gives compare-and-swap semantics across the WHOLE
  transaction — the multi-table read-modify-write guard.
- :func:`compact_txn_log` writes a ``checkpoint-N.json`` folding the
  manifest chain at N and prunes manifests older than the checkpoint —
  Delta's checkpoint compaction: readers load the newest checkpoint plus
  the (short) manifest tail instead of replaying the full log.

Scale notes: manifests are O(tables) JSON — driver-side control plane,
never data-plane; table bytes move only through the staged parquet
writes. On an object store, ``os.link`` put-if-absent maps to the store's
conditional-put, exactly as Delta does it.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from incremental_data_pipeline_spark.sources import sinks

_LOG_DIR = "_txn_log"


class TxnConflictError(RuntimeError):
    """Another writer committed the transaction id this writer raced for
    (or the log moved past the caller's ``expected_txn``)."""


def _log_dir(root: str) -> str:
    return os.path.join(root, _LOG_DIR)


def _manifest_path(root: str, txn: int) -> str:
    return os.path.join(_log_dir(root), f"txn-{txn:012d}.json")


def _checkpoint_path(root: str, txn: int) -> str:
    return os.path.join(_log_dir(root), f"checkpoint-{txn:012d}.json")


def _scan_log(root: str) -> tuple[list[int], list[int]]:
    """(sorted manifest txn ids, sorted checkpoint txn ids)."""
    d = _log_dir(root)
    manifests, checkpoints = [], []
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return [], []
    for name in names:
        if name.startswith("txn-") and name.endswith(".json"):
            manifests.append(int(name[4:-5]))
        elif name.startswith("checkpoint-") and name.endswith(".json"):
            checkpoints.append(int(name[11:-5]))
    return sorted(manifests), sorted(checkpoints)


def read_txn_state(root: str) -> tuple[int, dict[str, int]]:
    """(current txn id, {table: version}) — newest checkpoint folded with
    the manifest tail. txn 0 = empty log."""
    return _read_state_at(root, None)


def _link_put_if_absent(final: str, content: str) -> bool:
    """Write ``content`` to a private temp file, then hard-link it to
    ``final``. The link is the atomic put-if-absent: False on EEXIST.
    Readers can never observe a partially-written manifest."""
    tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def multi_table_transaction(
    root: str,
    tables: dict[str, DataFrame],
    expected_txn: int | None = None,
    max_retries_per_table: int = 5,
) -> int:
    """Atomically publish new versions of EVERY table in ``tables``:
    transactional readers (:func:`read_txn_table`) see all of them or none
    of them. Returns the committed transaction id.

    ``expected_txn`` aborts (before any data is written) unless the log is
    still at that transaction — optimistic concurrency across the whole
    multi-table read-modify-write. Raises :class:`TxnConflictError` when a
    rival wins the manifest race; the caller re-reads and retries, exactly
    like the single-table CAS.
    """
    os.makedirs(_log_dir(root), exist_ok=True)
    cur_txn, _ = read_txn_state(root)
    if expected_txn is not None and cur_txn != expected_txn:
        raise TxnConflictError(
            f"{root}: expected txn {expected_txn}, found {cur_txn}"
        )
    committed: dict[str, int] = {}
    for name, df in sorted(tables.items()):
        # Publish the table version; on a per-table rename race, retry
        # (versioned_overwrite re-reads the version counter) — table-version
        # publication is only staging from the transaction's point of view
        # (invisible until the manifest lands), so racing here is benign.
        for _ in range(max_retries_per_table):
            try:
                committed[name] = sinks.versioned_overwrite(
                    df, os.path.join(root, name), keep=0
                )
                break
            except sinks.VersionConflictError:
                continue
        else:
            raise TxnConflictError(
                f"{root}/{name}: lost the version race {max_retries_per_table}x"
            )
    nxt = cur_txn + 1
    manifest = json.dumps(
        {"txn": nxt, "parent": cur_txn, "tables": committed}, sort_keys=True
    )
    if not _link_put_if_absent(_manifest_path(root, nxt), manifest):
        # Rival committed txn `nxt` first. Our published table versions are
        # unreferenced by any manifest — invisible; vacuum reclaims them.
        raise TxnConflictError(f"{root}: txn {nxt} committed by rival writer")
    return nxt


def read_txn_table(
    spark: SparkSession, root: str, table: str, txn: int | None = None
) -> DataFrame:
    """Read ``table`` at transaction ``txn`` (default: latest). All tables
    read at the SAME txn id come from one manifest chain prefix — a
    consistent multi-table snapshot (what per-table ``_CURRENT`` pointers
    cannot give)."""
    cur, state = _read_state_at(root, txn)
    if table not in state:
        raise FileNotFoundError(f"{root}: table {table!r} not in txn {cur}")
    return sinks.read_table(spark, sinks.version_dir(os.path.join(root, table), state[table]))


def _read_state_at(root: str, txn: int | None) -> tuple[int, dict[str, int]]:
    """Fold the newest checkpoint at or before ``txn`` (default: the
    newest txn in the log) with the manifests after it, up to ``txn``."""
    manifests, checkpoints = _scan_log(root)
    if txn is None:
        txn = max(manifests[-1:] + checkpoints[-1:], default=0)
    state: dict[str, int] = {}
    base = 0
    usable = [c for c in checkpoints if c <= txn]
    if usable:
        base = usable[-1]
        with open(_checkpoint_path(root, base)) as f:
            state = json.load(f)["tables"]
    applied = base
    for m in manifests:
        if base < m <= txn:
            with open(_manifest_path(root, m)) as f:
                state.update(json.load(f)["tables"])
            applied = m
    if applied != txn:
        raise FileNotFoundError(
            f"{root}: txn {txn} not reconstructible (log starts after a "
            f"compaction checkpoint or txn never committed)"
        )
    return txn, state


def compact_txn_log(root: str, keep_tail: int = 2) -> int:
    """Fold the manifest chain into ``checkpoint-N.json`` at the current
    txn and prune manifests older than the newest checkpoint minus
    ``keep_tail`` — Delta's checkpointed log compaction. Readers after
    compaction load one checkpoint + a short tail instead of every
    manifest since table creation (at one manifest per micro-batch, an
    uncompacted log is millions of files within a year at 100 TB cadence).

    Time travel to txns whose manifests were pruned AND that precede the
    checkpoint becomes unreconstructible — same contract as Delta log
    retention. Idempotent; concurrent compactors race on the same
    put-if-absent link and the loser is a no-op. Returns the checkpoint
    txn id (0 = empty log, nothing to do)."""
    cur, state = read_txn_state(root)
    if cur == 0:
        return 0
    payload = json.dumps({"txn": cur, "tables": state}, sort_keys=True)
    _link_put_if_absent(_checkpoint_path(root, cur), payload)
    manifests, checkpoints = _scan_log(root)
    horizon = max(c for c in checkpoints) - keep_tail
    for m in manifests:
        if m <= horizon:
            try:
                os.remove(_manifest_path(root, m))
            except FileNotFoundError:
                pass
    return cur


def _log_referenced(root: str) -> dict[str, set[int]]:
    """{table: versions} referenced by ANY reachable manifest/checkpoint."""
    manifests, checkpoints = _scan_log(root)
    referenced: dict[str, set[int]] = {}
    for c in checkpoints:
        with open(_checkpoint_path(root, c)) as f:
            for t, v in json.load(f)["tables"].items():
                referenced.setdefault(t, set()).add(v)
    for m in manifests:
        with open(_manifest_path(root, m)) as f:
            for t, v in json.load(f)["tables"].items():
                referenced.setdefault(t, set()).add(v)
    return referenced


def vacuum_unreferenced(root: str, grace_seconds: float = 3600.0) -> list[str]:
    """Remove per-table version dirs no reachable manifest/checkpoint
    references (loser-of-the-manifest-race debris, crashed writers).
    Transactional readers resolve versions only through the log and
    version dirs are immutable once published, so deleting a truly
    unreferenced version is invisible to them. Returns removed paths.

    Concurrency contract (Delta's VACUUM retention, in miniature):
    :func:`multi_table_transaction` publishes per-table version dirs
    BEFORE linking the manifest, so an in-flight writer's versions are
    momentarily unreferenced by construction. Two guards close that race:

    - **Retention grace**: a version whose commit marker (or dir) mtime is
      within ``grace_seconds`` of now is NEVER touched — an in-flight
      transaction only loses data to vacuum if its publish→manifest-link
      gap exceeds the grace window (set it above your slowest commit, as
      with Delta's ``retentionHours``). ``grace_seconds=0`` restores the
      aggressive behavior and is only safe with no writer in flight.
    - **Post-scan recheck**: the log is re-scanned AFTER the candidate
      sweep and anything referenced by then is dropped from the kill
      list, so a manifest that lands mid-vacuum keeps its versions.
    """
    import time

    referenced = _log_referenced(root)
    removed: list[str] = []
    try:
        entries = os.listdir(root)
    except FileNotFoundError:
        return removed
    now = time.time()
    candidates: list[tuple[str, int]] = []
    for t in entries:
        tdir = os.path.join(root, t)
        if t == _LOG_DIR or not os.path.isdir(tdir):
            continue
        for v in sinks.list_versions(tdir):
            if v in referenced.get(t, set()):
                continue
            vdir = sinks.version_dir(tdir, v)
            try:
                mtime = os.path.getmtime(vdir + sinks._COMMIT)
            except OSError:
                try:
                    mtime = os.path.getmtime(vdir)
                except OSError:
                    continue  # vanished under us — rival vacuum
            if now - mtime < grace_seconds:
                continue  # possibly an in-flight transaction's publish
            candidates.append((t, v))
    # re-check the log: a transaction may have committed between the first
    # scan and now, referencing versions we marked
    if candidates:
        referenced = _log_referenced(root)
    for t, v in candidates:
        if v not in referenced.get(t, set()):
            removed.append(sinks.drop_version(os.path.join(root, t), v))
    return removed
