"""Sink robustness: crash-safe atomic swap, version-retaining overwrite
(Delta-time-travel emulation), replay-safe append with intra-batch dedup,
and the salted-join mode restriction."""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from incremental_data_pipeline_spark.sources import sinks
from tests.conftest import job_group


def _mkdf(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], ["x"])


def test_atomic_overwrite_replaces_and_cleans(spark, tmp_path):
    path = str(tmp_path / "t")
    sinks.atomic_overwrite(_mkdf(spark, [1, 2]), path)
    sinks.atomic_overwrite(_mkdf(spark, [3, 4, 5]), path)
    assert spark.read.parquet(path).count() == 3
    # no stray tmp/backup dirs left behind
    leftovers = [d for d in os.listdir(tmp_path) if d != "t"]
    assert leftovers == []


def test_interrupted_swap_is_recoverable(spark, tmp_path):
    """Simulate a crash between the two renames: path gone, backup present.
    recover_interrupted_swap restores the previous version — the old data
    is never destroyed before the new version lands."""
    path = str(tmp_path / "t")
    sinks.atomic_overwrite(_mkdf(spark, [1, 2]), path)
    os.rename(path, path + ".__old__")  # the state mid-swap after rename #1
    assert sinks.recover_interrupted_swap(path)
    assert sorted(r["x"] for r in spark.read.parquet(path).collect()) == [1, 2]
    assert not sinks.recover_interrupted_swap(path)  # no-op when healthy


def _append_step(spark, vals, seen):
    """A fold step that appends ``vals`` and records what it was given."""

    def step(current):
        seen.append(None if current is None else sorted(r["x"] for r in current.collect()))
        batch = _mkdf(spark, vals)
        return batch if current is None else current.unionByName(batch)

    return step


@pytest.mark.parametrize("replayed", [0, 1])
def test_fold_into_skips_replayed_epochs(spark, tmp_path, replayed):
    """The first fold gets None; an epoch at or below the committed one is
    a replay: no step, no Spark job, rows and epoch unchanged."""
    path = str(tmp_path / "t")
    seen = []
    assert sinks.fold_into(spark, path, _append_step(spark, [1], seen), epoch=0)
    assert sinks.fold_into(spark, path, _append_step(spark, [2], seen), epoch=1)
    assert seen == [None, [1]]
    with job_group(spark, "fold_replay"):
        assert not sinks.fold_into(spark, path, _append_step(spark, [3], seen), replayed)
        assert spark.sparkContext.statusTracker().getJobIdsForGroup("fold_replay") == []
    assert seen == [None, [1]]
    assert sorted(r["x"] for r in spark.read.parquet(path).collect()) == [1, 2]
    assert sinks.commit_record(path).get("epoch") == 1


@pytest.mark.parametrize("crashed", [False, True])
def test_fold_into_extends_the_stored_table(spark, tmp_path, crashed):
    """A table written without an epoch (a batch-primed one) applies epoch
    0, and a swap that crashed between its renames is folded into as the
    last version, not as "no table" — which rebuilt the dim from the batch
    alone, ``[(1, 3)]``, and then deleted the stranded backup."""
    from incremental_data_pipeline_spark.operators.scd import build_dim

    path = str(tmp_path / "dim")
    sinks.atomic_overwrite(spark.createDataFrame([(1, 1), (2, 2)], "k long, x long"), path)
    if crashed:
        os.rename(path, path + ".__old__")  # the state mid-swap after rename #1
    batch = _mkdf(spark, [3])
    assert sinks.fold_into(spark, path, lambda d: build_dim(batch, ["x"], [], "k", d), 0)
    rows = spark.read.parquet(path).select("k", "x").collect()
    assert sorted(map(tuple, rows)) == [(1, 1), (2, 2), (3, 3)]
    assert sinks.commit_record(path).get("epoch") == 0
    assert sorted(os.listdir(tmp_path)) == ["dim"]


def test_versioned_overwrite_time_travel(spark, tmp_path):
    """Read-after-two-overwrites returns each retained version (the
    observable contract of Delta's versionAsOf)."""
    path = str(tmp_path / "t")
    assert sinks.versioned_overwrite(_mkdf(spark, [1]), path) == 1
    assert sinks.versioned_overwrite(_mkdf(spark, [1, 2]), path) == 2
    assert sinks.versioned_overwrite(_mkdf(spark, [1, 2, 3]), path) == 3
    assert sinks.read_version(spark, path).count() == 3  # current
    assert sinks.read_version(spark, path, 2).count() == 2
    assert sinks.read_version(spark, path, 1).count() == 1
    # keep=3: writing a 4th version prunes v1
    assert sinks.versioned_overwrite(_mkdf(spark, [1, 2, 3, 4]), path) == 4
    assert sinks.list_versions(path) == [2, 3, 4]
    with pytest.raises(FileNotFoundError):
        sinks.read_version(spark, path, 1)


def test_idempotent_append_intra_batch_dedup(spark, tmp_path):
    """A first batch containing duplicate keys writes each key once; a
    replayed batch adds nothing."""
    path = str(tmp_path / "t")
    batch = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], ["k", "v"])
    sinks.idempotent_append(spark, batch, path, ["k"])
    assert spark.read.parquet(path).count() == 2
    sinks.idempotent_append(spark, batch, path, ["k"])
    assert spark.read.parquet(path).count() == 2


def test_salted_join_rejects_outer_modes(spark):
    from incremental_data_pipeline_spark.operators.relational import salted_join

    l = spark.range(4).withColumnRenamed("id", "k")
    r = spark.range(2).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="inner"):
        salted_join(l, r, ["k"], how="full")
    # left join: unmatched left rows appear exactly once
    out = salted_join(l, r.withColumn("v", F.lit(1)), ["k"], how="left")
    assert out.count() == 4


def test_compact_table_reduces_files_preserves_data(spark, tmp_path):
    """Bin-packing must drop the file count while the data hash (full
    row multiset) stays identical."""
    from incremental_data_pipeline_spark.sources import maintenance

    path = str(tmp_path / "t")
    df = spark.range(0, 20000).withColumn("v", F.col("id") % 97)
    df.repartition(40).write.parquet(path)

    before_rows = sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(path).collect()
    )
    stats = maintenance.compact_table(spark, path)
    assert stats["files_before"] >= 40
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 1  # tiny table packs to one file
    after_rows = sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(path).collect()
    )
    assert after_rows == before_rows
    assert stats["rows"] == 20000


def test_compact_table_partitioned_preserves_layout(spark, tmp_path):
    """Partitioned compaction merges files WITHIN each partition dir and
    keeps the directory layout (pruning contract) intact."""
    from incremental_data_pipeline_spark.sources import maintenance

    path = str(tmp_path / "t")
    df = spark.range(0, 9000).withColumn("part", (F.col("id") % 3).cast("int"))
    # 3 partitions x many small files
    df.repartition(12).write.partitionBy("part").parquet(path)
    parts_before = sorted(d for d in os.listdir(path) if d.startswith("part="))
    before = maintenance.table_stats(spark, path)

    stats = maintenance.compact_table(spark, path, partition_cols=["part"])
    parts_after = sorted(d for d in os.listdir(path) if d.startswith("part="))
    assert parts_after == parts_before == ["part=0", "part=1", "part=2"]
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 3  # one packed file per partition
    after_rows = sorted(
        (r["id"], r["part"]) for r in spark.read.parquet(path).collect()
    )
    assert len(after_rows) == before["total_rows"] == 9000


def test_table_stats_counts_files_bytes_rows(spark, tmp_path):
    from incremental_data_pipeline_spark.sources import maintenance

    path = str(tmp_path / "t")
    spark.range(0, 100).repartition(5).write.parquet(path)
    s = maintenance.table_stats(spark, path)
    assert s["n_files"] == 5
    assert s["total_rows"] == 100
    assert s["total_bytes"] > 0
    assert s["small_files"] == 5  # every 100-row file is tiny


def test_zorder_compaction_tightens_file_envelopes(spark, tmp_path):
    """Z-order clustering must give each output file a tight min/max
    envelope on BOTH curve columns — the property parquet data skipping
    prunes on — while a round-robin rewrite leaves every file spanning
    ~the full domain. Data itself must be untouched."""
    from incremental_data_pipeline_spark.sources import maintenance

    def envelope_width(path, col):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.col("_metadata.file_path"))
            .agg((F.max(col) - F.min(col)).alias("w"))
        )
        return per_file.agg(F.avg("w")).first()[0]

    df = (
        spark.range(0, 40000)
        .withColumn("x", (F.col("id") * 7919) % 1000)
        .withColumn("y", (F.col("id") * 104729) % 1000)
    )
    plain, zed = str(tmp_path / "plain"), str(tmp_path / "zed")
    for path in (plain, zed):
        df.repartition(16).write.parquet(path)

    stats = maintenance.table_stats(spark, plain)
    target = max(1, stats["total_bytes"] // 8)  # force ~8 output files
    maintenance.compact_table(spark, plain, target_file_bytes=target)
    maintenance.compact_table(
        spark, zed, target_file_bytes=target, zorder_cols=["x", "y"]
    )

    rows_plain = sorted(tuple(r) for r in spark.read.parquet(plain).collect())
    rows_zed = sorted(tuple(r) for r in spark.read.parquet(zed).collect())
    assert rows_plain == rows_zed  # pure rewrite on both paths
    for col in ("x", "y"):
        assert envelope_width(zed, col) < 0.6 * envelope_width(plain, col), col


def test_day_partitioned_scan_prunes_partitions(spark, tmp_path):
    """A filter on the partition column over day-partitioned bronze must
    turn into PARTITION pruning (the scan's partition filters / fewer
    input files), not a full scan + post-filter — the layout property the
    100 TB bronze depends on."""
    import os

    from pyspark.sql import functions as F

    from incremental_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "__day", F.to_date("ts")
    )
    path = os.path.join(str(tmp_path), "bronze_days")
    ev.write.partitionBy("__day").parquet(path)

    full = spark.read.parquet(path)
    n_days_total = full.select("__day").distinct().count()
    pruned = full.filter(F.col("__day") == "2024-01-05")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the day predicate must land in the scan's PartitionFilters (directory
    # -level pruning), not ride along as a post-scan row filter
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2, plan
    assert "__day" in pf[1].split("]", 1)[0]
    assert n_days_total > 1
    # and the pruned result is exactly that day's rows
    want = ev.filter(F.col("__day") == "2024-01-05").count()
    assert pruned.count() == want > 0


def test_dim_filter_triggers_dynamic_partition_pruning(spark, tmp_path):
    """Joining day-partitioned bronze to a small filtered dim must inject a
    runtime partition filter (dynamic partition pruning) on the fact scan —
    the join-driven analogue of static pruning, load-bearing when the
    partition predicate only exists in a dimension table."""
    import os

    from pyspark.sql import functions as F

    from incremental_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").withColumn("__day", F.to_date("ts"))
    path = os.path.join(str(tmp_path), "bronze_dpp")
    ev.write.partitionBy("__day").parquet(path)
    fact = spark.read.parquet(path)

    # a real predicate on the dim side is what makes DPP's benefit
    # heuristic fire (a bare limit/lit column is constant-folded away)
    dim = (
        spark.createDataFrame(
            [("2024-01-01", "audit"), ("2024-01-02", "audit"), ("2024-01-03", "skip")],
            "d string, tag string",
        )
        .select(F.col("d").cast("date").alias("__day"), "tag")
        .filter(F.col("tag") == "audit")
    )
    joined = fact.join(dim, "__day")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:3000]


def test_expire_versions_protects_current_and_fails_loud(spark, tmp_path):
    """Retention for the versioned-table emulation: expired versions raise
    on time travel, retained ones and the current pointer read on."""
    from incremental_data_pipeline_spark.sources import maintenance

    path = str(tmp_path / "vt")
    for i in range(1, 6):  # v1..v5, keep all
        cur = sinks.versioned_overwrite(_mkdf(spark, list(range(i))), path, keep=10)
    assert cur == 5 and sinks.list_versions(path) == [1, 2, 3, 4, 5]

    expired = maintenance.expire_versions(path, keep_last_n=2)
    assert expired == [1, 2, 3]
    assert sinks.list_versions(path) == [4, 5]
    # current read unaffected; retained history readable
    assert sinks.read_version(spark, path).count() == 5
    assert sinks.read_version(spark, path, version=4).count() == 4
    # expired time-travel fails loudly
    with pytest.raises(FileNotFoundError):
        sinks.read_version(spark, path, version=2)
    # the current pointer survives even keep_last_n=0
    assert maintenance.expire_versions(path, keep_last_n=0) == [4]
    assert sinks.read_version(spark, path).count() == 5


def test_vacuum_swap_debris_spares_live_backup(spark, tmp_path):
    from incremental_data_pipeline_spark.sources import maintenance

    path = str(tmp_path / "t")
    sinks.atomic_overwrite(_mkdf(spark, [1]), path)
    os.makedirs(path + ".__tmp__deadbeef")
    os.makedirs(path + ".__old__")
    removed = maintenance.vacuum_swap_debris(path)
    assert len(removed) == 2 and not os.path.exists(path + ".__old__")
    assert spark.read.parquet(path).count() == 1
    # interrupted swap (path missing): __old__ is the backup — NOT debris
    os.rename(path, path + ".__old__")
    assert maintenance.vacuum_swap_debris(path) == []
    assert sinks.recover_interrupted_swap(path)


def test_expire_partitions_keeps_last_n(spark, tmp_path):
    from incremental_data_pipeline_spark.sources import maintenance

    path = str(tmp_path / "days")
    df = spark.createDataFrame(
        [(i, f"2024-01-{d:02d}") for d in range(1, 11) for i in range(3)],
        "id long, d string",
    )
    sinks.overwrite_partitions(df, path, ["d"])
    expired = maintenance.expire_partitions(path, "d", keep_last_n=4)
    assert expired == [f"2024-01-{d:02d}" for d in range(1, 7)]
    left = spark.read.parquet(path)
    assert left.count() == 12
    assert left.select("d").distinct().count() == 4
    with pytest.raises(ValueError):
        maintenance.expire_partitions(path, "d", keep_last_n=0)


def test_versioned_overwrite_cas_expected_base(spark, tmp_path):
    """Compare-and-swap: a writer that read version N can only commit on
    top of N; if the table moved, the write aborts before any data lands."""
    path = str(tmp_path / "occ")
    assert sinks.versioned_overwrite(_mkdf(spark, [1]), path) == 1
    base = sinks._current_version(path)
    # another writer advances the table
    assert sinks.versioned_overwrite(_mkdf(spark, [1, 2]), path) == 2
    with pytest.raises(sinks.VersionConflictError):
        sinks.versioned_overwrite(_mkdf(spark, [9]), path, expected_base=base)
    # table unchanged by the failed write: still v2, still 2 rows
    assert sinks._current_version(path) == 2
    assert spark.read.parquet(os.path.join(path, "v00000002")).count() == 2
    # retry on the fresh base succeeds
    assert (
        sinks.versioned_overwrite(
            _mkdf(spark, [9]), path, expected_base=sinks._current_version(path)
        )
        == 3
    )


def test_versioned_overwrite_commit_marker_race(spark, tmp_path):
    """Two writers racing for the same version number: the rename onto an
    already-committed vN dir is the arbiter — the loser raises and leaves
    no debris, and the winner's data is untouched."""
    path = str(tmp_path / "race")
    sinks.versioned_overwrite(_mkdf(spark, [1]), path)
    # simulate a concurrent writer that already COMMITTED version 2 (its
    # rename landed; pointer flip may or may not have happened yet)
    _mkdf(spark, [7, 8]).write.parquet(os.path.join(path, "v00000002"))
    with pytest.raises(sinks.VersionConflictError):
        sinks.versioned_overwrite(_mkdf(spark, [2]), path, expected_base=1)
    # loser cleaned its staged dir; winner's v2 is intact and now visible
    assert [d for d in os.listdir(path) if d.startswith(".v")] == []
    assert spark.read.parquet(os.path.join(path, "v00000002")).count() == 2
    assert sinks._current_version(path) == 2  # reconcile healed the pointer


def test_versioned_overwrite_stale_marker_no_wedge(spark, tmp_path):
    """A crashed old-protocol writer could leave ``vN.commit`` with no vN
    dir; that must be reclaimed as an abandoned claim, not wedge every
    future write (ADVICE r4 #2)."""
    path = str(tmp_path / "wedge")
    sinks.versioned_overwrite(_mkdf(spark, [1]), path)
    open(os.path.join(path, "v00000002.commit"), "x").close()
    assert sinks.versioned_overwrite(_mkdf(spark, [1, 2]), path) == 2
    assert sinks.read_version(spark, path).count() == 2


def test_versioned_overwrite_crash_between_rename_and_flip_heals(spark, tmp_path):
    """Crash after the commit rename but before the pointer flip: the next
    write reconciles the pointer forward and builds on the committed data
    instead of colliding with it."""
    path = str(tmp_path / "heal")
    sinks.versioned_overwrite(_mkdf(spark, [1]), path)
    # simulate the crash: v2 committed, pointer still says 1
    _mkdf(spark, [7, 8]).write.parquet(os.path.join(path, "v00000002"))
    assert sinks._current_version(path) == 1
    assert sinks.versioned_overwrite(_mkdf(spark, [1, 2, 3]), path) == 3
    assert sinks.read_version(spark, path).count() == 3
    assert sinks.read_version(spark, path, version=2).count() == 2


def test_versioned_overwrite_prunes_markers_with_versions(spark, tmp_path):
    path = str(tmp_path / "prune")
    for i in range(1, 6):
        sinks.versioned_overwrite(_mkdf(spark, list(range(i))), path, keep=2)
    names = set(os.listdir(path))
    assert "v00000005" in names and "v00000004" in names
    assert "v00000001" not in names and "v00000001.commit" not in names


# ---------------------------------------------------------------------------
# Multi-process OCC property test (no Spark needed: the commit protocol is
# pure filesystem; versioned_overwrite is staging + commit_staged_version)


def _occ_worker(path: str, wid: int, target: int, conflicts):
    import uuid

    from incremental_data_pipeline_spark.sources import sinks as sk

    n_conflicts = 0
    while True:
        cur = sk.reconcile_versions(path)
        if cur >= target:
            break
        nxt = cur + 1
        stage = os.path.join(path, f".v{nxt:08d}.stage-{uuid.uuid4().hex[:8]}")
        os.makedirs(stage)
        with open(os.path.join(stage, f"payload_{wid}.txt"), "w") as f:
            f.write(f"writer={wid} version={nxt}")
        with open(os.path.join(stage, "data.bin"), "wb") as f:
            f.write(bytes([wid % 256]) * 4096)
        try:
            sk.commit_staged_version(path, stage, nxt, keep=0)
        except sk.VersionConflictError:
            n_conflicts += 1
    conflicts.put((wid, n_conflicts))


def test_versioned_occ_multiprocess_one_winner_per_version(tmp_path):
    """N real processes race M rounds of commits: every version has exactly
    ONE writer's intact payload (no cross-writer corruption of staged
    data), the pointer lands on the last version, and vacuum_swap_debris
    leaves zero orphaned stage dirs (VERDICT r4 item 8)."""
    import multiprocessing as mp

    path = str(tmp_path / "occ_mp")
    os.makedirs(path)
    n_writers, target = 6, 40
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_occ_worker, args=(path, w, target, q))
        for w in range(n_writers)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
        assert p.exitcode == 0
    total_conflicts = sum(q.get()[1] for _ in range(n_writers))
    assert sinks._current_version(path) == target
    assert sinks.list_versions(path) == list(range(1, target + 1))
    for v in range(1, target + 1):
        vdir = os.path.join(path, f"v{v:08d}")
        payloads = [n for n in os.listdir(vdir) if n.startswith("payload_")]
        assert len(payloads) == 1, f"v{v}: {payloads}"
        wid = int(payloads[0].split("_")[1].split(".")[0])
        with open(os.path.join(vdir, payloads[0])) as f:
            assert f.read() == f"writer={wid} version={v}"
        with open(os.path.join(vdir, "data.bin"), "rb") as f:
            blob = f.read()
        assert blob == bytes([wid % 256]) * 4096  # winner's bytes untouched
    # with 6 writers racing 40 versions, losers must have existed
    assert total_conflicts > 0
    from incremental_data_pipeline_spark.sources import maintenance

    maintenance.vacuum_swap_debris(path)
    assert [d for d in os.listdir(path) if d.startswith(".v")] == []


# --- multi-table transactions + checkpointed log compaction ---------------


def _mk2(spark, xs):
    return spark.createDataFrame([(x, x * 10.0) for x in xs], "k long, v double")


def test_multi_table_txn_atomic_snapshots(spark, tmp_path):
    """All tables flip together: reading orders+summary at any txn id gives
    versions from ONE manifest, never a mix; time travel per txn works."""
    from incremental_data_pipeline_spark.sources import transactions as tx

    root = str(tmp_path / "txn_root")
    t1 = tx.multi_table_transaction(
        root, {"fact": _mk2(spark, [1]), "summary": _mk2(spark, [100])}
    )
    t2 = tx.multi_table_transaction(
        root, {"fact": _mk2(spark, [1, 2]), "summary": _mk2(spark, [200])}
    )
    assert (t1, t2) == (1, 2)
    assert tx.read_txn_table(spark, root, "fact", txn=1).count() == 1
    assert {r["k"] for r in tx.read_txn_table(spark, root, "summary", txn=1).collect()} == {100}
    assert tx.read_txn_table(spark, root, "fact").count() == 2
    assert {r["k"] for r in tx.read_txn_table(spark, root, "summary").collect()} == {200}
    cur, state = tx.read_txn_state(root)
    assert cur == 2 and set(state) == {"fact", "summary"}


def test_multi_table_txn_cas_and_race_loser_is_invisible(spark, tmp_path):
    """expected_txn mismatch aborts before data moves; a writer losing the
    manifest put-if-absent leaves NO visible effect, and vacuum reclaims
    its unreferenced table versions."""
    import pytest as _pytest

    from incremental_data_pipeline_spark.sources import transactions as tx

    root = str(tmp_path / "txn_cas")
    tx.multi_table_transaction(root, {"fact": _mk2(spark, [1])})
    with _pytest.raises(tx.TxnConflictError):
        tx.multi_table_transaction(
            root, {"fact": _mk2(spark, [9])}, expected_txn=0
        )
    # rival commits txn 2 while our writer still believes the log is at 1:
    # the CAS guard must abort BEFORE any table data is staged
    rival = tx._manifest_path(root, 2)
    import json as _json

    _, state = tx.read_txn_state(root)
    with open(rival, "w") as f:
        f.write(_json.dumps({"txn": 2, "parent": 1, "tables": state}))
    n_versions_before = len(
        sinks.list_versions(os.path.join(root, "fact"))
    )
    with _pytest.raises(tx.TxnConflictError):
        tx.multi_table_transaction(
            root, {"fact": _mk2(spark, [5, 6])}, expected_txn=1
        )
    assert len(sinks.list_versions(os.path.join(root, "fact"))) == n_versions_before
    assert tx.read_txn_table(spark, root, "fact").count() == 1
    # the manifest link itself is put-if-absent: a loser cannot clobber
    assert tx._link_put_if_absent(rival, "{}") is False
    with open(rival) as f:
        assert _json.load(f)["txn"] == 2  # winner's content intact
    # an unreferenced (loser/crashed) table version is invisible + vacuumed
    orphan_stage = os.path.join(root, "fact", ".v00000009.stage-test")
    os.makedirs(orphan_stage)
    with open(os.path.join(orphan_stage, "junk.txt"), "w") as f:
        f.write("loser bytes")
    sinks.commit_staged_version(os.path.join(root, "fact"), orphan_stage, 9, keep=0)
    assert tx.read_txn_table(spark, root, "fact").count() == 1
    removed = tx.vacuum_unreferenced(root, grace_seconds=0.0)
    assert any(v.endswith("v00000009") for v in removed)
    assert tx.read_txn_table(spark, root, "fact").count() == 1


def test_vacuum_grace_window_protects_inflight_publish(spark, tmp_path):
    """A freshly-published (unreferenced) version survives vacuum inside
    the grace window — the in-flight-writer guard — and is reclaimed once
    its commit marker ages past the window; a manifest that lands between
    the candidate sweep and deletion rescues its versions (post-scan
    recheck)."""
    import json as _json

    from incremental_data_pipeline_spark.sources import transactions as tx

    root = str(tmp_path / "txn_grace")
    tx.multi_table_transaction(root, {"fact": _mk2(spark, [1])})
    # simulate a writer mid-transaction: version published, manifest not yet
    stage = os.path.join(root, "fact", ".v00000005.stage-test")
    os.makedirs(stage)
    with open(os.path.join(stage, "junk.txt"), "w") as f:
        f.write("in-flight bytes")
    sinks.commit_staged_version(os.path.join(root, "fact"), stage, 5, keep=0)
    vdir = os.path.join(root, "fact", "v00000005")
    assert tx.vacuum_unreferenced(root) == []  # grace window holds
    assert os.path.isdir(vdir)
    # age the publish past the window -> now it is reclaimable debris
    old = 1_000_000_000
    os.utime(f"{vdir}.commit", (old, old))
    os.utime(vdir, (old, old))
    removed = tx.vacuum_unreferenced(root)
    assert removed == [vdir] and not os.path.isdir(vdir)
    # post-scan recheck: a manifest landing mid-vacuum rescues its version
    stage2 = os.path.join(root, "fact", ".v00000006.stage-test")
    os.makedirs(stage2)
    with open(os.path.join(stage2, "junk.txt"), "w") as f:
        f.write("late-commit bytes")
    sinks.commit_staged_version(os.path.join(root, "fact"), stage2, 6, keep=0)
    vdir2 = os.path.join(root, "fact", "v00000006")
    os.utime(f"{vdir2}.commit", (old, old))
    os.utime(vdir2, (old, old))
    orig = tx._log_referenced
    calls = {"n": 0}

    def scan_then_commit(r):
        calls["n"] += 1
        out = orig(r)
        if calls["n"] == 1:  # manifest links AFTER the candidate sweep
            cur, _ = tx.read_txn_state(r)
            tx._link_put_if_absent(
                tx._manifest_path(r, cur + 1),
                _json.dumps(
                    {"txn": cur + 1, "parent": cur, "tables": {"fact": 6}}
                ),
            )
        return out

    tx._log_referenced = scan_then_commit
    try:
        assert tx.vacuum_unreferenced(root) == []
    finally:
        tx._log_referenced = orig
    assert os.path.isdir(vdir2)  # rescued by the recheck
    assert calls["n"] == 2


def test_txn_log_compaction_preserves_reads(spark, tmp_path):
    """After checkpoint+prune: latest and checkpoint-covered reads work,
    pre-checkpoint pruned txns raise, and new txns append on top."""
    import pytest as _pytest

    from incremental_data_pipeline_spark.sources import transactions as tx

    root = str(tmp_path / "txn_compact")
    for i in range(1, 6):
        tx.multi_table_transaction(root, {"fact": _mk2(spark, list(range(i)))})
    ckpt = tx.compact_txn_log(root, keep_tail=1)
    assert ckpt == 5
    manifests, checkpoints = tx._scan_log(root)
    assert checkpoints == [5] and all(m > 4 - 1 for m in manifests)
    assert tx.read_txn_table(spark, root, "fact").count() == 5
    assert tx.read_txn_table(spark, root, "fact", txn=5).count() == 5
    with _pytest.raises(FileNotFoundError):
        tx.read_txn_table(spark, root, "fact", txn=2)  # pruned, pre-checkpoint
    t6 = tx.multi_table_transaction(root, {"fact": _mk2(spark, [1])})
    assert t6 == 6 and tx.read_txn_table(spark, root, "fact").count() == 1


@contextlib.contextmanager
def _killed_at(k: int):
    """Make the ``k``-th ``os.rename``, ``os.replace``, ``os.link`` or
    ``os.remove`` in the block raise — the commit steps of every storage
    protocol, a staged commit's file deletions among them, killed the way
    ``test_append_into_commits_at_the_record_replace`` kills its replace.
    Yields the steps seen; ``k=0`` kills none and just counts."""
    seen = []
    with pytest.MonkeyPatch.context() as mp:
        for name in ("rename", "replace", "link", "remove"):

            def step(*args, _name=name, _real=getattr(os, name), **kwargs):
                seen.append(_name)
                if len(seen) == k:
                    raise OSError(f"killed at {_name} #{k}")
                return _real(*args, **kwargs)

            mp.setattr(os, name, step)
        yield seen


def _rows(df):
    return sorted(map(tuple, df.collect()))


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(shape=st.sampled_from(["versioned", "txn"]), k=st.integers(1, 6))
@example(shape="versioned", k=1)  # the vN rename: the commit point
@example(shape="versioned", k=2)  # the _CURRENT flip, after the commit point
@example(shape="txn", k=5)  # the manifest link: the commit point
def test_killed_versioned_and_txn_writes_rerun_like_uninterrupted(spark, tmp_path, shape, k):
    """Kill a ``versioned_overwrite`` or a two-table
    ``multi_table_transaction`` at its k-th rename/replace/link. A reader
    then sees the previous state if the kill came at or before the
    write's commit point (the ``vN`` rename, step 1; the manifest link,
    step 5), and the new one after it — never a mix, and never a
    committed version hidden behind a pointer its writer did not flip.
    Re-running the write gives what an uninterrupted run gives
    (``read_version``, ``read_txn_table``)."""
    from incremental_data_pipeline_spark.sources import transactions as tx

    def write(path, xs):
        if shape == "versioned":
            sinks.versioned_overwrite(_mk2(spark, xs), path, keep=2)
        else:
            tables = {"fact": _mk2(spark, xs), "dim": _mk2(spark, [x + 100 for x in xs])}
            tx.multi_table_transaction(path, tables)

    def read(path):
        if shape == "versioned":
            return _rows(sinks.read_version(spark, path))
        return {t: _rows(tx.read_txn_table(spark, path, t)) for t in ("dim", "fact")}

    base = tempfile.mkdtemp(dir=tmp_path)
    killed, clean = os.path.join(base, "killed"), os.path.join(base, "clean")
    for path in (killed, clean):
        write(path, [1, 2])
    before = read(killed)
    with _killed_at(0) as steps:
        write(clean, [3, 4, 5])
    after = read(clean)
    with _killed_at(k), contextlib.suppress(OSError):
        write(killed, [3, 4, 5])
        assert k > len(steps), f"step {k} of {steps} was not reached"
    commit = {"versioned": 1, "txn": 5}[shape]
    assert read(killed) == (after if k > commit else before)
    write(killed, [3, 4, 5])  # the re-run
    assert read(killed) == after


def test_first_versioned_write_killed_after_its_commit_point_is_read(spark, tmp_path):
    """A table's first ``versioned_overwrite`` killed between the rename
    to ``v1`` (its commit point) and the ``_CURRENT`` flip has committed:
    ``read_version`` reads ``v1``. Reading the pointer alone looked for
    ``v0`` and raised FileNotFoundError."""
    path = str(tmp_path / "first")
    with _killed_at(2) as steps, contextlib.suppress(OSError):
        sinks.versioned_overwrite(_mk2(spark, [1, 2]), path)
    assert steps == ["rename", "replace"]
    assert _rows(sinks.read_version(spark, path)) == [(1, 10.0), (2, 20.0)]
    assert sinks.versioned_overwrite(_mk2(spark, [3]), path) == 2
    assert _rows(sinks.read_version(spark, path)) == [(3, 30.0)]


@pytest.fixture(scope="session")
def lone_cell(spark):
    """An IVF codebook over the fixture embeddings, the ids to drop so
    that one cell holds a single vector, that vector's id, and a donor id
    stored in another cell."""
    from incremental_data_pipeline_spark.operators import similarity as sim
    from incremental_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    codebook = sim.centroid_codebook(emb, nlist=8)
    probe = tempfile.mkdtemp()
    sim.ivf_index_build(emb, codebook, probe)
    by_cell: dict[int, list[int]] = {}
    for r in spark.read.parquet(probe).select("vec_id", "cell").collect():
        by_cell.setdefault(r["cell"], []).append(r["vec_id"])
    shutil.rmtree(probe)
    lone = min(by_cell, key=lambda c: (len(by_cell[c]), c))
    donor = min(by_cell[next(c for c in sorted(by_cell) if c != lone)])
    return codebook, sorted(by_cell[lone])[1:], min(by_cell[lone]), donor


def _moving_merge(spark, shape, lone_cell=None):
    """A table and a merge into it that empties one partition: callables
    ``first(path)`` and ``merge(path)``. ``bronze_day`` moves the only key
    of 2024-01-05 to the next day (the merge returns the rows it
    replaced); ``bronze_month`` is the same rows partitioned by month, so
    the table has one partition and the merge supersedes every stored
    file; ``ivf_cell`` moves the only vector of ``lone_cell``'s cell to
    another cell with ``allow_moves``."""
    import datetime

    if shape in ("bronze_day", "bronze_month"):
        day = datetime.datetime(2024, 1, 5, 8)
        rows = [(1, day, "old"), (2, day - datetime.timedelta(days=1), "kept")]
        batch = [(1, day + datetime.timedelta(days=1), "new")]

        def day_merge(path, data, **window):
            df = spark.createDataFrame(data, "id long, ts timestamp, v string")
            return sinks.idempotent_overwrite_day_partitions(
                spark, df, path, ["id"], "ts", granularity=shape[len("bronze_"):], **window
            )

        window = {"lo": day.date(), "hi": day.date() + datetime.timedelta(days=1)}
        return (lambda path: day_merge(path, rows)), (lambda path: day_merge(path, batch, **window))

    from incremental_data_pipeline_spark.operators import similarity as sim
    from incremental_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_DIR

    codebook, drop, lone_id, donor_id = lone_cell
    emb = load_table(spark, SF_DIR, "embeddings")
    corpus = emb.filter(~F.col("vec_id").isin(drop))
    moved = emb.filter(F.col("vec_id") == donor_id).select(
        F.lit(lone_id).cast("long").alias("vec_id"), "embedding"
    )
    return (
        lambda path: sim.ivf_index_build(corpus, codebook, path),
        lambda path: sim.ivf_index_upsert(spark, moved, codebook, path, allow_moves=True),
    )


def _merged_table(spark, path):
    """A partitioned table's rows (partition column included, as a
    string) and its partition directories."""
    df = sinks.read_table(spark, path)
    part = next(c for c in ("__day", "cell") if c in df.columns)
    rows = df.select(*[F.col(c).cast("string") if c == part else c for c in df.columns])
    return _rows(rows), sorted(d for d in os.listdir(path) if "=" in d)


def test_day_merge_that_empties_a_day_drops_it(spark, tmp_path):
    """Key 1 is the only row of 2024-01-05 and is re-delivered on
    2024-01-06 with a window over both days: the merge replaces one
    stored row, the key is stored once, and the emptied day's directory
    is gone. Spark's dynamic partition overwrite rewrote only the days
    that received rows, so the emptied day kept the stale row. The table
    path holds a space, which ``_metadata.file_path`` percent-encodes."""
    path = str(tmp_path / "bronze events")
    first, merge = _moving_merge(spark, "bronze_day")
    first(path)
    assert merge(path) == 1
    rows, days = _merged_table(spark, path)
    assert [(i, v, d) for i, _, v, d in rows] == [(1, "new", "2024-01-06"), (2, "kept", "2024-01-04")]
    assert days == ["__day=2024-01-04", "__day=2024-01-06"]
    for d in days:  # every part file keeps its checksum, and no checksum is orphaned
        names = os.listdir(os.path.join(path, d))
        parts = [n for n in names if n.startswith("part-")]
        assert parts and sorted(f".{n}.crc" for n in parts) == sorted(n for n in names if n.endswith(".crc"))
    assert not [n for n in os.listdir(path) if n.startswith(sinks._APPEND)]
    assert sinks.commit_record(path) == {}


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(shape=st.sampled_from(["bronze_day", "ivf_cell"]), k=st.integers(1, 8))
@example(shape="bronze_day", k=1)  # the record replace: the commit point
@example(shape="bronze_day", k=2)  # the superseded file's delete
@example(shape="bronze_day", k=4)  # the staged file's move
@example(shape="ivf_cell", k=1)
@example(shape="ivf_cell", k=6)  # the move, after both cells' deletes
def test_killed_partition_merges_rerun_like_uninterrupted(spark, tmp_path, lone_cell, shape, k):
    """Kill a partition merge that empties a partition (a bronze day, an
    IVF cell) at its k-th rename, replace or file delete. Killed at the
    replace of the commit record (step 1), the next read sees the old
    table and no stage is left; killed after it, the read finishes the
    roll-forward and sees the new table, the emptied partition gone.
    Re-running the merge gives what an uninterrupted run gives."""
    first, merge = _moving_merge(spark, shape, lone_cell)
    base = tempfile.mkdtemp(dir=tmp_path)
    killed, clean = os.path.join(base, "killed"), os.path.join(base, "clean")
    for path in (killed, clean):
        first(path)
    before = _merged_table(spark, killed)
    with _killed_at(0) as steps:
        merge(clean)
    after = _merged_table(spark, clean)
    assert steps[:2] == ["replace", "remove"] and before != after, steps
    with _killed_at(k), contextlib.suppress(OSError):
        merge(killed)
        assert k > len(steps), f"step {k} of {steps} was not reached"
    assert _merged_table(spark, killed) == (after if k > 1 else before)
    assert not [n for n in os.listdir(killed) if n.startswith(sinks._APPEND)]
    merge(killed)  # the re-run
    assert _merged_table(spark, killed) == after


@pytest.mark.parametrize("k", range(1, 6))
def test_killed_merge_of_every_stored_file_reruns_without_a_read(spark, tmp_path, k):
    """A month-partitioned bronze with one month, so the merge supersedes
    every stored file. Kill the merge at its k-th rename, replace or file
    delete and re-run it with no read between: the re-run finishes the
    killed commit before it inspects the table, so it merges into the
    stored rows. Inspected first, a table killed between its deletes and
    its moves looked empty, and the first-write branch then replaced the
    month the roll-forward had just moved in, losing key 2."""
    first, merge = _moving_merge(spark, "bronze_month")
    base = tempfile.mkdtemp(dir=tmp_path)
    killed, clean = os.path.join(base, "killed"), os.path.join(base, "clean")
    for path in (killed, clean):
        first(path)
    with _killed_at(0) as steps:
        merge(clean)
    after = _merged_table(spark, clean)
    assert [(i, v) for i, _, v, _ in after[0]] == [(1, "new"), (2, "kept")], after
    with _killed_at(k), contextlib.suppress(OSError):
        merge(killed)
        assert k > len(steps), f"step {k} of {steps} was not reached"
    assert merge(killed) == 1  # the re-run, straight after the kill
    assert _merged_table(spark, killed) == after


def _txn_worker(root: str, wid: int, target: int, results):
    """Pure-filesystem rendition of multi_table_transaction's commit path
    (stage dir + commit_staged_version + manifest link) so N real processes
    can race without a Spark session each."""
    import json as _json
    import os as _os
    import uuid as _uuid

    from incremental_data_pipeline_spark.sources import sinks as sk
    from incremental_data_pipeline_spark.sources import transactions as tx

    wins = 0
    while True:
        cur, _state = tx.read_txn_state(root)
        if cur >= target:
            break
        committed = {}
        for t in ("alpha", "beta"):
            tdir = _os.path.join(root, t)
            _os.makedirs(tdir, exist_ok=True)
            while True:
                base = sk.reconcile_versions(tdir)
                stage = _os.path.join(
                    tdir, f".v{base + 1:08d}.stage-{_uuid.uuid4().hex[:8]}"
                )
                _os.makedirs(stage)
                with open(_os.path.join(stage, "payload.txt"), "w") as f:
                    f.write(f"writer={wid} txn={cur + 1} table={t}")
                try:
                    committed[t] = sk.commit_staged_version(tdir, stage, base + 1, keep=0)
                    break
                except sk.VersionConflictError:
                    continue
        manifest = _json.dumps(
            {"txn": cur + 1, "parent": cur, "tables": committed}, sort_keys=True
        )
        if tx._link_put_if_absent(tx._manifest_path(root, cur + 1), manifest):
            wins += 1
    results.put((wid, wins))


def test_multi_table_txn_multiprocess_consistent_snapshots(tmp_path):
    """N processes race M transactions over two tables: every committed
    manifest references intact version dirs whose payloads agree on the
    SAME writer and txn id (atomic multi-table snapshots under real
    concurrency), and vacuum removes only unreferenced debris."""
    import json as _json
    import multiprocessing as mp

    from incremental_data_pipeline_spark.sources import transactions as tx

    root = str(tmp_path / "txn_mp")
    os.makedirs(os.path.join(root, "_txn_log"))
    n_writers, target = 5, 25
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_txn_worker, args=(root, w, target, q))
        for w in range(n_writers)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
        assert p.exitcode == 0
    total_wins = sum(q.get()[1] for _ in range(n_writers))
    assert total_wins == target  # exactly one winner per txn id
    cur, state = tx.read_txn_state(root)
    assert cur == target
    for txn in range(1, target + 1):
        with open(tx._manifest_path(root, txn)) as f:
            m = _json.load(f)
        payloads = {}
        for t, v in m["tables"].items():
            with open(os.path.join(root, t, f"v{v:08d}", "payload.txt")) as f:
                payloads[t] = f.read()
        # both tables in one txn were written by ONE writer for THIS txn
        tags = {p.split(" table=")[0] for p in payloads.values()}
        assert len(tags) == 1 and f"txn={txn}" in tags.pop(), payloads
    tx.vacuum_unreferenced(root, grace_seconds=0.0)
    # every remaining version dir is referenced by some manifest
    for t in ("alpha", "beta"):
        from incremental_data_pipeline_spark.sources import sinks as sk

        live = set(sk.list_versions(os.path.join(root, t)))
        referenced = set()
        for txn in range(1, target + 1):
            with open(tx._manifest_path(root, txn)) as f:
                referenced.add(_json.load(f)["tables"][t])
        assert live == referenced


def test_day_partition_merge_rejects_schema_drift(spark, tmp_path):
    """A bronze batch that lost a stored column must fail loudly and leave
    the table untouched: merged under the batch's schema, the touched day's
    stored rows would be rewritten with that column NULL."""
    import datetime

    path = str(tmp_path / "bronze")
    ts = datetime.datetime(2024, 1, 1, 8)
    stored = spark.createDataFrame([(1, ts, "y")], "id long, ts timestamp, note string")
    sinks.idempotent_overwrite_day_partitions(spark, stored, path, ["id"], "ts")
    drifted = spark.createDataFrame([(2, ts)], "id long, ts timestamp")
    with pytest.raises(sinks.StoredSchemaError, match="note"):
        sinks.idempotent_overwrite_day_partitions(spark, drifted, path, ["id"], "ts")
    rows = spark.read.parquet(path).select("id", "note").collect()
    assert [tuple(r) for r in rows] == [(1, "y")]


def test_storage_protocols_defined_once():
    """The directory swap, the staged commit's commit point (the replace
    of the record) and stage name, and the version directory name each
    live in one place (``sources/sinks.py``); a second copy is a fork that
    can drift, as the watermark swap (no crash recovery) and the bronze
    merge (no schema check) once did. Spark's dynamic partition
    overwrite, which kept a partition the merge emptied, and the IVF
    upsert's own probe and Hadoop delete of emptied cells are gone from
    the package: every partition merge commits through the record."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "incremental_data_pipeline_spark"
    files = [*pkg.glob("sources/*.py"), *pkg.glob("operators/*.py"), *pkg.glob("streaming/*.py")]
    src = "".join(f.read_text() for f in [*files, pkg / "plans" / "medallion.py"])
    for needle in ("os.rename(tmp, ", "os.replace(staged, ", '"_append-"', ":08d}"):
        assert src.count(needle) == 1, needle
    everything = "".join(p.read_text() for p in pkg.rglob("*.py"))
    for needle in ("partitionOverwriteMode", "getFileSystem(", "surviving_cells"):
        assert everything.count(needle) == 0, needle


def test_table_fold_defined_once():
    """The commit record of a table has two writers, ``atomic_overwrite``
    (a swap) and ``_commit`` (the staged commit of an append, a partition
    merge or a partition overwrite); its sidecar is named once,
    and the retired writers and drain are gone. Queries and streaming
    tests fold a stream through ``streaming.fold_stream``, which commits
    every micro-batch's epoch — five hand-written folds once committed
    none — and none hand-writes "exists? read : init, then
    atomic_overwrite": eight such copies once skipped crash recovery,
    and one summed replayed batches twice."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    pkg = root / "incremental_data_pipeline_spark"
    sidecar = "_applied" "_epoch"  # split: no copy here
    assert sum(p.read_text().count(sidecar) for p in pkg.rglob("*.py")) == 1
    assert not [p for p in (root / "tests").rglob("*.py") if sidecar in p.read_text()]
    gone = ["commit" "_overwrite", "rewrite" "_in_place", "extra" "_files", "foreach_batch" "_scd1"]
    for p in [*pkg.rglob("*.py"), *(root / "tests").rglob("*.py")]:
        assert not [g for g in gone if g in p.read_text()], p
    sinks_src = ast.parse((pkg / "sources" / "sinks.py").read_text())
    writers = set()
    for fn in sinks_src.body:
        if isinstance(fn, ast.FunctionDef):
            names = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
            opens = [c for c in ast.walk(fn) if isinstance(c, ast.Call)
                     and ast.unparse(c.func) == "open" and "'w'" in ast.unparse(c)]
            if "_EPOCH" in names and opens:
                writers.add(fn.name)
    assert writers == {"atomic_overwrite", "_commit"}, writers
    assert not [p for p in pkg.rglob("*.py") if p.name != "sinks.py" and "_EPOCH" in p.read_text()]
    for path in (pkg / "plans" / "queries.py", root / "tests" / "test_streaming.py"):
        for fn in ast.walk(ast.parse(path.read_text())):
            if isinstance(fn, ast.FunctionDef):
                calls = {ast.unparse(c.func) for c in ast.walk(fn) if isinstance(c, ast.Call)}
                assert not [c for c in calls if c.split(".")[-1] == "fold_into"], fn.name
                overwrites = any(c.split(".")[-1] == "atomic_overwrite" for c in calls)
                assert not ("os.path.exists" in calls and overwrites), (path.name, fn.name)


@pytest.mark.parametrize("crash", ["before_commit", "after_commit"])
def test_append_into_commits_at_the_record_replace(spark, tmp_path, monkeypatch, crash):
    """An epoch append is all or nothing at the atomic replace of the
    commit record. Killed before it, the next read sees the table as it
    was and the staged files are gone; killed after it (before any staged
    file moved), the next read finishes the append. A replayed epoch is
    skipped without a Spark job either way."""
    path = str(tmp_path / "t")
    sinks.fold_into(spark, path, lambda current: _mkdf(spark, [1, 2]), epoch=0)
    replace, calls = os.replace, []

    def dying(src, dst):
        calls.append(dst)
        if len(calls) == (1 if crash == "before_commit" else 2):
            monkeypatch.setattr(os, "replace", replace)
            raise OSError("killed")
        replace(src, dst)

    monkeypatch.setattr(os, "replace", dying)
    with pytest.raises(OSError, match="killed"):
        sinks.append_into(_mkdf(spark, [3]), path, epoch=1)
    want, epoch = ([1, 2], 0) if crash == "before_commit" else ([1, 2, 3], 1)
    assert sorted(r["x"] for r in sinks.read_table(spark, path).collect()) == want
    assert sinks.commit_record(path).get("epoch") == epoch
    assert not [n for n in os.listdir(path) if not n.startswith(("part-", "_SUCCESS"))
                and os.path.isdir(os.path.join(path, n))]
    assert sinks.append_into(_mkdf(spark, [3]), path, epoch=1) == (crash == "before_commit")
    with job_group(spark, "append_replay"):
        assert not sinks.append_into(_mkdf(spark, [3]), path, epoch=1)
        assert spark.sparkContext.statusTracker().getJobIdsForGroup("append_replay") == []
    assert sorted(r["x"] for r in sinks.read_table(spark, path).collect()) == [1, 2, 3]


def test_atomic_overwrite_commits_its_record_and_observed_marks(spark, tmp_path):
    """``atomic_overwrite`` commits the record it is given and the marks
    observed on the written rows with it; an append keeps the marks; an
    overwrite of no rows still records them; a compaction carries the
    record over verbatim; a fold commits its epoch alone; no record
    commits none and observes no marks."""
    from incremental_data_pipeline_spark.sources import maintenance

    path = str(tmp_path / "t")
    mark = {"max_x": F.coalesce(F.max("x"), F.lit(0))}
    sinks.atomic_overwrite(_mkdf(spark, [4, 9, 2]), path, {"epoch": 5}, mark)
    assert sinks.commit_record(path) == {"epoch": 5, "max_x": 9}
    sinks.append_into(_mkdf(spark, [1]), path, 6)
    assert sinks.commit_record(path) == {"epoch": 6, "max_x": 9}
    maintenance.compact_table(spark, path)
    assert sinks.commit_record(path) == {"epoch": 6, "max_x": 9}
    maintenance.compact_table(spark, path, zorder_cols=["x"])
    assert sinks.commit_record(path) == {"epoch": 6, "max_x": 9}
    assert sorted(r["x"] for r in sinks.read_table(spark, path).collect()) == [1, 2, 4, 9]
    sinks.atomic_overwrite(_mkdf(spark, [1]).filter("x > 1"), path, {"epoch": 7}, mark)
    assert sinks.commit_record(path) == {"epoch": 7, "max_x": 0}
    sinks.fold_into(spark, path, lambda current: current, epoch=8)
    assert sinks.commit_record(path) == {"epoch": 8}
    sinks.atomic_overwrite(_mkdf(spark, [3]), path, None, mark)
    assert sinks.commit_record(path) == {}
    maintenance.compact_table(spark, path)
    assert sinks.commit_record(path) == {}


def _engine_table(spark, tmp_path, shape):
    """Build ``shape``, one of the layouts the engine commits, and return
    the directory a read of it scans."""
    import datetime

    path = str(tmp_path / shape)
    rows = spark.createDataFrame(
        [(i, f"n{i % 3}", datetime.datetime(2024, 1, 1 + i % 4, 8)) for i in range(12)],
        "id long, name string, ts timestamp",
    )
    if shape == "flat_epoch":  # swap-committed fold, with an epoch
        sinks.fold_into(spark, path, lambda current: rows, epoch=0)
        assert sinks.commit_record(path).get("epoch") == 0
    elif shape == "day_partitioned":
        sinks.idempotent_overwrite_day_partitions(spark, rows, path, ["id"], "ts")
    elif shape == "ivf_cells":
        from incremental_data_pipeline_spark.operators import similarity as sim
        from incremental_data_pipeline_spark.sources.readers import load_table
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        sim.ivf_index_build(emb, sim.centroid_codebook(emb, nlist=8), path)
    elif shape == "version_dir":
        return sinks.version_dir(path, sinks.versioned_overwrite(rows, path))
    elif shape == "empty_flat":
        sinks.atomic_overwrite(rows.limit(0), path)
    return path


@pytest.mark.parametrize(
    "shape", ["flat_epoch", "day_partitioned", "ivf_cells", "version_dir", "empty_flat"]
)
def test_read_table_matches_inferred_read_without_a_job(spark, tmp_path, shape):
    """``read_table`` takes the schema Spark stored in the footer, so it
    starts no Spark job, and it reads the same schema (partition columns
    included) and rows as ``spark.read.parquet``'s inference."""
    path = _engine_table(spark, tmp_path, shape)
    group = f"read_table_{shape}"
    with job_group(spark, group):
        df = sinks.read_table(spark, path)
        schema = df.schema
        assert spark.sparkContext.statusTracker().getJobIdsForGroup(group) == []
    inferred = spark.read.parquet(path)
    assert schema == inferred.schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, inferred.collect()))
    assert sinks.read_table(spark, str(tmp_path / "missing")) is None


def test_table_reads_defined_once():
    """Engine-written tables are read through ``sinks.read_table`` only,
    and only ``sources/readers.py`` scans fixtures: a bare parquet read
    runs a schema-inference job, and the sites that checked existence
    themselves read a swap that crashed between its renames as missing."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "incremental_data_pipeline_spark"
    src = {p.relative_to(pkg).as_posix(): p.read_text() for p in pkg.rglob("*.py")}
    for needle in ("read.parquet(", "read.schema("):
        users = {name for name, s in src.items() if needle in s}
        assert users <= {"sources/readers.py", "sources/sinks.py"}, (needle, users)
    users = {name for name, s in src.items() if "recover_interrupted_swap(" in s}
    assert users == {"sources/sinks.py", "sources/watermark.py"}, users
