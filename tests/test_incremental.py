"""End-to-end incremental-pipeline semantics: watermark convergence, replay
idempotence, SCD1 attribute refresh + key stability, fact FK resolution.
These encode the reference-shaped correctness scenarios from SURVEY §5."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from incremental_data_pipeline_spark.plans.medallion import MedallionPipeline
from incremental_data_pipeline_spark.sources.readers import load_table
from incremental_data_pipeline_spark.sources.watermark import WatermarkStore
from tests.conftest import SF_DIR, job_group


def _ts(s: str):
    import datetime

    return datetime.datetime.fromisoformat(s)


def test_watermark_batches_converge_to_full_set(spark, tmp_path):
    """Three incremental batches == one full load; rerunning the last batch
    window adds nothing (replay-safe)."""
    pipe = MedallionPipeline(spark, str(tmp_path))
    events = load_table(spark, SF_DIR, "events")

    cuts = ["2024-01-08 00:00:00", "2024-01-20 00:00:00", "2024-02-01 00:00:00"]
    total = 0
    for cut in cuts:
        total += pipe.ingest_bronze(
            events, "events", "ts", ["event_id"], _ts("2023-01-01 00:00:00"), _ts(cut)
        )

    bronze = pipe.read("bronze", "events")
    assert bronze.count() == events.count() == total

    # Replay: watermark already at the final cut → empty window; and even a
    # forced replay of the full range cannot duplicate (idempotent sink).
    n = pipe.ingest_bronze(
        events, "events", "ts", ["event_id"], _ts("2023-01-01 00:00:00"), _ts(cuts[-1])
    )
    assert n == 0
    pipe2 = MedallionPipeline(spark, str(tmp_path))  # fresh store, stale watermark
    store_path = pipe2.path("state", "events_watermark")
    spark.createDataFrame([(_ts("2023-01-01 00:00:00"),)], ["last_load"]).write.mode(
        "overwrite"
    ).parquet(store_path + ".__reset__")
    import shutil

    shutil.rmtree(store_path)
    shutil.move(store_path + ".__reset__", store_path)
    pipe2.ingest_bronze(
        events, "events", "ts", ["event_id"], _ts("2023-01-01 00:00:00"), _ts(cuts[-1])
    )
    assert pipe2.read("bronze", "events").count() == events.count()


def _scan_metrics(df) -> dict[str, int]:
    """The SQL metrics of the one file scan in ``df``'s executed plan,
    after an action ran it."""
    plan = df._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())
             if leaves.apply(i).nodeName().startswith("Scan parquet")]
    assert len(scans) == 1, plan.toString()
    metrics = scans[0].metrics()
    return {name: metrics.apply(name).value() for name in ("numFiles", "numOutputRows")}


def test_incremental_batch_skips_source_files_at_or_below_the_watermark(spark, tmp_path):
    """``run_incremental_batch`` drops every source file whose parquet
    footer puts each ``ts`` at or below the watermark, when Spark lists
    the files: the batch scans only the newer file and delivers what the
    full scan delivers. A file written without statistics, a derived
    column and a watermark of another type skip nothing; an integer
    column skips by its own footer maxima. The source's path has a
    space, which ``inputFiles`` and ``_metadata.file_path`` both
    percent-encode."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from incremental_data_pipeline_spark.sources.watermark import (
        _settled_files,
        run_incremental_batch,
    )

    src = tmp_path / "src dir" / "events.parquet"
    src.mkdir(parents=True)
    day = datetime.datetime(2024, 3, 1)
    for i, stats in enumerate((True, True, True, False)):
        ts = [day + datetime.timedelta(days=i, hours=h) for h in range(5)]
        table = pa.table({"id": range(5 * i, 5 * i + 5), "ts": pa.array(ts, pa.timestamp("us"))})
        pq.write_table(table, src / f"part-{i}.parquet", write_statistics=stats)
    source = load_table(spark, str(src.parent), "events")
    uri = (src.as_uri() + "/part-{}.parquet").replace("file:///", "file:/")
    assert "%20" in uri
    watermark = day + datetime.timedelta(days=1, hours=4)  # the max of part-1

    assert sorted(_settled_files(source, "ts", watermark)) == [uri.format(0), uri.format(1)]
    assert _settled_files(source, "id", 4) == [uri.format(0)]
    shifted = source.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 SECOND"))
    assert _settled_files(shifted, "ts", watermark) == []
    assert _settled_files(source, "ts", 10**18) == []
    assert _settled_files(source, "id", watermark) == []

    store = WatermarkStore(spark, str(tmp_path / "wm"), watermark)
    seen, delivered = [], []

    def sink(batch):
        seen.append(batch)
        delivered.extend(batch.collect())

    assert run_incremental_batch(source, "ts", store, sink) == 10
    assert sorted(r["id"] for r in delivered) == list(range(10, 20))
    assert _scan_metrics(seen[0]) == {"numFiles": 2, "numOutputRows": 10}
    assert store.read() == day + datetime.timedelta(days=3, hours=4)


def test_scd1_dim_upsert_refreshes_attrs_and_keeps_keys(spark, tmp_path):
    """SCD1: run twice converges; changed attributes update in place;
    surrogate keys of existing members never change; new members extend
    the key range densely."""
    pipe = MedallionPipeline(spark, str(tmp_path))
    cust = load_table(spark, SF_DIR, "customer")

    batch1 = cust.filter(F.col("c_custkey") <= 100)
    dim1 = pipe.build_gold_dim(
        "dim_customer", batch1, ["c_custkey"], ["c_name", "c_mktsegment"], "dim_customer_key"
    )
    keys1 = {r["c_custkey"]: r["dim_customer_key"] for r in dim1.collect()}
    assert sorted(keys1.values()) == list(range(1, len(keys1) + 1))  # dense from 1

    # batch2: 50 updated members (renamed) + the rest of the table as inserts
    updated = (
        cust.filter(F.col("c_custkey") <= 50)
        .withColumn("c_name", F.concat(F.lit("RENAMED-"), F.col("c_name")))
    )
    inserts = cust.filter(F.col("c_custkey") > 100)
    dim2 = pipe.build_gold_dim(
        "dim_customer",
        updated.unionByName(inserts),
        ["c_custkey"],
        ["c_name", "c_mktsegment"],
        "dim_customer_key",
    )
    rows2 = {r["c_custkey"]: r for r in dim2.collect()}
    assert dim2.count() == cust.count()
    # existing keys stable
    assert all(rows2[k]["dim_customer_key"] == v for k, v in keys1.items())
    # updated attrs refreshed, untouched attrs kept
    assert all(rows2[k]["c_name"].startswith("RENAMED-") for k in range(1, 51) if k in rows2)
    # new keys dense continuation
    new_keys = sorted(
        r["dim_customer_key"] for ck, r in rows2.items() if ck not in keys1
    )
    assert new_keys == list(range(len(keys1) + 1, cust.count() + 1))

    # convergence: re-applying the same batch changes nothing
    # (snapshot first: the swap invalidates previously returned handles)
    dim2_rows = sorted(tuple(r) for r in dim2.collect())
    dim3 = pipe.build_gold_dim(
        "dim_customer",
        updated.unionByName(inserts),
        ["c_custkey"],
        ["c_name", "c_mktsegment"],
        "dim_customer_key",
    )
    assert sorted(tuple(r) for r in dim3.collect()) == dim2_rows


def test_fact_fk_resolution_with_late_dim(spark, tmp_path):
    """Fact rows joining a missing dim member keep a NULL FK (reference
    left-join behavior, gold_fact.py:34-38) instead of being dropped."""
    pipe = MedallionPipeline(spark, str(tmp_path))
    li = load_table(spark, SF_DIR, "lineitem")
    part = load_table(spark, SF_DIR, "part")

    dim_part = pipe.build_gold_dim(
        "dim_part", part.filter(F.col("p_partkey") <= 100), ["p_partkey"], ["p_brand"], "dim_part_key"
    )
    fact = pipe.build_gold_fact(
        "fact_lineitem",
        li,
        {"dim_part_key": (dim_part, {"l_partkey": "p_partkey"})},
        ["l_orderkey", "l_linenumber", "l_extendedprice"],
    )
    assert fact.count() == li.count()  # no rows dropped
    n_null = fact.filter(F.col("dim_part_key").isNull()).count()
    n_late = li.filter(F.col("l_partkey") > 100).count()
    assert n_null == n_late


def test_atomic_overwrite_self_read(spark, tmp_path):
    """Overwriting a table with a plan derived from itself must not corrupt
    it (the Spark read-overwrite trap the temp-swap sink exists for)."""
    from incremental_data_pipeline_spark.sources.sinks import atomic_overwrite

    p = str(tmp_path / "t")
    spark.range(100).write.parquet(p)
    df = spark.read.parquet(p).withColumn("id", F.col("id") + 1)
    atomic_overwrite(df, p)
    out = spark.read.parquet(p)
    assert out.count() == 100
    assert out.agg(F.min("id")).first()[0] == 1


def test_partitioned_bronze_converges_with_midday_cuts(spark, tmp_path):
    """Day-partitioned bronze: batches cut MID-day still converge to the
    full set (the partial day's earlier rows survive the dynamic partition
    overwrite), and a replay adds nothing."""
    pipe = MedallionPipeline(spark, str(tmp_path))
    events = load_table(spark, SF_DIR, "events")

    cuts = ["2024-01-08 13:30:00", "2024-01-20 07:45:00", "2024-02-01 00:00:00"]
    for cut in cuts:
        pipe.ingest_bronze(
            events, "events", "ts", ["event_id"],
            _ts("2023-01-01 00:00:00"), _ts(cut), partition_daily=True,
        )
    bronze = pipe.read("bronze", "events")
    assert bronze.count() == events.count()
    assert bronze.select("event_id").distinct().count() == events.count()
    # partition layout: one __day directory per event day
    assert "__day" in bronze.columns

    # forced replay of the final window cannot duplicate
    import shutil
    store_path = pipe.path("state", "events_watermark")
    shutil.rmtree(store_path)
    n = pipe.ingest_bronze(
        events, "events", "ts", ["event_id"],
        _ts("2024-01-20 07:45:00"), _ts(cuts[-1]), partition_daily=True,
    )
    assert n > 0  # the window re-delivers rows...
    assert pipe.read("bronze", "events").count() == events.count()  # ...but no dupes


@pytest.mark.parametrize("target", ["watermark", "gold_dim"])
def test_crash_between_swap_renames_reruns_like_uninterrupted(spark, tmp_path, target):
    """A crash between a swap's two renames leaves only ``path.__old__``.
    The next run must see that last version: not the initial watermark
    (re-ingesting all history), and not a missing dim rebuilt from the
    batch alone (which would then delete the only backup)."""
    initial = _ts("2020-01-01 00:00:00")

    def run(base, crash):
        pipe = MedallionPipeline(spark, str(base))
        if target == "watermark":
            path = pipe.path("state", "events_watermark")
            WatermarkStore(spark, path, initial).advance(_ts("2024-05-01 00:00:00"))
        else:
            path = pipe.path("gold", "dim")
            first = spark.createDataFrame([(1, "b"), (2, "c"), (3, "a")], "k long, attr string")
            pipe.build_gold_dim("dim", first, ["k"], ["attr"], "sk")
        if crash:
            os.rename(path, path + ".__old__")
        if target == "watermark":
            return WatermarkStore(spark, path, initial).read()
        second = spark.createDataFrame([(3, "z")], "k long, attr string")
        return sorted(map(tuple, pipe.build_gold_dim("dim", second, ["k"], ["attr"], "sk").collect()))

    assert run(tmp_path / "crash", True) == run(tmp_path / "clean", False)


def test_gold_read_after_crash_between_swap_renames(spark, tmp_path):
    """A crash between the fact swap's two renames leaves only
    ``fact.__old__``; a star read must still see the last committed rows
    (it raised PATH_NOT_FOUND when the read skipped the repair)."""
    pipe = MedallionPipeline(spark, str(tmp_path))
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k long, attr string")
    pipe.build_gold_dim("dim", dim, ["k"], ["attr"], "sk")
    pipe.build_gold_fact("fact", dim.select("k", F.lit(5).alias("m")),
                         {"sk": (pipe.read("gold", "dim"), {"k": "k"})}, ["m"])
    fact = pipe.path("gold", "fact")
    before = sorted(map(tuple, pipe.read("gold", "fact").collect()))
    os.rename(fact, fact + ".__old__")
    assert sorted(map(tuple, pipe.read("gold", "fact").collect())) == before
    assert pipe.read("gold", "missing") is None


@pytest.mark.parametrize("partition_daily", [False, True])
def test_batch_killed_before_watermark_advance_reruns_clean(
    spark, tmp_path, monkeypatch, partition_daily
):
    """Kill point between the sink commit and the watermark write: the
    batch's rows are in bronze but the watermark still names the previous
    batch. Re-running the batch must give the uninterrupted bronze rows
    and watermark (the replay-safe sink absorbs the re-delivery)."""
    events = load_table(spark, SF_DIR, "events")
    initial = _ts("2023-01-01 00:00:00")
    advance = WatermarkStore.advance

    def killed(self, value):
        monkeypatch.setattr(WatermarkStore, "advance", advance)  # raise once
        raise RuntimeError("killed before the watermark write")

    def run(base, kill):
        pipe = MedallionPipeline(spark, str(base))

        def ingest(cut):
            pipe.ingest_bronze(
                events, "events", "ts", ["event_id"], initial, cut,
                partition_daily=partition_daily,
            )

        ingest(_ts("2024-01-08 13:30:00"))
        if kill:
            monkeypatch.setattr(WatermarkStore, "advance", killed)
            with pytest.raises(RuntimeError, match="killed"):
                ingest(None)
        ingest(None)
        store = WatermarkStore(spark, pipe.path("state", "events_watermark"), initial)
        return sorted(map(tuple, pipe.read("bronze", "events").collect())), store.read()

    assert run(tmp_path / "killed", True) == run(tmp_path / "clean", False)


def test_merge_partial_aggs_equals_full_rebuild_any_split(spark):
    """The incremental-maintenance invariant: gold(pre) + batch(post) must
    equal the from-scratch aggregate, for ANY watermark split — including
    an empty batch (no-op) and an all-in-batch split (bootstrap)."""
    import datetime

    from incremental_data_pipeline_spark.operators import cdc
    from incremental_data_pipeline_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_DIR, "events")
    sums = {
        "sum_cents": F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint"),
        "n_events": F.count(F.lit(1)).cast("bigint"),
    }
    keys = ["user_id", "event_type"]
    full = {
        tuple(r)[:2]: tuple(r)[2:]
        for r in ev.groupBy(*keys)
        .agg(*[c.alias(n) for n, c in sums.items()])
        .collect()
    }
    for cut in ("2023-01-01", "2024-01-20", "2030-01-01"):
        w = datetime.datetime.fromisoformat(cut)
        gold = (
            ev.filter(F.col("ts") <= F.lit(w))
            .groupBy(*keys)
            .agg(*[c.alias(n) for n, c in sums.items()])
        )
        merged = cdc.merge_partial_aggs(
            gold, ev.filter(F.col("ts") > F.lit(w)), keys, sums
        )
        got = {tuple(r)[:2]: tuple(r)[2:] for r in merged.collect()}
        assert got == full, cut


def test_snapshot_diff_classifies_and_handles_nulls(spark):
    from incremental_data_pipeline_spark.operators import cdc

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, None, 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", None), (3, "c", 31.0), (4, None, 40.0), (5, "e", 50.0)],
        "k long, s string, v double",
    )
    rows = {r["k"]: r for r in cdc.snapshot_diff(old, new, ["k"], ["s", "v"]).collect()}
    assert set(rows) == {1, 3, 5}  # 2 and 4 unchanged (null-safe compare)
    assert rows[1]["op"] == "delete" and rows[1]["s"] is None
    assert rows[3]["op"] == "update" and rows[3]["v"] == 31.0
    assert rows[5]["op"] == "insert" and rows[5]["s"] == "e"
    # a key-only diff: the inserts and deletes, no update to compare
    keys_only = cdc.snapshot_diff(old, new, ["k"], []).collect()
    assert sorted((r["k"], r["op"]) for r in keys_only) == [(1, "delete"), (5, "insert")]
    assert keys_only[0].asDict().keys() == {"k", "op"}


def test_change_join_defined_once():
    """``cdc.changes`` is the one keyed change join: ``snapshot_diff``,
    the SCD2 merge and ``build_dim``'s SCD1 upsert read its flags, and
    ``scd.py`` joins no full outer and splits no anti-join of its own."""
    import inspect

    from incremental_data_pipeline_spark.operators import cdc, scd

    src = inspect.getsource(scd)
    assert '"full_outer"' not in src
    assert "new_rows" not in src
    assert '"full_outer"' not in inspect.getsource(cdc.snapshot_diff)
    for fn in (cdc.snapshot_diff, scd.upsert_scd2_ordered, scd.build_dim):
        assert "changes(" in inspect.getsource(fn), fn.__name__


def test_reconcile_checksums_localizes_divergence(spark):
    """Identical copies reconcile clean; a perturbed replica's mismatched
    buckets are exactly the buckets of the touched keys."""
    from incremental_data_pipeline_spark.operators import cdc
    from incremental_data_pipeline_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    orders = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    clean = cdc.reconcile_checksums(orders, orders, ["k"], ["status", "cents"], 32)
    assert clean.filter("NOT match").count() == 0
    assert clean.count() == clean.filter("n_left = n_right").count()

    touched = orders.filter(F.col("k") % 97 == 0)
    corrupted = orders.filter(F.col("k") % 97 != 0)
    rec = cdc.reconcile_checksums(orders, corrupted, ["k"], ["status", "cents"], 32)
    bad_buckets = {r["bucket"] for r in rec.filter("NOT match").collect()}
    expect_buckets = {
        r[0]
        for r in touched.select(
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("v"), F.col("k").cast("string"))), 1, 8
                    ),
                    16,
                    10,
                )
                .cast("long") % 32
            ).alias("b")
        ).collect()
    }
    assert bad_buckets == expect_buckets


def test_reconcile_checksums_null_injective(spark):
    """('a', NULL, 'b') vs ('a', 'b', NULL) must digest differently: NULL
    is encoded as its own token, never silently skipped (the concat_ws
    pitfall), so a NULL slide between columns is detected."""
    from incremental_data_pipeline_spark.operators import cdc

    schema = "k string, v1 string, v2 string"
    left = spark.createDataFrame([("a", None, "b")], schema)
    right = spark.createDataFrame([("a", "b", None)], schema)
    rec = cdc.reconcile_checksums(left, right, ["k"], ["v1", "v2"], 8)
    assert rec.filter("NOT match").count() == 1
    # and the self-comparison with NULLs present is still clean
    same = cdc.reconcile_checksums(left, left, ["k"], ["v1", "v2"], 8)
    assert same.filter("NOT match").count() == 0


def test_scd2_idempotent_and_versions_chain(spark):
    """Re-applying an identical batch is a no-op (attributes unchanged =>
    no new version); a second real change chains a third version with
    correct validity windows; a batch effective before the open version
    started is ignored."""
    import datetime

    from incremental_data_pipeline_spark.operators import scd
    from pyspark.sql import functions as F

    d0, d1, d2 = (
        datetime.date(2024, 1, 1),
        datetime.date(2024, 2, 1),
        datetime.date(2024, 3, 1),
    )
    dim0 = spark.createDataFrame(
        [(1, 100), (2, 200)], "k long, v long"
    ).select(
        "k", "v",
        F.lit(d0).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    batch1 = spark.createDataFrame([(1, 150), (3, 300)], "k long, v long")
    dim1 = scd.upsert_scd2(dim0, batch1, ["k"], ["v"], d1)
    # replay of the same batch: attribute values now match => no-op
    dim1_replay = scd.upsert_scd2(dim1, batch1, ["k"], ["v"], d2)
    assert sorted(map(tuple, dim1.collect())) == sorted(map(tuple, dim1_replay.collect()))

    batch2 = spark.createDataFrame([(1, 175)], "k long, v long")
    dim2 = scd.upsert_scd2(dim1, batch2, ["k"], ["v"], d2)
    rows = {(r["k"], r["v"]): r for r in dim2.collect()}
    assert len(rows) == 5  # k1: 3 versions; k2: 1; k3: 1
    assert rows[(1, 100)]["valid_to"] == d1 and not rows[(1, 100)]["is_current"]
    assert rows[(1, 150)]["valid_to"] == d2 and not rows[(1, 150)]["is_current"]
    assert rows[(1, 175)]["valid_from"] == d2 and rows[(1, 175)]["is_current"]
    assert rows[(2, 200)]["is_current"] and rows[(2, 200)]["valid_to"] is None
    assert rows[(3, 300)]["valid_from"] == d1 and rows[(3, 300)]["is_current"]

    # a late batch (effective d0, before k1's open version starts at d2)
    # must not close that version before it opened or open one in the past
    late = spark.createDataFrame([(1, 999)], "k long, v long")
    dim_late = scd.upsert_scd2(dim2, late, ["k"], ["v"], d0)
    assert sorted(map(tuple, dim_late.collect())) == sorted(map(tuple, dim2.collect()))

    # no tracked attributes: a re-delivered key keeps its open version,
    # a new key opens one
    keys_only = spark.createDataFrame([(1, d0, None, True)],
                                      "k long, valid_from date, valid_to date, is_current boolean")
    seen = scd.upsert_scd2(keys_only, spark.createDataFrame([(1,), (2,)], "k long"), ["k"], [], d1)
    assert sorted(map(tuple, seen.collect())) == [(1, d0, None, True), (2, d1, None, True)]


@pytest.mark.parametrize("name", ["medallion_e2e", "bucketed_join_pricing"])
def test_pool_jobs_keep_the_callers_job_group(spark, name):
    """The two queries that submit writes from a thread pool run those
    jobs under the caller's job group: every job started during the query
    belongs to the group, none is left without one."""
    from incremental_data_pipeline_spark.plans.queries import QUERIES

    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"pool_jobs_{name}"
    with job_group(spark, group):
        QUERIES[name](spark, SF_DIR).collect()
    assert tracker.getJobIdsForGroup(group)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_scoped_conf_restores_set_and_unset_keys(spark):
    """On exit, also by an error, a key that was set gets its old value
    back and a key that was unset is unset again."""
    from incremental_data_pipeline_spark.functions.util import scoped_conf

    was_set, was_unset = "spark.sql.shuffle.partitions", "spark.idps.test.scoped"
    before = spark.conf.get(was_set)
    overrides = {was_set: "7", was_unset: "on"}

    def restored():
        return spark.conf.get(was_set) == before and was_unset not in spark.conf.getAll

    with scoped_conf(spark, overrides):
        assert [spark.conf.get(k) for k in overrides] == ["7", "on"]
    assert restored()
    with pytest.raises(RuntimeError), scoped_conf(spark, overrides):
        raise RuntimeError("block failed")
    assert restored()


def test_session_concerns_defined_once():
    """Threads that submit Spark jobs, conf overrides and scratch dirs each
    have one helper in ``functions/util.py``, and env knobs are read only
    in ``session.py``: per-site copies drifted, as the thread pools whose
    jobs lost the caller's job group and the temp dir nothing removed."""
    import inspect
    from pathlib import Path

    from incremental_data_pipeline_spark.functions import util

    pkg = Path(util.__file__).resolve().parents[1]
    src = {p.relative_to(pkg).as_posix(): p.read_text() for p in pkg.rglob("*.py")}

    def users(needle):
        return {name: s.count(needle) for name, s in src.items() if needle in s}

    for needle in ("ThreadPoolExecutor", "inheritable_thread_target", "tempfile.mkdtemp("):
        assert set(users(needle)) == {"functions/util.py"}, needle
    assert users("spark.conf.set(") == {
        "functions/util.py": 1,
        "sources/readers.py": 1,
        "sources/catalog.py": 1,
    }
    assert "spark.conf.set(" in inspect.getsource(util.scoped_conf)
    assert set(users("SPARK_GRAFT_")) == {"session.py"}


def test_close_deleted_replay_noop_and_history_kept(spark):
    """Closing a deleted key ends its open version only; closed history
    rows are untouched, unknown delete keys are no-ops, and replaying
    the same delete batch yields the identical table."""
    import datetime

    from incremental_data_pipeline_spark.operators import scd

    d0, d1, d2 = (
        datetime.date(2024, 1, 1),
        datetime.date(2024, 2, 1),
        datetime.date(2024, 3, 1),
    )
    dim = spark.createDataFrame(
        [
            (1, 100, d0, d1, False),   # closed history — must not change
            (1, 150, d1, None, True),  # open version of deleted key
            (2, 200, d0, None, True),  # survivor
        ],
        "k int, v int, valid_from date, valid_to date, is_current boolean",
    )
    deletes = spark.createDataFrame([(1,), (99,)], "k int")  # 99 unknown
    once = scd.close_deleted(dim, deletes, ["k"], d2)
    rows = {(r["k"], r["v"]): r for r in once.collect()}
    assert rows[(1, 100)]["valid_to"] == d1 and not rows[(1, 100)]["is_current"]
    assert rows[(1, 150)]["valid_to"] == d2 and not rows[(1, 150)]["is_current"]
    assert rows[(2, 200)]["is_current"] and rows[(2, 200)]["valid_to"] is None
    assert once.count() == 3
    twice = scd.close_deleted(once, deletes, ["k"], datetime.date(2024, 4, 1))
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, once.collect()))


def test_signed_partial_merge_retracts_exactly(spark):
    """Folding a batch in with sign +1 and then retracting the same rows
    with sign -1 restores the base rollup exactly (decimal partials), and
    a fully-retracted key's count reaches zero."""
    from incremental_data_pipeline_spark.operators import cdc

    base_rows = spark.createDataFrame(
        [("a", 10.0), ("a", 5.0), ("b", 7.5)], "k string, v double"
    )
    batch = spark.createDataFrame(
        [("a", 2.5), ("c", 1.0)], "k string, v double"
    )
    vd = F.col("v").cast("decimal(18,2)")
    base = base_rows.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum(vd).alias("s")
    )
    sums_signed = {
        "n": F.sum("sign"),
        "s": F.sum(F.col("sign") * vd),
    }
    applied = cdc.merge_partial_aggs(
        base, batch.withColumn("sign", F.lit(1)), ["k"], sums_signed
    )
    retracted = cdc.merge_partial_aggs(
        applied, batch.withColumn("sign", F.lit(-1)), ["k"], sums_signed
    )
    got = {r["k"]: (r["n"], float(r["s"])) for r in retracted.collect()}
    want = {r["k"]: (r["n"], float(r["s"])) for r in base.collect()}
    assert {k: v for k, v in got.items() if v[0] != 0} == want
    assert got["c"][0] == 0  # fully-retracted key visible as zero-count


def test_max_rescan_under_deletes_scoping(spark):
    """Groups are rescanned iff a deleted row carried the group max;
    fully-deleted groups drop out; deleting a non-max row keeps the
    stored max with rescanned=False; a TIED max (duplicate value, one
    copy deleted) rescans and lands on the same value."""
    from pyspark.sql import functions as F

    from incremental_data_pipeline_spark.operators import cdc

    base = spark.createDataFrame(
        [
            # g=a: max 9.0 deleted -> rescan to 5.0
            ("a", 9.0, 1), ("a", 5.0, 0),
            # g=b: non-max deleted -> untouched, max 8.0
            ("b", 8.0, 0), ("b", 3.0, 1),
            # g=c: everything deleted -> drops out
            ("c", 4.0, 1),
            # g=d: tied max, one copy deleted -> rescan, same value
            ("d", 7.0, 1), ("d", 7.0, 0),
            # g=e: no deletes at all
            ("e", 2.0, 0),
        ],
        "g string, v double, del int",
    )
    res = cdc.max_rescan_under_deletes(
        base, F.col("del") == 1, ["g"], "v", out_col="mx", flag_col="resc"
    )
    got = {r["g"]: (r["mx"], r["resc"]) for r in res.collect()}
    assert got == {
        "a": (5.0, True),
        "b": (8.0, False),
        "d": (7.0, True),
        "e": (2.0, False),
    }


def test_dyadic_counters_merge_equals_one_shot(spark):
    """Counter mergeability — the contract stream_rank_sketch rides:
    building the dyadic CMS on two disjoint batches and summing cells
    must equal building it on the union in one pass."""
    from pyspark.sql import functions as F

    from incremental_data_pipeline_spark.operators import sketches as sk

    vals = [(v,) for v in [3, 7, 7, 100, 255, 255, 255, 1023, 4095, 9999]]
    full = spark.createDataFrame(vals, "v long")
    a = spark.createDataFrame(vals[:4], "v long")
    b = spark.createDataFrame(vals[4:], "v long")
    one = sk.dyadic_cms_counters(full, "v", 14, 256, 3)
    merged = (
        sk.dyadic_cms_counters(a, "v", 14, 256, 3)
        .unionByName(sk.dyadic_cms_counters(b, "v", 14, 256, 3))
        .groupBy("d", "cell")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    as_map = lambda df: {(r["d"], r["cell"]): r["n"] for r in df.collect()}
    assert as_map(one) == as_map(merged)
