"""Structured Streaming tests: oracle parity at sf0.001 plus the
streaming-only guarantees the batch oracle can't express — incremental
multi-batch arrival, checkpointed replay idempotence, watermark-bounded
dedup state."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_query_matches_oracle


@pytest.mark.parametrize(
    "name",
    [
        "stream_window_agg",
        "stream_session_windows",
        "stream_dedup",
        "stream_scd1_dim",
        "stream_running_user_stats",
    ],
)
def test_streaming_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name)


def _copy_split(src: str, dest_dir: str, df, ts_col: str, cut) -> tuple[str, str]:
    """Write df split at `cut` as two plain files directly in dest_dir (the
    file stream source lists a directory's immediate files, not subdirs)."""
    import glob

    out = []
    for tag, pred in (("early", F.col(ts_col) <= F.lit(cut)), ("late", F.col(ts_col) > F.lit(cut))):
        tmp = os.path.join(dest_dir, f"__{tag}__")
        df.filter(pred).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        final = os.path.join(dest_dir, f"{tag}.parquet")
        os.rename(part, final)
        shutil.rmtree(tmp)
        out.append(final)
    return tuple(out)


def _chunked_source(spark, base: str, df, ts_col: str, k: int = 3) -> str:
    """Write df as k time-ordered single-file chunks under base/src so
    maxFilesPerTrigger=1 yields k ordered micro-batches."""
    import glob as _glob

    from pyspark.sql import Window

    src = os.path.join(base, "src")
    os.makedirs(src)
    chunked = df.withColumn("__chunk", F.ntile(k).over(Window.orderBy(ts_col)))
    for i in range(1, k + 1):
        tmp = os.path.join(base, f"__c{i}__")
        chunked.filter(F.col("__chunk") == i).drop("__chunk").coalesce(1).write.parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.rename(part, os.path.join(src, f"chunk{i}.parquet"))
        shutil.rmtree(tmp)
    return src


def test_multi_batch_scd1_keys_stable(spark):
    """Streaming SCD1 over two micro-batches assigns each user exactly one
    surrogate key, and batch-2 arrivals extend (never rewrite) batch-1 keys."""
    import datetime

    from incremental_data_pipeline_spark.operators.scd import build_dim
    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="stream_multibatch_")
    try:
        events = load_table(spark, SF_DIR, "events")
        cut = datetime.datetime(2024, 1, 15)
        src_dir = os.path.join(base, "src")
        os.makedirs(src_dir)
        _copy_split(SF_DIR, src_dir, events.select("user_id", "ts"), "ts", cut)

        # maxFilesPerTrigger=1 forces two micro-batches through foreachBatch.
        schema = events.select("user_id", "ts").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        dim = sp.fold_stream(
            stream,
            os.path.join(base, "dim_user"),
            lambda batch, d: build_dim(batch, ["user_id"], [], "k", d),
            os.path.join(base, "ckpt"),
        )
        n_users = events.select("user_id").distinct().count()
        assert dim.count() == n_users
        assert dim.select("k").distinct().count() == n_users
        # batch-1 users got the low key range, assigned before batch 2 arrived
        batch1_users = {
            r[0] for r in events.filter(F.col("ts") <= F.lit(cut)).select("user_id").distinct().collect()
        }
        low_keys = {r["user_id"] for r in dim.orderBy("k").limit(len(batch1_users)).collect()}
        assert low_keys == batch1_users
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_foreach_batch_replay_is_noop(spark):
    """Re-running the stream with the same checkpoint replays nothing: the
    committed offsets make delivery effectively-once, so the dim is
    byte-identical after a second drain."""
    from incremental_data_pipeline_spark.operators.scd import build_dim
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="stream_replay_")
    try:
        dim_path = os.path.join(base, "dim_user")
        ckpt = os.path.join(base, "ckpt")

        def drain():
            stream = sp.read_stream(spark, SF_DIR, "events").select("user_id", "ts")
            dim = sp.fold_stream(
                stream, dim_path, lambda batch, d: build_dim(batch, ["user_id"], [], "k", d), ckpt
            )
            return sorted((r["user_id"], r["k"]) for r in dim.collect())

        first = drain()
        second = drain()
        assert first == second
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_dedup_bounded_state_schema(spark):
    """dropDuplicatesWithinWatermark plan carries the event-time watermark
    (state eviction is wired in), and output has no duplicate keys."""
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    stream = sp.read_stream(spark, SF_DIR, "events")
    deduped = sp.streaming_dedup(stream, ["user_id", "event_type"], "ts", "35 days")
    out = sp.run_to_memory(deduped, "append")
    assert out.count() == out.distinct().count()


def test_window_agg_drops_data_later_than_watermark(spark):
    """Append-mode windowed agg: an event arriving in a later micro-batch
    whose event time is older than the advanced watermark is DROPPED (its
    window already finalized). This is the bounded-state contract that lets
    the agg run forever — and exactly what the reference lacks (SURVEY §2.8
    I5: no late/out-of-order story)."""
    import glob as _glob

    base = tempfile.mkdtemp(prefix="stream_late_")
    try:
        src = os.path.join(base, "src")
        os.makedirs(src)

        def write_file(tag, rows):
            tmp = os.path.join(base, f"__{tag}__")
            spark.createDataFrame(rows, "k string, ts timestamp").coalesce(1).write.parquet(tmp)
            part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            os.rename(part, os.path.join(src, f"{tag}.parquet"))
            shutil.rmtree(tmp)

        import datetime

        T = datetime.datetime(2024, 1, 1)
        H = datetime.timedelta(hours=1)
        # batch 1: events through hour 10 => watermark advances to 10:00-1h
        write_file("b1", [("a", T), ("a", T + H), ("a", T + 10 * H)])
        # batch 2: an hour-0 straggler (far below watermark 09:00) + fresh row
        write_file("b2", [("late", T), ("a", T + 11 * H)])

        schema = "k string, ts timestamp"
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        )
        from pyspark.sql import functions as F2

        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F2.window("ts", "1 hour"))
            .agg(F2.count(F2.lit(1)).alias("n"))
            .select(F2.col("window.start").alias("ws"), "n")
        )
        from incremental_data_pipeline_spark.streaming.pipeline import run_to_memory

        out = run_to_memory(agg, "append")
        finalized = {(r["ws"], r["n"]) for r in out.collect()}
        # hour-0 window finalized with ONLY the two on-time rows; the
        # batch-2 straggler for hour 0 was dropped, not re-emitted.
        assert (T, 2) in finalized, finalized
        assert (T, 3) not in finalized, finalized
    finally:
        shutil.rmtree(base, ignore_errors=True)

def test_scd1_dim_output_invariant_to_batch_split(spark):
    """The registered stream_scd1_dim result (re-ranked over the natural
    key) is identical whether the source arrives as one micro-batch or two
    — the oracle match doesn't depend on the fixture being a single file."""
    import datetime

    from incremental_data_pipeline_spark.operators.scd import build_dim
    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp
    from pyspark.sql import Window

    base = tempfile.mkdtemp(prefix="stream_scd1_split_")
    try:
        events = load_table(spark, SF_DIR, "events")
        src_dir = os.path.join(base, "src")
        os.makedirs(src_dir)
        _copy_split(
            SF_DIR, src_dir, events.select("user_id", "ts"), "ts",
            datetime.datetime(2024, 1, 15),
        )
        schema = events.select("user_id", "ts").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        dim = sp.fold_stream(
            stream,
            os.path.join(base, "dim_user"),
            lambda batch, d: build_dim(batch, ["user_id"], [], "dim_user_key", d),
            os.path.join(base, "ckpt"),
        )

        reranked = (
            dim
            .select(
                F.row_number().over(Window.orderBy("user_id")).alias("dim_user_key"),
                "user_id",
            )
        )
        expected = (
            events.select("user_id").distinct()
            .select(
                F.row_number().over(Window.orderBy("user_id")).alias("dim_user_key"),
                "user_id",
            )
        )
        assert sorted(map(tuple, reranked.collect())) == sorted(map(tuple, expected.collect()))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_quality_gate_oracle(spark, duck):
    from tests.conftest import assert_query_matches_oracle

    assert_query_matches_oracle(spark, duck, "stream_quality_gate")


def test_running_user_stats_invariant_to_batch_split(spark):
    """The registered stream_running_user_stats result (max over update-mode
    emissions) must not depend on the fixture arriving as ONE micro-batch:
    split the source into 3 files, force one file per trigger, and the
    per-user (n_events, max_value) still equals the batch groupBy — the
    monotone-running-state property the oracle relies on."""
    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="stream_state_split_")
    try:
        events = load_table(spark, SF_DIR, "events").select("user_id", "value", "ts")
        # 3 time-ordered chunks -> 3 micro-batches (ntile over ts)
        src = _chunked_source(spark, base, events, "ts", 3)

        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        updates = sp.run_to_memory(sp.running_user_stats(stream), "update")
        got = sorted(
            map(
                tuple,
                updates.groupBy("user_id")
                .agg(F.max("n_events").alias("n"), F.max("max_value").alias("mx"))
                .collect(),
            )
        )
        expected = sorted(
            map(
                tuple,
                events.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))
                .collect(),
            )
        )
        assert got == expected
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_static_contamination_matches_batch(spark):
    """The stream-static join gate must emit exactly the hits the batch
    decontamination operator counts (stateless join — no batching effect)."""
    from pyspark.sql import functions as F

    from incremental_data_pipeline_spark.operators import decontaminate as dc
    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") < 50)
    stream = sp.read_stream(spark, SF_DIR, "documents").filter(F.col("doc_id") >= 50)
    hits = sp.run_to_memory(
        sp.stream_static_contamination(stream, bench, n=3), "append"
    )
    per_doc = {
        r["doc_id"]: r["n"]
        for r in hits.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    batch = dc.contamination_hits(
        docs.filter(F.col("doc_id") >= 50), bench, n=3, min_hits=1
    )
    want = {
        r["doc_id"]: r["n_contaminated_grams"]
        for r in batch.filter("n_contaminated_grams > 0").collect()
    }
    assert per_doc == want


def test_stream_incremental_gold_invariant_to_batch_split(spark):
    """The streaming gold rollup (foreachBatch + merge_partial_aggs) must
    equal the from-scratch full aggregate when the source arrives as 3
    micro-batches — the merge invariant under real incremental delivery."""
    from incremental_data_pipeline_spark.operators import cdc
    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="stream_gold_split_")
    try:
        events = load_table(spark, SF_DIR, "events").select(
            "user_id", "event_type", "value", "ts"
        )
        src = _chunked_source(spark, base, events, "ts", 3)

        keys = ["user_id", "event_type"]
        sums = {
            "sum_cents": F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint"),
            "n_events": F.count(F.lit(1)).cast("bigint"),
        }

        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        gold = sp.fold_stream(
            stream,
            os.path.join(base, "gold"),
            lambda batch, g: cdc.merge_partial_aggs(g, batch, keys, sums),
            os.path.join(base, "ckpt"),
        )

        got = sorted(map(tuple, gold.collect()))
        expected = sorted(
            map(
                tuple,
                events.groupBy(*keys)
                .agg(*[c.alias(nm) for nm, c in sums.items()])
                .collect(),
            )
        )
        assert got == expected
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_foreach_batch_exactly_once_skips_replayed_epochs(spark):
    """A wiped checkpoint re-delivers every batch; the batch-id ledger must
    make the (deliberately non-idempotent) apply run once per epoch."""
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="stream_eo_")
    try:
        applied = []

        def apply_batch(batch, epoch_id):
            applied.append((epoch_id, batch.count()))  # NOT idempotent

        ledger = os.path.join(base, "ledger")

        def drain(ckpt):
            stream = sp.read_stream(spark, SF_DIR, "events").select("user_id", "ts")
            sp.foreach_batch_exactly_once(
                stream, apply_batch, os.path.join(base, ckpt), ledger
            )

        drain("ckpt1")
        n_first = len(applied)
        assert n_first >= 1
        # new checkpoint -> the file source re-delivers from scratch with
        # the same epoch ids; the ledger must swallow every one of them
        drain("ckpt2")
        assert len(applied) == n_first
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_scd2_dim_current_invariant_to_batch_split(spark):
    """Event-time-ordered streaming SCD2: the current slice equals the
    per-user last event whether the source arrives as one micro-batch or
    two (maxFilesPerTrigger=1), files in either order — the late-arrival
    guard absorbs out-of-order delivery. History chains are also checked:
    versions never overlap, exactly one current row per user."""
    import datetime

    from incremental_data_pipeline_spark.operators.scd import upsert_scd2_ordered
    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="stream_scd2_split_")
    try:
        events = load_table(spark, SF_DIR, "events").select(
            "user_id", "event_type", "ts"
        )
        src_dir = os.path.join(base, "src")
        os.makedirs(src_dir)
        _copy_split(
            SF_DIR, src_dir, events, "ts", datetime.datetime(2024, 1, 15)
        )
        empty = (
            "user_id long, last_event_type string, "
            "valid_from timestamp, valid_to timestamp, is_current boolean"
        )

        def step(batch, dim):
            src = (
                batch.groupBy("user_id")
                .agg(F.max(F.struct(F.col("ts"), F.col("event_type"))).alias("m"))
                .select(
                    "user_id",
                    F.col("m.ts").alias("eff_ts"),
                    F.col("m.event_type").alias("last_event_type"),
                )
            )
            return upsert_scd2_ordered(
                spark.createDataFrame([], empty) if dim is None else dim,
                src, ["user_id"], ["last_event_type"], "eff_ts",
            )

        schema = events.schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        dim = sp.fold_stream(
            stream, os.path.join(base, "dim_hist"), step, os.path.join(base, "ckpt")
        )
        got = sorted(
            map(tuple, dim.filter("is_current").select(
                "user_id", "last_event_type").collect())
        )
        from pyspark.sql import Window

        expected = sorted(
            map(tuple, events.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(
                        F.col("ts").desc(), F.col("event_type").desc()
                    )
                ),
            ).filter("rn = 1").select("user_id", "event_type").collect())
        )
        assert got == expected

        # exactly one current row per user
        per_user = dim.groupBy("user_id").agg(
            F.sum(F.col("is_current").cast("int")).alias("n_cur"),
            F.count(F.lit(1)).alias("n_versions"),
        )
        assert per_user.filter("n_cur != 1").count() == 0
        # closed versions chain: valid_to of every non-current version
        # equals the valid_from of the next version for that user
        a = dim.filter("NOT is_current").select("user_id", "valid_to")
        b = dim.select("user_id", F.col("valid_from").alias("valid_to"))
        dangling = a.join(b, ["user_id", "valid_to"], "left_anti")
        assert dangling.count() == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_retract_gold_invariant_to_batch_split(spark):
    """Signed (insert/delete) folding into the persisted rollup yields the
    SAME final table whether the retract stream arrives as one micro-batch
    or two — delete partials commute across arbitrary batch cuts."""
    import datetime

    from incremental_data_pipeline_spark.operators import cdc
    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="stream_retract_split_")
    try:
        events = load_table(spark, SF_DIR, "events")
        cols = events.select("event_id", "event_type", "value", "ts")
        src_dir = os.path.join(base, "src")
        os.makedirs(src_dir)
        _copy_split(SF_DIR, src_dir, cols, "ts", datetime.datetime(2024, 1, 15))

        sign = F.when(F.col("event_id") % 11 == 0, F.lit(-1)).otherwise(F.lit(1))
        cents = F.round(F.col("value") * 100).cast("bigint")
        sums = {
            "n_events": F.sum(sign).cast("bigint"),
            "sum_cents": F.sum(sign * cents).cast("bigint"),
        }

        schema = cols.schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        gold = sp.fold_stream(
            stream,
            os.path.join(base, "gold"),
            lambda batch, g: cdc.merge_partial_aggs(g, batch, ["event_type"], sums),
            os.path.join(base, "ckpt"),
        )

        got = {
            r["event_type"]: (r["n_events"], r["sum_cents"])
            for r in gold.collect()
        }
        want = {
            r["event_type"]: (r["n_events"], r["sum_cents"])
            for r in cols.groupBy("event_type")
            .agg(*[c.alias(nm) for nm, c in sums.items()])
            .collect()
        }
        assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_tombstone_dim_invariant_to_batch_split(spark):
    """Latest-wins-with-tombstones merges by EVENT TIME, so the final
    store is identical whether the feed arrives as one micro-batch or
    two — and a key whose latest change is a delete stays gone even when
    an OLDER update for it arrives in a LATER batch (the split is by
    event-id parity, so batch 2 is full of time-disordered changes)."""
    from pyspark.sql import Window

    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="stream_tomb_split_")
    try:
        events = load_table(spark, SF_DIR, "events")
        cols = events.select("user_id", "ts", "event_id", "event_type", "value")
        src_dir = os.path.join(base, "src")
        os.makedirs(src_dir)
        mid = int(cols.agg(F.expr("percentile(event_id, 0.5)")).first()[0])
        _copy_split(SF_DIR, src_dir, cols, "event_id", mid)

        wlat = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        op = (
            F.when(F.col("event_type") == "error", "D")
            .when(F.col("event_type") == "signup", "I")
            .otherwise("U")
        )

        def latest(df):
            return (
                df.withColumn("rn", F.row_number().over(wlat))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )

        def step(batch, d):
            b = latest(
                batch.select(
                    "user_id", "ts", "event_id",
                    op.alias("op"),
                    F.round(F.col("value") * 100).cast("bigint").alias("cents"),
                )
            )
            return b if d is None else latest(d.unionByName(b))

        stream = (
            spark.readStream.schema(cols.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        store = sp.fold_stream(
            stream, os.path.join(base, "dim_store"), step, os.path.join(base, "ckpt")
        )

        got = {
            tuple(r)
            for r in store.filter(F.col("op") != "D").select("user_id", "op", "cents").collect()
        }
        want = {
            tuple(r)
            for r in latest(
                cols.select(
                    "user_id", "ts", "event_id",
                    op.alias("op"),
                    F.round(F.col("value") * 100).cast("bigint").alias("cents"),
                )
            )
            .filter(F.col("op") != "D")
            .select("user_id", "op", "cents")
            .collect()
        }
        assert got == want and len(got) > 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_cusum_invariant_to_ordered_batch_split(spark):
    """The CUSUM state machine produces the same final (n_steps, cusum,
    n_alarms) per key whether the (event-time-ordered) source arrives as
    one micro-batch or two — keyed state carries the recurrence across the
    batch boundary."""
    import datetime

    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="stream_cusum_split_")
    try:
        events = load_table(spark, SF_DIR, "events").select(
            "event_type",
            "ts",
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        src_dir = os.path.join(base, "src")
        os.makedirs(src_dir)
        _copy_split(SF_DIR, src_dir, events, "ts", datetime.datetime(2024, 1, 15))

        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        updates = sp.run_to_memory(
            sp.cusum_per_key(stream, "event_type", 6000, 60000), "update"
        )
        final_split = {
            r["event_type"]: (r["n_steps"], r["cusum"], r["n_alarms"])
            for r in updates.groupBy("event_type")
            .agg(F.max(F.struct("n_steps", "cusum", "n_alarms")).alias("st"))
            .select("event_type", "st.*")
            .collect()
        }
        # two batches really happened: early file alone can't cover all rows
        n_total = events.count()
        assert sum(v[0] for v in final_split.values()) == n_total

        from incremental_data_pipeline_spark.plans.queries import QUERIES

        single = {
            r["event_type"]: (r["n_steps"], r["cusum"], r["n_alarms"])
            for r in QUERIES["stream_cusum_alarms"](spark, SF_DIR).collect()
        }
        assert final_split == single
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_ingest_dedup_invariant_to_ordered_batch_split(spark, monkeypatch):
    """The accept/reject gate admits the same document set whether the
    (id-ordered) corpus arrives as one micro-batch or two — the persisted
    signature store carries cross-batch collisions. The shipping query
    runs both ways: the second run's stream source reads the corpus split
    in two files, one file per trigger, and two micro-batches apply."""
    import glob

    from incremental_data_pipeline_spark.plans import queries
    from incremental_data_pipeline_spark.sources.readers import load_table

    stream_ingest_dedup = queries.QUERIES["stream_ingest_dedup"]
    single = sorted(r["doc_id"] for r in stream_ingest_dedup(spark, SF_DIR).collect())
    base = tempfile.mkdtemp(prefix="stream_ingest_split_")
    try:
        docs = load_table(spark, SF_DIR, "documents")
        cut = 250
        src_dir = os.path.join(base, "src")
        os.makedirs(src_dir)
        for tag, pred in (
            ("early", F.col("doc_id") < cut),
            ("late", F.col("doc_id") >= cut),
        ):
            tmp = os.path.join(src_dir, f"__{tag}__")
            docs.filter(pred).coalesce(1).write.parquet(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            os.rename(part, os.path.join(src_dir, f"{tag}.parquet"))
            shutil.rmtree(tmp)

        def split_stream(spark, sf_dir, name):
            assert name == "documents"
            reader = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", "1")
            return reader.parquet(src_dir)

        epochs, foreach_batch = [], queries._stream.foreach_batch

        def counted(stream, apply_batch, checkpoint_dir):
            def apply(batch, epoch):
                epochs.append(epoch)
                apply_batch(batch, epoch)

            foreach_batch(stream, apply, checkpoint_dir)

        monkeypatch.setattr(queries._stream, "read_stream", split_stream)
        monkeypatch.setattr(queries._stream, "foreach_batch", counted)
        got = sorted(r["doc_id"] for r in stream_ingest_dedup(spark, SF_DIR).collect())
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert epochs == [0, 1]
    assert got == single
    # both batches contributed
    assert any(d < cut for d in got) and any(d >= cut for d in got)


def test_stream_ingest_dedup_replay_after_a_kill_between_appends(
    spark, duck, monkeypatch, tmp_path
):
    """Killed between its two appends (the accepted ids, then the
    signature store), ``stream_ingest_dedup`` re-delivers the micro-batch
    against the store without its signatures and recomputes the same
    accepted ids. They are already committed with the batch's epoch, so
    the re-run on the same checkpoint accepts every document once, as
    the oracle states — plain appends under a ledger marked after both
    appended every accepted id twice."""
    from pyspark.sql.readwriter import DataFrameWriter

    from incremental_data_pipeline_spark.plans import queries

    fixed = str(tmp_path / "stream_ingest_dedup")
    os.makedirs(fixed)
    monkeypatch.setattr(queries, "scratch_dir", lambda prefix: fixed)
    parquet, writes = DataFrameWriter.parquet, []

    def dying(self, path, *args, **kwargs):
        writes.append(path)
        if len(writes) == 2:
            raise OSError("killed before the store append")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", dying)
    with pytest.raises(StreamingQueryException):
        queries.QUERIES["stream_ingest_dedup"](spark, SF_DIR)
    assert ["accepted" in writes[0], "sig_store" in writes[1]] == [True, True], writes
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    got = [r["doc_id"] for r in queries.QUERIES["stream_ingest_dedup"](spark, SF_DIR).collect()]
    want = [r[0] for r in duck.execute(queries.ORACLE["stream_ingest_dedup"]).fetchall()]
    assert len(got) == len(set(got)), len(got) - len(set(got))
    assert sorted(got) == sorted(want)


def test_stream_cusum_correct_with_tiny_arrow_chunks(spark):
    """ADVICE r4 #3 regression pin: applyInPandasWithState delivers a
    group as multiple Arrow chunks once it exceeds
    arrow.maxRecordsPerBatch; the order-sensitive CUSUM fold must sort
    the WHOLE group, not each chunk. Scramble the source file order and
    force 7-row chunks — per-chunk sorting diverges, whole-group sorting
    matches the batch replay."""
    from incremental_data_pipeline_spark.plans.queries import QUERIES
    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="stream_cusum_chunks_")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        events = load_table(spark, SF_DIR, "events").select(
            "event_type",
            "ts",
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        src_dir = os.path.join(base, "src")
        # scrambled file order: chunk-local sort != group sort, surely
        events.orderBy(F.hash("event_id")).coalesce(1).write.parquet(src_dir)

        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        stream = spark.readStream.schema(events.schema).parquet(src_dir)
        updates = sp.run_to_memory(
            sp.cusum_per_key(stream, "event_type", 6000, 60000), "update"
        )
        got = {
            r["event_type"]: (r["n_steps"], r["cusum"], r["n_alarms"])
            for r in updates.groupBy("event_type")
            .agg(F.max(F.struct("n_steps", "cusum", "n_alarms")).alias("st"))
            .select("event_type", "st.*")
            .collect()
        }
        want = {
            r["event_type"]: (r["n_steps"], r["cusum"], r["n_alarms"])
            for r in QUERIES["stream_cusum_alarms"](spark, SF_DIR).collect()
        }
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# 100x posture: state-store bounds (VERDICT r4 item 6). Every stateful query
# family asserts its advertised state bound via StreamingQueryProgress
# .stateOperators after a multi-batch run — state must track the BOUND
# (keys / watermark window), not total input.
# ---------------------------------------------------------------------------


def test_streaming_dedup_state_evicted_at_watermark(spark):
    """dropDuplicatesWithinWatermark state must hold only the keys inside
    the watermark window, not every key ever seen: after 3 ordered
    micro-batches spanning 30 days with a 1-day delay, state rows are
    bounded by the rows newer than (watermark as of the last batch) and are
    a strict minority of the 1000 unique keys."""
    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="dedup_state_bound_")
    try:
        events = load_table(spark, SF_DIR, "events").select("event_id", "ts")
        src = _chunked_source(spark, base, events, "ts", k=3)
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out, state_ops = sp.run_to_memory_with_state_metrics(
            sp.streaming_dedup(stream, ["event_id"], "ts", "1 day"), "append"
        )
        n_total = events.count()
        assert out.count() == n_total  # unique keys: nothing dropped
        assert len(state_ops) == 1
        state_rows = state_ops[0]["numRowsTotal"]
        # Watermark at the final batch >= max ts of the first two chunks
        # minus the delay; only rows at or after it may still be buffered.
        two_thirds_max = (
            events.orderBy("ts")
            .limit(2 * n_total // 3)
            .agg(F.max("ts").alias("m"))
            .first()["m"]
        )
        bound = events.filter(
            F.col("ts") >= F.lit(two_thirds_max) - F.expr("INTERVAL 1 DAY")
        ).count()
        assert 0 < state_rows <= bound, (state_rows, bound)
        assert state_rows < n_total / 2, (state_rows, n_total)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_interval_join_state_bounded_by_watermark(spark):
    """Stream-stream interval join state (both sides buffered) must be
    evicted as the watermark passes left_ts + within: with a 2-day delay
    over a 30-day 3-batch source, buffered rows are far fewer than total
    input rows on both sides."""
    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="ssj_state_bound_")
    try:
        events = load_table(spark, SF_DIR, "events").select(
            "event_id", "user_id", "event_type", "ts"
        )
        src = _chunked_source(spark, base, events, "ts", k=3)

        def mk_stream():
            return (
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )

        left = mk_stream().filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("l_ts")
        )
        right = mk_stream().filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts")
        )
        l = left.withWatermark("l_ts", "2 days")
        r = right.withWatermark("r_ts", "2 days")
        joined = l.join(
            r,
            (F.col("user_id") == F.col("r_user"))
            & (F.col("r_ts") >= F.col("l_ts"))
            & (F.col("r_ts") <= F.expr("l_ts + INTERVAL 1 HOUR")),
            "inner",
        )
        out, state_ops = sp.run_to_memory_with_state_metrics(joined, "append")
        assert out.count() > 0
        assert len(state_ops) == 1
        state_rows = state_ops[0]["numRowsTotal"]
        n_sides = (
            events.filter(F.col("event_type").isin("click", "purchase")).count()
        )
        # eviction must have removed most of the first two-thirds
        assert 0 < state_rows < n_sides / 2, (state_rows, n_sides)
        assert state_ops[0]["numRowsRemoved"] > 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_apply_in_pandas_state_is_one_row_per_key(spark):
    """applyInPandasWithState operators advertise O(keys) state: after a
    3-batch run, numRowsTotal equals the distinct key count exactly —
    for running_user_stats (15 users) and cusum_per_key (5 event types)."""
    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="pandas_state_bound_")
    try:
        events = load_table(spark, SF_DIR, "events").select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            "value",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        src = _chunked_source(spark, base, events, "ts", k=3)

        def mk_stream():
            return (
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )

        _, user_state = sp.run_to_memory_with_state_metrics(
            sp.running_user_stats(mk_stream()), "update"
        )
        n_users = events.select("user_id").distinct().count()
        assert user_state[0]["numRowsTotal"] == n_users

        _, cusum_state = sp.run_to_memory_with_state_metrics(
            sp.cusum_per_key(mk_stream(), "event_type", 6000, 60000), "update"
        )
        n_types = events.select("event_type").distinct().count()
        assert cusum_state[0]["numRowsTotal"] == n_types
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_rocksdb_state_store_provider_equivalent(spark):
    """The RocksDB state-store provider (the 100 TB deployment choice — see
    session.ROCKSDB_STATE_STORE_CONF) must produce byte-identical results
    to the default HDFS-backed provider; providers change state STORAGE,
    never semantics."""
    from incremental_data_pipeline_spark.session import ROCKSDB_STATE_STORE_CONF
    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="rocksdb_equiv_")
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    try:
        events = load_table(spark, SF_DIR, "events").select("user_id", "value", "ts")
        src = _chunked_source(spark, base, events, "ts", k=3)

        def run():
            stream = (
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            upd = sp.run_to_memory(sp.running_user_stats(stream), "update")
            return sorted(
                map(
                    tuple,
                    upd.groupBy("user_id")
                    .agg(F.max("n_events"), F.max("max_value"))
                    .collect(),
                )
            )

        baseline = run()
        for k_, v in ROCKSDB_STATE_STORE_CONF.items():
            spark.conf.set(k_, v)
        rocks = run()
        assert rocks == baseline and len(rocks) > 0
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )
        shutil.rmtree(base, ignore_errors=True)


def _sum_fold(events):
    """The gold rollup's step and its from-scratch result: a sum, which
    double-counts a batch folded twice."""
    from incremental_data_pipeline_spark.operators import cdc

    keys = ["user_id", "event_type"]
    sums = {
        "sum_cents": F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint"),
        "n_events": F.count(F.lit(1)).cast("bigint"),
    }
    full = events.groupBy(*keys).agg(*[c.alias(nm) for nm, c in sums.items()])
    return (lambda batch, g: cdc.merge_partial_aggs(g, batch, keys, sums)), full


def _max_fold(events):
    """The HLL registers' step and its one-shot result: a per-bucket max,
    which a batch folded twice cannot move."""
    from incremental_data_pipeline_spark.operators import sketches as sk

    def step(batch, registers):
        br = sk.hll_registers(batch, ["user_id"], p=10)
        return br if registers is None else sk.hll_merge(registers, br)

    return step, sk.hll_registers(events, ["user_id"], p=10)


@pytest.mark.parametrize("fold", ["sum", "max"])
def test_kill_and_restart_from_checkpoint_matches_uninterrupted(spark, monkeypatch, fold):
    """Crash-recovery pin for ``fold_stream``: the query is KILLED after
    epoch 2's swap commits (data + epoch inside one atomic rename) but
    BEFORE Spark commits epoch 2's offsets — the exact replay window the
    epoch exists for. A restart on the SAME checkpoint and table
    re-delivers epoch 2 and ``fold_stream`` skips it, whether the fold is
    a sum (a second merge would double-count) or an idempotent max (the
    HLL registers, which once committed no epoch at all): the record
    reads epoch 2 before the restart and 3 after, and the drained table
    hash-matches an uninterrupted run and the one-shot batch result."""
    from incremental_data_pipeline_spark.sources import sinks
    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="stream_kill_restart_")

    class DeliberateKill(Exception):
        pass

    try:
        events = load_table(spark, SF_DIR, "events").select(
            "user_id", "event_type", "value", "ts"
        )
        src = _chunked_source(spark, base, events, "ts", 4)
        step, full = {"sum": _sum_fold, "max": _max_fold}[fold](events)
        swap, committed = sinks.atomic_overwrite, []

        def dying_after(kill_epoch):
            def overwrite(df, path, record=None, marks=None):
                swap(df, path, record, marks)
                committed.append(record["epoch"])
                if record["epoch"] == kill_epoch:
                    # the table (incl. its epoch) is committed; dying HERE
                    # means Spark never commits this epoch's offsets
                    raise DeliberateKill(f"kill after epoch {kill_epoch} commit")

            return overwrite

        def run(path, ckpt, kill_epoch=None):
            monkeypatch.setattr(sinks, "atomic_overwrite", dying_after(kill_epoch))
            stream = (
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            try:
                sp.fold_stream(stream, path, step, ckpt)
            except StreamingQueryException:
                # the exception's message truncates the Python traceback —
                # the post-kill state asserts below prove WHERE it died
                return False
            return True

        gold_a, ckpt_a = os.path.join(base, "gold_killed"), os.path.join(base, "ckpt_killed")
        assert not run(gold_a, ckpt_a, kill_epoch=2), "the kill never fired"
        # epoch 2's data committed, its offsets did not: the table
        # already records epoch 2, and the restart re-delivers it
        assert sinks.commit_record(gold_a).get("epoch") == 2
        assert not os.path.exists(os.path.join(ckpt_a, "commits", "2"))
        assert run(gold_a, ckpt_a)
        assert os.path.exists(os.path.join(ckpt_a, "commits", "2"))
        assert sinks.commit_record(gold_a).get("epoch") == 3  # all four chunks applied
        assert committed == [0, 1, 2, 3]  # the re-delivered epoch 2 was skipped

        gold_b = os.path.join(base, "gold_clean")
        assert run(gold_b, os.path.join(base, "ckpt_clean"))

        got = _sorted_rows(sinks.read_table(spark, gold_a))
        assert got == _sorted_rows(sinks.read_table(spark, gold_b)) and len(got) > 0
        assert got == _sorted_rows(full)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _sorted_rows(df):
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


def test_kill_and_restart_ledger_applies_each_epoch_once(spark):
    """Crash-recovery pin for the batch-id ledger: the query dies at the
    START of epoch 2 (epochs 0-1 fully committed — side effects, ledger
    markers, offsets). A restart on the same checkpoint + ledger must
    apply epochs 2-3 exactly once each, never re-running 0-1, and the
    non-idempotent applied-log must end with one entry per epoch. Drives
    the shipping ``foreach_batch_exactly_once``: a ledger that marked an
    epoch before its apply would lose epoch 2 here."""
    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.streaming import pipeline as sp

    base = tempfile.mkdtemp(prefix="stream_kill_ledger_")

    class DeliberateKill(Exception):
        pass

    try:
        events = load_table(spark, SF_DIR, "events").select("user_id", "ts")
        src = _chunked_source(spark, base, events, "ts", 4)
        ledger = os.path.join(base, "ledger")
        applied = []  # (epoch, rows): NOT idempotent by construction
        kill_armed = [True]

        def apply_batch(batch, epoch):
            if kill_armed[0] and epoch == 2:
                raise DeliberateKill("kill at the start of epoch 2's apply")
            applied.append((epoch, batch.count()))

        def run(ckpt):
            stream = (
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            try:
                sp.foreach_batch_exactly_once(stream, apply_batch, ckpt, ledger)
            except StreamingQueryException:
                return False
            return True

        ckpt = os.path.join(base, "ckpt")
        assert not run(ckpt), "the kill never fired"
        assert sorted(e for e, _ in applied) == [0, 1]
        kill_armed[0] = False
        assert run(ckpt)
        # epochs 2 and 3 applied exactly once; 0 and 1 never re-ran
        assert sorted(e for e, _ in applied) == [0, 1, 2, 3]
        assert sum(n for _, n in applied) == events.count()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_lifecycle_defined_once():
    """The stream-query lifecycle lives in ``pipeline._drain`` and the
    timestamp rule in ``readers._normalize_ntz``; a second copy is a fork
    that can drift (a hand-rolled drain in a test exercises no shipping
    code, and ``read_stream`` once kept a narrower timestamp rule)."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    pkg = root / "incremental_data_pipeline_spark"
    drain = "processAllAvailable" "("  # split so this file holds no copy
    assert (pkg / "streaming" / "pipeline.py").read_text().count(drain) == 1
    assert sum(p.read_text().count(drain) for p in pkg.rglob("*.py")) == 1
    assert drain not in Path(__file__).read_text()
    src = "".join(
        (pkg / f).read_text() for f in ("sources/readers.py", "streaming/pipeline.py")
    )
    assert src.count("timestamp_micros(") == 1
