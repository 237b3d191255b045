"""Structured Streaming layer: the reference's micro-batch-by-rerun CDC
(watermark table + ADF re-trigger, SURVEY §2.8 I1) re-expressed as real
Spark streams.

Design notes (100 TB posture):
- The file source + checkpointLocation subsumes the reference's 1-row
  watermark control table (watermark_table.sql:1-9, stored_procedure.sql:1-12):
  offset tracking IS the high-water mark, and it is transactional with the
  sink via the checkpoint — no lost/duplicated batches on failure, which the
  reference's update-after-copy ordering cannot guarantee.
- Event-time watermarks (`withWatermark`) bound state for late data — the
  reference has no late-data story at all (SURVEY §2.8 I5).
- All aggregations here are built-in windowed aggs (tumbling via
  ``F.window``, session via ``F.session_window``) so they run JVM-side with
  partial aggregation; the one custom stateful operator uses
  ``applyInPandasWithState`` (Arrow-batched), the sanctioned slow path.
- The memory sink used by the test/oracle harness collects to the driver and
  is test-only; production callers hand ``start_*`` a parquet/Kafka sink or
  drain through ``foreach_batch``, which hands each micro-batch to the
  batch code unchanged (the SCD1 upsert, a partial-aggregate merge).
- ``fold_stream`` is the one fold of a stream into a swap-committed state
  table: every micro-batch commits its epoch with the table's rows
  (``sinks.fold_into``), so a re-delivered batch is skipped.
- ``_drain`` is the one query lifecycle (shuffle-partition override, start,
  drain, stop, await). The memory sink (``run_to_memory*``) and
  ``foreach_batch`` call it; nothing else starts a query.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from incremental_data_pipeline_spark.functions.util import scoped_conf
from incremental_data_pipeline_spark.sources import sinks
from incremental_data_pipeline_spark.sources.readers import _fixture_scan, _normalize_ntz

# Stateful-query partition sizing (r10 optimization): every shuffle
# partition of a stateful streaming operator IS a state store, and each
# store pays a fixed per-micro-batch commit (delta file write + snapshot
# maintenance) REGARDLESS of how many rows it holds — measured locally at
# ~40-50 ms per store per batch, so a 2 MB source draining through 32
# partitions spends ~13 s/query in pure state-store bookkeeping where 4
# partitions spend ~2 s for the same answer. The store count must
# therefore track STATE VOLUME, not a static session conf: we size it
# from the streamed source's on-disk bytes (state for watermarked
# joins/windows is a bounded fraction of input). The rule — not a fixed
# store count — is what ships to a cluster (100 TB source → the 4096
# cap, thousands of stores, same code path).
STREAM_STATE_BYTES_PER_PARTITION = 8 * 1024 * 1024
_STREAM_STATE_MIN_PARTITIONS = 4  # keep cross-partition watermark/min paths exercised
_STREAM_STATE_MAX_PARTITIONS = 4096


def _path_bytes(path: str) -> int:
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    return os.path.getsize(path) if os.path.exists(path) else 0


def adaptive_state_partitions(sf_dir: str, *tables: str) -> int:
    """Shuffle-partition (= state store) count for a stateful streaming
    query over the named fixture tables: ceil(source_bytes / BPP),
    clamped to [4, 4096]. Scale-adaptive per the sizing rule above —
    derived from data, never from the local core count. With no table
    names, ``sf_dir`` itself is sized (ad-hoc drop directories)."""
    if tables:
        total = sum(
            _path_bytes(os.path.join(sf_dir, f"{t}.parquet")) for t in tables
        )
    else:
        total = _path_bytes(sf_dir)
    want = -(-total // STREAM_STATE_BYTES_PER_PARTITION)  # ceil
    return max(
        _STREAM_STATE_MIN_PARTITIONS,
        min(_STREAM_STATE_MAX_PARTITIONS, int(want)),
    )


def read_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source readStream over one fixture table.

    Streaming sources need an explicit schema; we take the pre-conversion
    one from ``load_table``'s own cached batch scan of the same path
    (``readers._fixture_scan``, which also sets the nanosAsLong conf when
    needed). The columns then go through the batch reader's timestamp
    rule (``readers._normalize_ntz``), so the stream shows exactly the
    schema ``load_table`` returns.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    _, raw_schema, nanos_cols = _fixture_scan(spark, path)
    # FileStreamSource forces basePath = the source path unless the path is
    # a glob; a single-file fixture then fails ("basePath must be a
    # directory"). An exact-match {name} glob sidesteps the override and
    # leaves basePath at the parent directory.
    stream_path = path if os.path.isdir(path) else f"{os.path.dirname(path)}/{{{os.path.basename(path)}}}"
    stream = spark.readStream.schema(raw_schema).parquet(stream_path)
    return _normalize_ntz(stream, nanos_cols)


def _drain(
    spark: SparkSession, writer: DataStreamWriter, state_partitions: int | None = None
) -> StreamingQuery:
    """The one stream-query lifecycle: start ``writer``, drain every
    available input, stop, and return the stopped query.

    Synchronous: the drain blocks until every available input file is
    consumed and all resulting state transitions have been emitted.

    ``state_partitions`` (usually ``adaptive_state_partitions(...)``)
    overrides ``spark.sql.shuffle.partitions`` for THIS stream only: the
    value is pinned into the query's offset log at batch 0, so it is set
    before ``start()`` and the session value restored after the drain.
    Results are partitioning-independent; only the state-store count (and
    its per-batch commit cost) changes.

    NOT reentrant/thread-safe while draining (r10 advice): the override
    mutates the session-global conf, so any OTHER query declared or batch
    job started on the same session inside the drain window silently
    inherits it. Fine for the sequential harness/bench; concurrent
    callers must scope the override via a dedicated session (or accept
    the session default by passing ``state_partitions=None``).

    A failed micro-batch surfaces as ``StreamingQueryException``:
    ``processAllAvailable`` alone raises a raw ``Py4JJavaError``, and
    ``awaitTermination()`` in the ``finally`` replaces it with the typed
    error, so keep that call.
    """
    parts = {"spark.sql.shuffle.partitions": str(state_partitions)}
    with scoped_conf(spark, parts if state_partitions is not None else {}):
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    return q


def run_to_memory(
    stream_df: DataFrame, output_mode: str, state_partitions: int | None = None
) -> DataFrame:
    """Drain a bounded stream into a memory sink and return the result
    (test-only sink — see module docstring; ``state_partitions``: see
    ``_drain``)."""
    return run_to_memory_with_state_metrics(stream_df, output_mode, state_partitions)[0]


def run_to_memory_with_state_metrics(
    stream_df: DataFrame, output_mode: str, state_partitions: int | None = None
) -> tuple[DataFrame, list[dict]]:
    """Drain a bounded stream into a memory sink, returning the result and
    the FINAL stateful micro-batch's state-operator metrics
    (`StreamingQueryProgress.stateOperators`): one dict per stateful
    operator with `numRowsTotal` (rows held in the state store after the
    batch), `numRowsUpdated`, `numRowsRemoved`, etc. The stopped query
    still holds its `recentProgress`, so reading it costs no Spark job.

    This is the observable the 100×-posture tests pin: a stateful query is
    cluster-safe only if its state rows track the BOUND the operator
    advertises (keys for applyInPandasWithState, watermark-window rows for
    dedup/joins) rather than total input — at 100 TB "state = everything
    ever seen" is the failure mode, and these metrics are exactly what a
    production monitor alarms on.

    ``state_partitions``: see ``_drain``."""
    spark = stream_df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    writer = stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    q = _drain(spark, writer, state_partitions)
    ops = [p["stateOperators"] for p in q.recentProgress if p["stateOperators"]]
    return spark.table(name), ops[-1] if ops else []


def tumbling_window_agg(
    stream: DataFrame,
    ts_col: str,
    window_duration: str,
    group_cols: list[str],
    aggs: list,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Tumbling event-time window aggregation with a late-data watermark.

    Windows are epoch-aligned (Spark `F.window` semantics), so the DuckDB
    oracle is `date_trunc`. Partial aggregation happens map-side before the
    shuffle on (window, group_cols) — the same plan shape as a batch
    groupBy, with state bounded by the watermark.
    """
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration), *group_cols)
        .agg(*aggs)
        .withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def session_window_agg(
    stream: DataFrame,
    ts_col: str,
    gap: str,
    group_cols: list[str],
    aggs: list,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Session windows: events within ``gap`` of each other merge into one
    session per group (built-in ``F.session_window``, state merged
    incrementally — no gaps-and-islands self-join as a batch engine needs).
    """
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.session_window(ts_col, gap), *group_cols)
        .agg(*aggs)
        .withColumn("session_start", F.col("session_window.start"))
        .withColumn("session_end", F.col("session_window.end"))
        .drop("session_window")
    )


def streaming_dedup(stream: DataFrame, keys: list[str], ts_col: str, delay: str) -> DataFrame:
    """First-arrival-per-key projection of a stream. State is bounded by the
    event-time watermark (``dropDuplicatesWithinWatermark``): a key's dedup
    entry is evicted once the watermark passes it, so state is O(keys per
    delay window), not O(all keys ever) — the property that lets this run
    forever on an unbounded stream. Duplicates farther apart than ``delay``
    re-emit by design (pick delay >= the real out-of-orderness bound)."""
    deduped = stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)
    return deduped.select(*keys)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    delay: str = "35 days",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: pair a left event with every right
    event of the same key whose timestamp lands in
    [left_ts, left_ts + within]. The funnel-analysis primitive
    (click → purchase within the hour).

    Both sides carry an event-time watermark and the join condition bounds
    the time range, so Spark evicts buffered rows once the watermark passes
    left_ts + within — state is O(events per delay window) per key, never
    unbounded, which is what lets the join run forever on unbounded
    streams. Inner results emit as soon as both sides arrive (append mode);
    the watermark only governs state cleanup and late-drop.

    ``how='left_outer'`` adds the TIMEOUT semantics: a left row whose join
    window expires with no match is emitted once, null-padded, WHEN the
    watermark passes ``left_ts + within`` — the abandoned-funnel detector
    (clicks that never converted). Outer emission is watermark-driven, so
    pick ``delay`` small enough that the final no-data micro-batch's
    watermark (global max event time − delay) flushes the expired rows.
    ``how='full_outer'`` additionally emits right rows no left row ever
    matched, once the watermark passes ``right_ts`` (after which any
    matching left arrival would be late-dropped anyway)."""
    if how not in ("inner", "left_outer", "full_outer"):
        raise ValueError(
            f"stream_interval_join supports inner/left_outer/full_outer; got {how!r}"
        )
    l = left.withWatermark(left_ts, delay)
    r = right.withWatermark(right_ts, delay).select(
        F.col(key).alias("__rkey"), F.col(right_ts).alias(right_ts)
    )
    joined = l.join(
        r,
        (F.col(key) == F.col("__rkey"))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.expr(f"{left_ts} + INTERVAL {within}")),
        how,
    )
    if how == "full_outer":
        # right-outer rows carry only the renamed right key; fold it back
        # so the caller sees ONE key column on every row
        joined = joined.withColumn(key, F.coalesce(F.col(key), F.col("__rkey")))
    return joined.drop("__rkey")


def stream_static_contamination(
    doc_stream: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Decontamination at INGEST: a stream-static join between live
    documents and the fixed benchmark gram set, emitting every
    (doc_id, shingle) contamination hit the moment the document arrives.

    Stream-static inner joins are STATELESS in Spark — the static side is
    (re)broadcast per micro-batch and no watermark or join state is kept —
    so this gate runs forever at O(batch) memory. The same
    ``operators.decontaminate`` gram semantics apply; a downstream
    aggregation (or the batch ``contamination_hits``) turns hits into
    per-doc verdicts when counts are needed.
    """
    from incremental_data_pipeline_spark.operators.dedup import shingles

    # Parallelism floor (fan_out's streaming twin): a one-file micro-batch
    # scans as one partition and would serialize the compute-dense shingle
    # explode on a single core; a stateless repartition restores it.
    spread = doc_stream.repartition(
        doc_stream.sparkSession.sparkContext.defaultParallelism
    )
    grams = spread.select(
        id_col, F.explode(F.array_distinct(shingles(text_col, n))).alias("shingle")
    )
    bench = benchmark.select(
        F.explode(F.array_distinct(shingles(text_col, n))).alias("shingle")
    ).distinct()
    return grams.join(F.broadcast(bench), "shingle").select(id_col, "shingle")


def foreach_batch(
    stream: DataFrame,
    apply_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    """The generic at-least-once foreachBatch drain, which ``fold_stream``
    and ``foreach_batch_exactly_once`` wrap.

    Each micro-batch is a normal DataFrame handed to ``apply_batch`` with
    its epoch (the micro-batch id), so the batch code runs unchanged (one
    implementation, two execution modes). The checkpoint makes delivery
    at-least-once: a batch whose apply ran but whose offsets were not
    committed is re-delivered with the same epoch, so an apply commits
    that epoch with its work (``sinks.fold_into``, ``sinks.append_into``)
    and skips an epoch it already committed. A failing ``apply_batch``
    raises ``StreamingQueryException`` (see ``_drain``)."""
    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    _drain(stream.sparkSession, writer)


def fold_stream(
    stream: DataFrame,
    path: str,
    step: Callable[[DataFrame, DataFrame | None], DataFrame],
    checkpoint_dir: str,
) -> DataFrame | None:
    """Drain ``stream`` and fold each micro-batch into the swap-committed
    table at ``path``: the table becomes ``step(batch, current)`` and
    commits the batch's epoch in the same rename (``sinks.fold_into``),
    so a re-delivered batch is skipped whether or not ``step`` is
    idempotent. Returns the table (``sinks.read_table``).

    The table belongs to its checkpoint: its epochs are that checkpoint's
    micro-batch ids, so a table already at epoch e drained with a fresh
    checkpoint would skip the new batches 0..e. Give each table and its
    checkpoint one fresh directory."""
    spark = stream.sparkSession

    def apply_batch(batch: DataFrame, epoch: int) -> None:
        sinks.fold_into(spark, path, lambda current: step(batch, current), epoch)

    foreach_batch(stream, apply_batch, checkpoint_dir)
    return sinks.read_table(spark, path)


def foreach_batch_exactly_once(
    stream: DataFrame,
    apply_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    ledger_dir: str,
) -> None:
    """foreachBatch with EXACTLY-ONCE side effects for non-idempotent sinks.

    The checkpoint makes delivery at-least-once: after a crash between
    sink success and offset commit, the SAME batch id is re-delivered.
    A table commits the epoch with its rows and absorbs that
    (``fold_stream``, ``sinks.append_into``); for sinks that cannot
    (notifications, external calls), this wrapper keeps a
    batch-id ledger — one marker file per applied epoch, created AFTER the
    apply succeeds — and skips any epoch already recorded. Marker creation
    is a single filesystem create (atomic on POSIX and object stores with
    put-if-absent), the same tiny-driver-state pattern as WatermarkStore.

    Ordering guarantee: marker-after-apply means a crash between the two
    re-runs the apply (at-least-once within the wrapper); callers needing
    strict exactly-once pair this with an apply that commits its own work
    and the marker transactionally, or accept the idempotent-sink route.

    Use the ledger for side effects that commit no epoch (partition
    merges, external calls). A table replaced whole per batch
    (``fold_stream``) or appended to (``sinks.append_into``) needs none:
    it commits the epoch with its rows.
    """
    os.makedirs(ledger_dir, exist_ok=True)

    def wrapper(batch: DataFrame, epoch_id: int) -> None:
        marker = os.path.join(ledger_dir, f"epoch={epoch_id}")
        if os.path.exists(marker):
            return
        apply_batch(batch, epoch_id)
        with open(marker, "x") as f:
            f.write("applied\n")

    foreach_batch(stream, wrapper, checkpoint_dir)


def running_user_stats(stream: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    event count and running max(value), emitted (update mode) once per
    micro-batch that touches the user. Arrow-batched; state is one small
    tuple per user, evicted by processing-time timeout.

    This is the escape hatch for semantics built-ins can't express —
    here deliberately simple so the oracle (final batch == groupBy result
    when the source arrives in one micro-batch) stays checkable.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("max_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("mx", DoubleType())]
    )

    def update(key, pdfs, state: GroupState):
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "max_value": [mx]})

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cusum_per_key(
    stream: DataFrame,
    key_col: str = "event_type",
    k_ref: int = 6000,
    h_threshold: int = 60000,
) -> DataFrame:
    """Streaming CUSUM change-point monitor per key — the streaming bridge
    of `relational.cusum_alarms` (same Page recurrence, same integer
    arithmetic), keyed state via ``applyInPandasWithState``: state is the
    tuple (cusum, n_alarms, n_steps), rows are folded in (ts, event_id)
    order WITHIN each micro-batch, and state carries the recurrence across
    batches — so as long as the source delivers batches in event-time
    order (the file-stream contract the split-invariance test pins), the
    emitted trajectory equals the single-pass batch replay.

    Update mode emits the running (n_steps, cusum, n_alarms) per touched
    key per batch; n_steps is strictly monotone, so the final state is the
    max-by-n_steps emission — the batch-count-invariant reduction the
    registered query applies.

    Scale shape: state is 3 ints per key; per-batch work is an Arrow-batched
    linear fold over that key's new rows. This is the alerting-side CUSUM:
    the detector runs ON the stream, not on a nightly rollup."""
    import pandas as pd  # noqa: PLC0415 — executor-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from incremental_data_pipeline_spark.operators.relational import (
        clamped_prefix as _clamped_prefix,
    )

    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("n_steps", LongType()),
            StructField("cusum", LongType()),
            StructField("n_alarms", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("s", LongType()),
            StructField("alarms", LongType()),
            StructField("n", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        s, alarms, n = state.get if state.exists else (0, 0, 0)
        # Materialize the WHOLE group before sorting: pdfs yields the
        # group in ~10k-row Arrow chunks in arbitrary post-shuffle order,
        # so sorting each chunk independently folds the order-sensitive
        # recurrence out of (ts, event_id) order once a key exceeds
        # arrow.maxRecordsPerBatch rows per micro-batch (ADVICE r4 #3).
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        # vectorized clamped fold seeded from carried state — bit-identical
        # to the sequential integer recurrence, no per-row Python cost
        x = pdf["cents"].to_numpy(dtype="int64")
        sv = _clamped_prefix(x - k_ref, init=s)
        if sv.size:
            s = int(sv[-1])
            alarms += int((sv > h_threshold).sum())
            n += int(sv.size)
        state.update((s, alarms, n))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n_steps": [n],
                "cusum": [s],
                "n_alarms": [alarms],
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
