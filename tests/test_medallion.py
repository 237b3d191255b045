"""The change-set medallion: each watermark batch's change set flows from
bronze through silver, the SCD1 dims and the fact. These tests pin that
the incremental result equals a full rebuild for any batch cut, that a
crash between layers re-runs to the uninterrupted gold, and that a batch
touches no stored silver or fact file. Each reads the decision every
layer took, and the reason it rebuilt, from ``pipe.last_batch``."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from incremental_data_pipeline_spark.plans import medallion as medallion_mod
from incremental_data_pipeline_spark.plans.medallion import MedallionPipeline
from incremental_data_pipeline_spark.sources import sinks
from incremental_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_DIR, job_group

INITIAL = datetime.datetime(2023, 1, 1)
HISTORY_ROWS = 400

# Spark jobs one 40-row incremental batch may start, bronze included
# (local[4], AQE on): bronze 5, silver 1, each dim 6, the fact 3. The
# whole-layer rebuild it replaced started 30 for the same batch.
BATCH_JOBS = 21

# pipe.last_batch's keys: every table a batch decides on, past bronze.
LAYERS = ["silver/events", "gold/dim_user", "gold/dim_event_type", "gold/fact"]


def _events() -> pa.Table:
    """The fixture events in timestamp order (unique timestamps)."""
    t = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    return t.sort_by("ts")


def _silver(df):
    """Row-wise silver; the dim attributes are functions of their keys."""
    return df.select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.concat(F.lit("t"), (F.col("user_id") % 7).cast("string")).alias("tier"),
        F.substring("event_type", 1, 3).alias("category"),
    )


def _deliver(root: str, batch: int, rows: pa.Table) -> None:
    """Make ``rows`` visible in the source directory as batch ``batch``."""
    src = os.path.join(root, "events.parquet")
    os.makedirs(src, exist_ok=True)
    if rows.num_rows:
        pq.write_table(rows, os.path.join(src, f"part-{batch:05d}.parquet"))


def _run_batch(spark, pipe: MedallionPipeline, root: str) -> None:
    """One watermark batch through every layer, wired as a caller would:
    build_silver's result feeds the dims and the fact."""
    pipe.ingest_bronze(
        load_table(spark, root, "events"), "events", "ts", ["event_id"], INITIAL,
        partition_daily=True,
    )
    _run_gold(pipe)


def _run_gold(pipe: MedallionPipeline) -> None:
    silver = pipe.build_silver("events", _silver)
    dim_user = pipe.build_gold_dim("dim_user", silver, ["user_id"], ["tier"], "dim_user_key")
    dim_type = pipe.build_gold_dim(
        "dim_event_type", silver, ["event_type"], ["category"], "dim_event_type_key"
    )
    pipe.build_gold_fact(
        "fact", silver,
        {
            "dim_user_key": (dim_user, {"user_id": "user_id"}),
            "dim_event_type_key": (dim_type, {"event_type": "event_type"}),
        },
        ["event_id", "ts", "value"],
    )


def _gold(pipe: MedallionPipeline) -> dict[str, list[tuple]]:
    """Every silver and gold table as sorted rows, timestamps as epoch µs."""
    out = {}
    for layer, table in [("silver", "events"), ("gold", "dim_user"),
                         ("gold", "dim_event_type"), ("gold", "fact")]:
        df = pipe.read(layer, table)
        if "ts" in df.columns:
            df = df.withColumn("ts", F.unix_micros("ts"))
        out[table] = sorted(tuple(r) for r in df.collect())
    return out


def _expected(batches: list[pa.Table]) -> dict[str, list[tuple]]:
    """The full rebuild over every delivered row, with surrogate keys in
    first-seen batch, then natural key order (the benchmark's oracle)."""
    rows = [(b, r) for b, t in enumerate(batches) for r in t.to_pylist()]
    first = {"user_id": {}, "event_type": {}}
    for b, r in rows:
        for col, seen in first.items():
            seen.setdefault(r[col], b)
    keys = {
        col: {v: i + 1 for i, v in enumerate(sorted(seen, key=lambda v: (seen[v], v)))}
        for col, seen in first.items()
    }
    epoch = datetime.datetime(1970, 1, 1)

    def us(ts):
        return (ts - epoch) // datetime.timedelta(microseconds=1)

    def tier(u):
        return f"t{u % 7}"

    return {
        "events": sorted(
            (r["event_id"], us(r["ts"]), r["user_id"], r["event_type"], r["value"],
             tier(r["user_id"]), r["event_type"][:3])
            for _, r in rows
        ),
        "dim_user": sorted((k, u, tier(u)) for u, k in keys["user_id"].items()),
        "dim_event_type": sorted((k, e, e[:3]) for e, k in keys["event_type"].items()),
        "fact": sorted(
            (r["event_id"], us(r["ts"]), r["value"], keys["user_id"][r["user_id"]],
             keys["event_type"][r["event_type"]])
            for _, r in rows
        ),
    }


def _cut(kinds: list[str], sizes: list[int]) -> list[pa.Table]:
    """Batches of the fixture events in timestamp order, one per kind:
    ``rows`` takes the next rows, ``empty`` none, ``existing`` only next
    rows whose user and event type earlier batches delivered, and
    ``new_type`` the next rows with half of them under an event type no
    batch had."""
    events = _events()
    pos, seen_users, seen_types, out = 0, set(), set(), []
    for b, (kind, size) in enumerate(zip(kinds, sizes)):
        take = events.slice(pos, size)
        pos += size
        if kind == "empty":
            take = take.slice(0, 0)
        elif kind == "existing":
            keep = [u in seen_users and t in seen_types for u, t in
                    zip(take.column("user_id").to_pylist(), take.column("event_type").to_pylist())]
            take = take.filter(pa.array(keep, pa.bool_()))
        elif kind == "new_type":
            types = take.column("event_type").to_pylist()
            types = [f"batch{b}" if i % 2 else t for i, t in enumerate(types)]
            take = take.set_column(
                take.schema.get_field_index("event_type"), "event_type", pa.array(types)
            )
        seen_users |= set(take.column("user_id").to_pylist())
        seen_types |= set(take.column("event_type").to_pylist())
        out.append(take)
    return out


@given(
    kinds=st.lists(st.sampled_from(["rows", "empty", "existing", "new_type"]),
                   min_size=1, max_size=4),
    sizes=st.lists(st.integers(1, 250), min_size=4, max_size=4),
)
@example(kinds=["rows", "empty", "existing", "new_type"], sizes=[300, 40, 120, 60])
@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_change_set_batches_equal_one_full_rebuild(spark, tmp_path_factory, kinds, sizes):
    """Silver, both dims and the fact after the batches equal one full
    rebuild over all delivered rows, for any cut into 1–4 batches: empty
    ones, ones with only known dim keys and ones with a new event type.
    The first batch builds every layer ("no epoch"); each later one
    applies its rows, or skips an empty window."""
    root = str(tmp_path_factory.mktemp("src"))
    pipe = MedallionPipeline(spark, str(tmp_path_factory.mktemp("lake")))
    batches = _cut(kinds, sizes)
    delivered = 0
    for b, rows in enumerate(batches):
        _deliver(root, b, rows)
        if delivered:
            want = ("apply", None) if rows.num_rows else ("skip", None)
        else:
            want = ("rebuild", "no epoch")
        delivered += rows.num_rows
        if delivered:  # before the first row there is no source to read
            _run_batch(spark, pipe, root)
            assert pipe.last_batch == dict.fromkeys(LAYERS, want), b
    if delivered:
        assert _gold(pipe) == _expected(batches)


def _history_and_batches(n_batches: int) -> list[pa.Table]:
    """A history, then batches that each bring a new dim member."""
    return _cut(["rows"] + ["new_type"] * n_batches, [HISTORY_ROWS] + [40] * n_batches)


@pytest.mark.parametrize("kill", ["build_dim", "build_fact"])
def test_killed_between_layers_reruns_to_the_uninterrupted_gold(
    spark, tmp_path, monkeypatch, kill
):
    """Kill points after silver's commit and before the dims
    (``build_dim``), and after the dims and before the fact
    (``build_fact``). Re-running the batch rebuilds the layers left
    behind ("epoch mismatch") and skips the rest, gives the
    uninterrupted gold, and the next batch applies on top of it."""
    batches = _history_and_batches(2)
    real = getattr(medallion_mod, kill)

    def killed(*args, **kwargs):
        monkeypatch.setattr(medallion_mod, kill, real)  # raise once
        raise RuntimeError(f"killed in {kill}")

    def run(base, crash):
        pipe = MedallionPipeline(spark, str(base / "lake"))
        root = str(base / "src")
        snapshots = []
        for b, rows in enumerate(batches):
            _deliver(root, b, rows)
            if crash and b == 1:
                monkeypatch.setattr(medallion_mod, kill, killed)
                with pytest.raises(RuntimeError, match="killed"):
                    _run_batch(spark, pipe, root)
                behind = LAYERS[1:] if kill == "build_dim" else LAYERS[3:]
                epochs = {t: sinks.commit_record(pipe.path(*t.split("/"))).get("epoch")
                          for t in LAYERS}
                assert [t for t in LAYERS if epochs[t] != epochs["silver/events"]] == behind
            _run_batch(spark, pipe, root)
            if crash and b == 1:
                assert pipe.last_batch == {
                    t: ("rebuild", "epoch mismatch") if t in behind else ("skip", None)
                    for t in LAYERS
                }
            if b == 2:
                assert pipe.last_batch == dict.fromkeys(LAYERS, ("apply", None))
            snapshots.append(_gold(pipe))
        return snapshots

    assert run(tmp_path / "killed", True) == run(tmp_path / "clean", False)


def _part_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for name in os.listdir(path):
        if name.startswith("part-"):
            st = os.stat(os.path.join(path, name))
            out[name] = (st.st_ino, st.st_mtime_ns)
    return out


def test_incremental_batch_touches_no_stored_file(spark, tmp_path):
    """Tripwire for change propagation: after one incremental batch every
    part file silver and the fact had before it is untouched (same inode
    and mtime), silver and the fact gained the batch's rows, and the
    batch started at most BATCH_JOBS Spark jobs. An empty window then
    skips every layer and starts no job past bronze; reading
    ``last_batch`` starts none either."""
    history, batch = _history_and_batches(1)
    root = str(tmp_path / "src")
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"))
    _deliver(root, 0, history)
    _run_batch(spark, pipe, root)
    tables = [pipe.path("silver", "events"), pipe.path("gold", "fact")]
    before = [_part_files(p) for p in tables]

    _deliver(root, 1, batch)
    with job_group(spark, "change_set_batch"):
        _run_batch(spark, pipe, root)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("change_set_batch")

    for path, old in zip(tables, before):
        now = _part_files(path)
        assert {name: now.get(name) for name in old} == old, path
        assert len(now) > len(old), path
    assert _gold(pipe) == _expected([history, batch])
    assert len(jobs) <= BATCH_JOBS, len(jobs)
    assert pipe.last_batch == dict.fromkeys(LAYERS, ("apply", None))

    pipe.ingest_bronze(load_table(spark, root, "events"), "events", "ts", ["event_id"], INITIAL,
                       partition_daily=True)
    with job_group(spark, "empty_window"):
        _run_gold(pipe)
        assert pipe.last_batch == dict.fromkeys(LAYERS, ("skip", None))
        assert spark.sparkContext.statusTracker().getJobIdsForGroup("empty_window") == []


def test_row_wise_reads_the_transform_plan(spark):
    """Silver appends a change set only for a transform that maps rows one
    by one: Project and Filter nodes over the bronze rows, deterministic,
    reading no other relation."""
    from incremental_data_pipeline_spark.plans.medallion import _row_wise

    rows = spark.range(10).withColumn("k", F.col("id") % 3).filter("id > 2")
    other = spark.range(3).withColumnRenamed("id", "k")
    row_wise = {
        "identity": lambda df: df,
        "project_filter": lambda df: _silver_like(df).filter("k2 > 0").select("id", "k2"),
    }
    not_row_wise = {
        "dedup": lambda df: df.dropDuplicates(["k"]),
        "join": lambda df: df.join(other, "k"),
        "aggregate": lambda df: df.groupBy("k").count(),
        "random": lambda df: df.withColumn("r", F.rand(1)),
        "subquery": lambda df: df.filter(F.col("k") < other.select(F.max("k")).scalar()),
    }
    for name, transform in row_wise.items():
        assert _row_wise(transform(rows), rows), name
    for name, transform in not_row_wise.items():
        assert not _row_wise(transform(rows), rows), name


def _silver_like(df):
    return df.withColumn("k2", F.col("k") * 2)


def test_batch_that_replaces_a_bronze_row_rebuilds_downstream(spark, tmp_path):
    """A re-delivered key with a newer timestamp on the same day replaces
    its stored bronze row. An append cannot remove the old version from
    silver and the fact, so the batch rebuilds them, and the dims, with
    that reason: each event stays once, with the new payload."""
    history = _history_and_batches(0)[0]
    last = history.slice(history.num_rows - 1, 1).to_pylist()[0]
    assert (last["ts"] + datetime.timedelta(seconds=1)).date() == last["ts"].date()
    update = {**last, "ts": last["ts"] + datetime.timedelta(seconds=1), "value": -1.0}
    root = str(tmp_path / "src")
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"))
    _deliver(root, 0, history)
    _run_batch(spark, pipe, root)
    _deliver(root, 1, pa.Table.from_pylist([update], schema=history.schema))
    _run_batch(spark, pipe, root)
    assert pipe.last_batch == dict.fromkeys(LAYERS, ("rebuild", "bronze rows replaced"))
    for layer, table in [("silver", "events"), ("gold", "fact")]:
        rows = pipe.read(layer, table).filter(F.col("event_id") == last["event_id"]).collect()
        assert [r["value"] for r in rows] == [-1.0], table
        assert pipe.read(layer, table).count() == history.num_rows, table


def test_compacted_tables_take_the_next_batch_as_an_append(spark, tmp_path):
    """``compact_table`` keeps the commit record of the table it rewrites
    (epoch and key high-water mark), so silver, a dim and the fact
    compacted between batches take the next batch incrementally: the
    compacted part files of silver and the fact stay untouched."""
    from incremental_data_pipeline_spark.sources import maintenance

    history, batch = _history_and_batches(1)
    root = str(tmp_path / "src")
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"))
    _deliver(root, 0, history)
    _run_batch(spark, pipe, root)
    appended = [pipe.path("silver", "events"), pipe.path("gold", "fact")]
    tables = [*appended, pipe.path("gold", "dim_user")]
    records = [sinks.commit_record(p) for p in tables]
    assert all(r.get("epoch") is not None for r in records), records

    for path in tables:
        maintenance.compact_table(spark, path)
    assert [sinks.commit_record(p) for p in tables] == records
    compacted = [_part_files(p) for p in appended]

    _deliver(root, 1, batch)
    _run_batch(spark, pipe, root)
    assert pipe.last_batch == dict.fromkeys(LAYERS, ("apply", None))
    for path, old in zip(appended, compacted):
        now = _part_files(path)
        assert {name: now.get(name) for name in old} == old, path
        assert len(now) > len(old), path
    assert _gold(pipe) == _expected([history, batch])


def test_sources_that_are_no_change_set_rebuild_with_their_reason(spark, tmp_path):
    """The rebuilds the batch itself cannot avoid, each with its reason: a
    silver transform that is not row-wise (a dedup) rebuilds silver, and
    a dim given a DataFrame derived from ``build_silver``'s result (not
    the change set the pipeline handed out) builds from that source and
    commits no epoch; silver with no bronze batch to follow rebuilds too,
    without an epoch."""
    history, batch = _history_and_batches(1)
    root = str(tmp_path / "src")
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"))

    def first_events(df):
        return df.dropDuplicates(["user_id"])

    _deliver(root, 0, history)
    _run_batch(spark, pipe, root)
    pipe.build_silver("first_events", first_events, "events")
    _deliver(root, 1, batch)
    _run_batch(spark, pipe, root)
    pipe.build_silver("first_events", first_events, "events")
    assert pipe.last_batch["silver/first_events"] == ("rebuild", "transform not row-wise")
    users = {r["user_id"] for t in (history, batch) for r in t.to_pylist()}
    assert pipe.read("silver", "first_events").count() == len(users)

    silver = pipe.build_silver("events", _silver)
    assert pipe.last_batch["silver/events"] == ("skip", None)
    dim = pipe.build_gold_dim(
        "dim_big_spender", silver.filter(F.col("value") > 50), ["user_id"], ["tier"], "key"
    )
    assert pipe.last_batch["gold/dim_big_spender"] == ("rebuild", "not from build_silver")
    assert sinks.commit_record(pipe.path("gold", "dim_big_spender")) == {}
    spenders = {r["user_id"] for r in batch.to_pylist() if r["value"] > 50}
    assert sorted(r["user_id"] for r in dim.collect()) == sorted(spenders)

    restarted = MedallionPipeline(spark, pipe.base)
    restarted.build_silver("events", _silver)
    assert restarted.last_batch == {"silver/events": ("rebuild", "no batch")}
    assert sinks.commit_record(pipe.path("silver", "events")) == {}


def test_medallion_decision_defined_once():
    """The skip/apply/rebuild decision lives in ``MedallionPipeline._decide``:
    it is the one reader of a table's commit record in
    ``plans/medallion.py``, one change-set type carries a batch from layer
    to layer, and silver, the dims and the fact each switch on its
    result. Three hand-written copies of it once chose their paths
    apart, and none said why it rebuilt."""
    import inspect

    src = inspect.getsource(medallion_mod)
    assert src.count("commit_record(") == 1
    assert src.count('.get("epoch")') == 1
    assert "commit_record(" in inspect.getsource(MedallionPipeline._decide)
    assert "_Window" not in src and "_Handout" not in src
    for fn in (MedallionPipeline.build_silver, MedallionPipeline.build_gold_dim,
               MedallionPipeline.build_gold_fact):
        assert "self._decide(" in inspect.getsource(fn), fn.__name__
