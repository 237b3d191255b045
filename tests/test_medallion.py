"""The change-set medallion: each watermark batch's change set flows from
bronze through silver, the SCD1 dims and the fact. These tests pin that
the incremental result equals a full rebuild for any batch cut, on the
driver-held path of a small batch and on the distributed one, that a
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
# (local[4], AQE on), on the driver-held path: bronze 5, silver 2 (the
# collect and the append), each dim 2 (the probe and the write), the
# fact 1. The distributed path starts 21 for the same batch (silver 1,
# each dim 6, the fact 3), the whole-layer rebuild before it 30.
BATCH_JOBS = 12

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


def _run_gold(pipe: MedallionPipeline):
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
    return silver


TABLES = [("silver", "events"), ("gold", "dim_user"), ("gold", "dim_event_type"),
          ("gold", "fact")]


def _gold(pipe: MedallionPipeline) -> dict[str, list[tuple]]:
    """Every silver and gold table as sorted rows, timestamps as epoch µs."""
    out = {}
    for layer, table in TABLES:
        df = pipe.read(layer, table)
        if "ts" in df.columns:
            df = df.withColumn("ts", F.unix_micros("ts"))
        out[table] = sorted((tuple(r) for r in df.collect()), key=repr)
    return out


def _expected(batches: list[pa.Table]) -> dict[str, list[tuple]]:
    """The full rebuild over every delivered row, with surrogate keys in
    first-seen batch, then natural key order, NULLS FIRST (the benchmark's
    oracle). A NULL natural key matches nothing, so each batch that
    delivers one adds one dim row for it, and its facts get no key."""
    rows = [(b, r) for b, t in enumerate(batches) for r in t.to_pylist()]
    keys = {}
    for col in ("user_id", "event_type"):
        seen = {}  # natural key (a NULL one with its batch) -> first batch
        for b, r in rows:
            seen.setdefault(r[col] if r[col] is not None else (None, b), b)
        order = sorted(seen, key=lambda v: (seen[v], not isinstance(v, tuple), v))
        keys[col] = {v: i + 1 for i, v in enumerate(order)}
    epoch = datetime.datetime(1970, 1, 1)

    def us(ts):
        return (ts - epoch) // datetime.timedelta(microseconds=1)

    def tier(u):
        return None if u is None else f"t{u % 7}"

    def natural(v):
        return None if isinstance(v, tuple) else v

    def category(e):
        return None if e is None else e[:3]

    def fk(col, r):
        return keys[col].get(r[col])

    return {
        "events": sorted((
            (r["event_id"], us(r["ts"]), r["user_id"], r["event_type"], r["value"],
             tier(r["user_id"]), category(r["event_type"]))
            for _, r in rows
        ), key=repr),
        "dim_user": sorted(((k, natural(u), tier(natural(u)))
                            for u, k in keys["user_id"].items()), key=repr),
        "dim_event_type": sorted(((k, natural(e), category(natural(e)))
                                  for e, k in keys["event_type"].items()), key=repr),
        "fact": sorted((
            (r["event_id"], us(r["ts"]), r["value"], fk("user_id", r), fk("event_type", r))
            for _, r in rows
        ), key=repr),
    }


def _null_every(col: pa.ChunkedArray, k: int, offset: int) -> pa.Array:
    """``col`` with every ``k``-th value from ``offset`` on set to NULL."""
    values = col.to_pylist()
    return pa.array([None if i % k == offset else v for i, v in enumerate(values)], col.type)


def _cut(kinds: list[str], sizes: list[int]) -> list[pa.Table]:
    """Batches of the fixture events in timestamp order, one per kind:
    ``rows`` takes the next rows, ``empty`` none, ``existing`` only next
    rows whose user and event type earlier batches delivered,
    ``new_type`` the next rows with half of them under an event type no
    batch had, and ``null_keys`` the next rows with every third user and
    every fifth event type NULL."""
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
        elif kind == "null_keys":
            for col, k, offset in (("user_id", 3, 0), ("event_type", 5, 1)):
                i = take.schema.get_field_index(col)
                take = take.set_column(i, col, _null_every(take.column(col), k, offset))
        seen_users |= set(take.column("user_id").to_pylist())
        seen_types |= set(take.column("event_type").to_pylist())
        out.append(take)
    return out


@given(
    kinds=st.lists(st.sampled_from(["rows", "empty", "existing", "new_type", "null_keys"]),
                   min_size=1, max_size=4),
    sizes=st.lists(st.integers(1, 250), min_size=4, max_size=4),
)
@example(kinds=["rows", "empty", "existing", "new_type"], sizes=[300, 40, 120, 60])
@example(kinds=["null_keys", "rows", "null_keys", "existing"], sizes=[200, 60, 40, 50])
@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_change_set_batches_equal_one_full_rebuild(
    spark, tmp_path_factory, monkeypatch, kinds, sizes
):
    """Silver, both dims and the fact after the batches equal one full
    rebuild over all delivered rows, for any cut into 1–4 batches: empty
    ones, ones with only known dim keys, ones with a new event type and
    ones with NULL natural keys (each batch's NULL key is a new dim row,
    which later upserts keep); every batch repeats dim keys. The first
    batch builds every layer ("no epoch"); each later one applies its
    rows, or skips an empty window. Run with CHANGE_SET_BUDGET at 0
    (every layer distributed) and at its default (every apply held on
    the driver), and each dim commits ``max_key`` = its largest key."""
    batches = _cut(kinds, sizes)
    for budget in (0, medallion_mod.CHANGE_SET_BUDGET):
        monkeypatch.setattr(medallion_mod, "CHANGE_SET_BUDGET", budget)
        root = str(tmp_path_factory.mktemp("src"))
        pipe = MedallionPipeline(spark, str(tmp_path_factory.mktemp("lake")))
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
                assert pipe.last_batch == dict.fromkeys(LAYERS, want), (budget, b)
                held = pipe._silver["events"].held is not None
                assert held == (want == ("apply", None) and budget > 0), (budget, b)
        if delivered:
            gold = _gold(pipe)
            assert gold == _expected(batches), budget
            for table in ("dim_user", "dim_event_type"):
                record = sinks.commit_record(pipe.path("gold", table))
                assert record["max_key"] == max(r[0] for r in gold[table]), (budget, table)


def test_held_and_distributed_batches_store_one_schema(spark, tmp_path, monkeypatch):
    """A batch held on the driver writes silver, both dims and the fact
    with the footer schema the distributed path writes. A dim keyed on a
    type whose Python order is not Spark's (a double) takes ``build_dim``
    on either path; the others do not on the held one. A silver table
    with a column Arrow cannot carry (a year-month interval) appends
    without being held."""
    history, batch = _history_and_batches(1)
    built = []
    real = medallion_mod.build_dim

    def spy(source, natural_keys, *args, **kwargs):
        built.append(natural_keys)
        return real(source, natural_keys, *args, **kwargs)

    monkeypatch.setattr(medallion_mod, "build_dim", spy)

    def run_batch(pipe, root):
        pipe.ingest_bronze(load_table(spark, root, "events"), "events", "ts", ["event_id"],
                           INITIAL, partition_daily=True)
        silver = _run_gold(pipe)
        pipe.build_gold_dim("dim_value", silver, ["value"], [], "dim_value_key")
        pipe.build_silver("events_aged", lambda df: _silver(df).withColumn(
            "age", F.expr("INTERVAL '1' YEAR")), "events")

    schemas, default = {}, medallion_mod.CHANGE_SET_BUDGET
    for budget in (0, default):
        monkeypatch.setattr(medallion_mod, "CHANGE_SET_BUDGET", budget)
        root = str(tmp_path / f"src{budget}")
        pipe = MedallionPipeline(spark, str(tmp_path / f"lake{budget}"))
        for b, rows in enumerate((history, batch)):
            _deliver(root, b, rows)
            del built[:]
            run_batch(pipe, root)
        assert set(pipe.last_batch.values()) == {("apply", None)}
        assert (pipe._silver["events"].held is not None) == bool(budget)
        assert pipe._silver["events_aged"].held is None
        keys = [["value"]] if budget else [["user_id"], ["event_type"], ["value"]]
        assert built == keys, budget
        schemas[budget] = {
            table: sinks._stored_schema(pipe.path(layer, table))[1].simpleString()
            for layer, table in TABLES
        }
    assert schemas[0] == schemas[default]


def _history_and_batches(n_batches: int) -> list[pa.Table]:
    """A history, then batches that each bring a new dim member."""
    return _cut(["rows"] + ["new_type"] * n_batches, [HISTORY_ROWS] + [40] * n_batches)


@pytest.mark.parametrize("kill", ["build_dim", "build_fact"])
def test_killed_between_layers_reruns_to_the_uninterrupted_gold(
    spark, tmp_path, monkeypatch, kill
):
    """Kill points after silver's commit and before the dims'
    (``build_dim``: the first dim's swap raises), and after the dims'
    commits and before the fact's (``build_fact``: its append raises),
    with CHANGE_SET_BUDGET at 0 (every layer distributed) and at its
    default (held on the driver). Re-running the batch rebuilds the
    layers left behind ("epoch mismatch") and skips the rest, gives the
    uninterrupted gold, and the next batch applies on top of it."""
    batches = _history_and_batches(2)
    writer, table = {"build_dim": ("atomic_overwrite", "dim_user"),
                     "build_fact": ("append_into", "fact")}[kill]
    real = getattr(medallion_mod, writer)

    def killed(df, path, *args, **kwargs):
        if os.path.basename(path) != table:
            return real(df, path, *args, **kwargs)
        monkeypatch.setattr(medallion_mod, writer, real)  # raise once
        raise RuntimeError(f"killed in {kill}")

    def run(base, crash):
        pipe = MedallionPipeline(spark, str(base / "lake"))
        root = str(base / "src")
        snapshots = []
        for b, rows in enumerate(batches):
            _deliver(root, b, rows)
            if crash and b == 1:
                monkeypatch.setattr(medallion_mod, writer, killed)
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

    for budget in (0, medallion_mod.CHANGE_SET_BUDGET):
        monkeypatch.setattr(medallion_mod, "CHANGE_SET_BUDGET", budget)
        base = tmp_path / str(budget)
        assert run(base / "killed", True) == run(base / "clean", False), budget


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


def test_batch_that_moves_a_key_to_the_next_day_keeps_it_once(spark, tmp_path):
    """A re-delivered key whose new timestamp falls on the next day, when
    it was the only event of its day: the batch replaces a stored bronze
    row, so every layer rebuilds with that reason, and bronze, silver and
    the fact hold one row per key, the key's with the new payload. The
    bronze merge reads the day the key left and drops it; under Spark's
    dynamic partition overwrite that day kept its stale row, and silver,
    rebuilt from bronze, held the key twice."""
    history = _history_and_batches(0)[0]
    last = history.slice(history.num_rows - 1, 1).to_pylist()[0]
    day = datetime.timedelta(days=1)
    lone = {**last, "event_id": max(history.column("event_id").to_pylist()) + 1,
            "ts": datetime.datetime.combine(last["ts"].date() + day, datetime.time(12))}
    moved = {**lone, "ts": lone["ts"] + day, "value": -1.0}
    root = str(tmp_path / "src")
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"))
    _deliver(root, 0, pa.concat_tables([history, pa.Table.from_pylist([lone], history.schema)]))
    _run_batch(spark, pipe, root)
    assert pipe.last_batch == dict.fromkeys(LAYERS, ("rebuild", "no epoch"))
    _deliver(root, 1, pa.Table.from_pylist([moved], schema=history.schema))
    _run_batch(spark, pipe, root)
    assert pipe.last_batch == dict.fromkeys(LAYERS, ("rebuild", "bronze rows replaced"))
    for layer, table in [("bronze", "events"), ("silver", "events"), ("gold", "fact")]:
        df = pipe.read(layer, table)
        assert df.count() == df.select("event_id").distinct().count() == history.num_rows + 1
        rows = df.filter(F.col("event_id") == lone["event_id"]).collect()
        assert [r["value"] for r in rows] == [-1.0], table


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


def test_held_change_set_defined_once():
    """The driver-held paths have one budget each, one collect each and
    one way back into a plan: ``CHANGE_SET_BUDGET`` and
    ``CC_EDGE_BUDGET`` are each assigned once in the package;
    ``plans/medallion.py`` collects a change set with one ``toArrow(``
    (``toPandas`` would turn a nullable bigint key into a float) and
    ``operators/dedup.py`` its edges with one, each in its held path;
    both build local relations only through ``util.local_relation`` (the
    package's one definition), the medallion's all in ``_Held``; and the
    source-file skip of ``run_incremental_batch`` is the package's one
    filter on a ``_metadata`` column."""
    import inspect
    import pathlib

    from incremental_data_pipeline_spark.operators import dedup

    package = pathlib.Path(medallion_mod.__file__).parents[1]
    sources = {p: p.read_text() for p in package.rglob("*.py")}

    def count(needle: str) -> int:
        return sum(text.count(needle) for text in sources.values())

    assert count("CHANGE_SET_BUDGET =") == count("CC_EDGE_BUDGET =") == 1
    assert count("def local_relation(") == 1
    src = inspect.getsource(medallion_mod)
    held = inspect.getsource(medallion_mod._Held)
    cc = inspect.getsource(dedup)
    cc_held = inspect.getsource(dedup._held_components)
    assert src.count("toArrow(") == held.count("toArrow(") == 1
    assert cc.count("toArrow(") == cc_held.count("toArrow(") == 1
    assert src.count("local_relation(") == held.count("local_relation(") > 0
    assert cc.count("local_relation(") == cc_held.count("local_relation(") == 1
    for text in (src, cc):
        assert "createDataFrame(" not in text and "toPandas(" not in text
    assert ".collect()" not in src.replace(held, "")
    filters = [line for text in sources.values() for line in text.splitlines()
               if "_metadata." in line
               and any(f in line for f in ("filter(", "where(", "isin(", "lit_in("))]
    assert [f.strip() for f in filters] == [
        'source = source.filter(~lit_in("_metadata.file_path", settled))'
    ]
