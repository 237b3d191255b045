"""Medallion (bronze → silver → gold) pipeline orchestration.

The reference implements this as six hand-wired Databricks notebooks
(database_notebook, silver_notebook, 4× gold_dim, gold_fact) over a fixed
car-sales schema. Here it is one parameterized pipeline over any source:

- bronze: watermark-CDC incremental ingest (WatermarkStore + replay-safe
  append sink);
- silver: a caller-supplied declarative transform (projection/derivation —
  stays one Catalyst plan);
- gold: SCD1 dimensions (build_dim) + star-schema fact (build_fact), each
  persisted with an atomic swap (the Delta-MERGE replacement).

Orchestration order mirrors docs/gold_layer.PNG: silver → dims → fact.

Change sets. Each watermark batch carries its change set — the bronze rows
in its window (v_from, v_to] — from bronze to gold, and every table
commits the epoch it consumed (the bronze watermark it reflects, as an
integer, ``_epoch``) in the same commit as its rows:

- silver appends ``transform(bronze rows in the window)``, read with the
  day partitions pruned to the window, and returns that change set;
- each dim SCD1-upserts the change set and commits its surrogate-key
  high-water mark with its rows; the next batch reads it instead of
  aggregating the dim (``scd.build_dim(max_key=...)``);
- the fact appends ``build_fact(change set, dims)``.

Applying a change set (v_from, v_to] to a table at v_from gives the table
at v_to — the change-query semantics of "What's the Difference?
Incremental Processing with Change Queries in Snowflake" (SIGMOD 2023).
One decision, ``MedallionPipeline._decide``, reads a table's commit
record and picks its path for the batch:

- ``skip``: the table is at v_to already, so a replay, or an empty
  window, starts no Spark job past bronze;
- ``apply``: the table is at v_from and the change set is exact;
- ``rebuild``: otherwise. The layer is rebuilt in full from the stored
  upstream and commits v_to, so a re-run always converges. The reason
  is the first of these that holds:

  - ``"no batch"``: no ``ingest_bronze`` batch to follow (or its
    watermark is not an int, timestamp or date); commits no epoch;
  - ``"not from build_silver"``: a dim or the fact was given a source
    other than what this pipeline's last ``build_silver`` returned; it
    builds from that source and commits no epoch;
  - ``"no epoch"``: the table is missing or was written without an epoch
    (a batch-primed table);
  - ``"bronze rows replaced"``: the batch replaced stored bronze rows (a
    re-delivered key), which an append cannot express;
  - ``"transform not row-wise"``: the silver transform's analyzed plan is
    more than Project and Filter nodes over the bronze scan
    (``_row_wise``), e.g. a dedup;
  - ``"epoch mismatch"``: the table is at another epoch, e.g. left behind
    by a crash between layers.

``build_silver`` returns the change set when it is exact, and otherwise
the whole table with the reason silver was not one (any of the above),
which a dim or the fact that has an epoch records as its own; a
caller wiring silver → dims → fact as before gets the incremental path
unchanged. ``last_batch`` maps each table (``"layer/table"``) to its
last ``(decision, reason)``, reason None unless it rebuilt: a
driver-side dict, read without a Spark job.

Held change sets. At a batch's size the fixed cost of a Spark job is
the cost, and under AQE every exchange is a job: a 100-row batch ran
21 (bronze 5, silver 1, each dim 6, the fact 3). So when silver
applies a batch of at most ``CHANGE_SET_BUDGET`` rows (the count
``run_incremental_batch`` observed on bronze's write), the layers after
bronze run on its rows held on the driver (``_Held``), and a batch
takes 12 jobs:

- silver collects its change set once (``toArrow``) and appends it as
  a local relation, a plan literal of one part file: 2 jobs;
- each dim probes the stored surrogate keys of the change set's
  natural keys (``key IN (<keys>)``, one job), numbers new keys on the
  driver from the committed ``max_key`` in ``assign_surrogate_keys``'
  order, and writes the stored rows outside the change set (a NULL key
  among them) with the upserted ones: 2 jobs. It takes this path only
  on one natural key of a type whose Python order is Spark's
  (``_ORDERED_KEYS``);
- the fact appends the change set with its foreign keys looked up in
  the key maps the dims' probes returned: 1 job. It takes this path only
  when every dim it joins was upserted from the same change set on its
  own natural key.

Bronze's keyed merge stays distributed: holding its batch too (a
bounded collect of the source scan) measured bronze 5.25 → 6.25 jobs
and silver 2 → 3 per write. Above the budget, and on
every rebuild, ``build_dim`` and ``build_fact`` run unchanged: that is
the 100 TB path. The budget is the measured crossover (``local[4]``, a
100k-row history, 10% new users per batch, CPU seconds of the process
tree per write, held vs distributed): the held path won at 10,000 rows
(2.4 vs 3.2 s, and 2.8 vs 4.6 s in a second run; wall 1.6 vs 2.0 s),
broke even or lost at 20,000–30,000 rows, and lost on wall time at
100,000 rows (4.5 vs 3.4 s), where the collect, the Python key
numbering and the plan literals (the ``IN`` list and the local
relation, both sized by the batch) cost more than the nine jobs they
save. At 10,000 rows the held rows take a few MB of driver memory.
"""

from __future__ import annotations

import dataclasses
import datetime
import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.types import (
    ByteType,
    DateType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from incremental_data_pipeline_spark.functions.util import lit_in, local_relation
from incremental_data_pipeline_spark.operators.scd import build_dim, build_fact
from incremental_data_pipeline_spark.sources.sinks import (
    append_into,
    atomic_overwrite,
    commit_record,
    idempotent_append,
    idempotent_overwrite_day_partitions,
    read_table,
)
from incremental_data_pipeline_spark.sources.watermark import WatermarkStore, run_incremental_batch

_DAY = "__day"  # bronze's day-partition column
_UTC_ZERO = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)

# The largest watermark batch, in rows as ``run_incremental_batch``
# counts them, whose change set the layers past bronze hold on the
# driver (module docstring). Set at the measured crossover.
CHANGE_SET_BUDGET = 10_000

# Natural-key types a held dim upsert numbers in Python: their Python
# order is Spark's ascending order (strings only in the default binary
# collation). Other keys take build_dim.
_ORDERED_KEYS = (ByteType(), ShortType(), IntegerType(), LongType(), StringType(), DateType())


def _epoch(watermark: Any) -> int | None:
    """The watermark as the integer epoch a table commits: an int as is, a
    timestamp as microseconds since 1970 (a naive one read as UTC), a date
    as its ordinal. None for other types: their layers rebuild in full."""
    if isinstance(watermark, int) and not isinstance(watermark, bool):
        return watermark
    if isinstance(watermark, datetime.datetime):
        if watermark.tzinfo is None:
            watermark = watermark.replace(tzinfo=datetime.timezone.utc)
        return (watermark - _UTC_ZERO) // datetime.timedelta(microseconds=1)
    if isinstance(watermark, datetime.date):
        return watermark.toordinal()
    return None


def _row_wise(out: DataFrame, base: DataFrame) -> bool:
    """Whether ``out`` is computed row by row from ``base``: its analyzed
    plan is Project and Filter nodes over ``base``'s own, with
    deterministic expressions and no subquery (which would read another
    relation). Such a transform maps a union of inputs to the union of
    its outputs, so transforming a batch's rows gives silver's change
    set."""
    node = out._jdf.queryExecution().analyzed()
    leaf = base._jdf.queryExecution().analyzed()
    while not node.equals(leaf):
        if (
            node.nodeName() not in ("Project", "Filter")
            or not node.deterministic()
            or not node.subqueries().isEmpty()
        ):
            return False
        node = node.child()
    return True


@dataclass
class _ChangeSet:
    """One batch's rows of a table: its change set (v_from, v_to], or, with
    ``v_from`` None, the whole table at ``v_to`` (None without a batch).
    ``why`` is the reason it is not an exact change set (module
    docstring), None when it is one."""

    df: DataFrame
    v_from: int | None
    v_to: int | None
    why: str | None = None
    rows: int | None = None  # the watermark batch's size, as bronze counted it
    held: pa.Table | None = None  # ``df``'s rows, held on the driver

    @property
    def record(self) -> dict | None:
        """The commit record of a table rebuilt at ``v_to``: none without
        a batch."""
        return None if self.v_to is None else {"epoch": self.v_to}


@dataclass
class _KeyMap:
    """A held dim upsert's surrogate keys for its change set's natural
    keys, handed to the fact with the dim it returned."""

    dim: DataFrame
    cs: _ChangeSet
    natural_key: str
    surrogate_key: str
    keys: dict


class _Held:
    """The driver-held path of a small change set: the one collect of
    its rows, which go back into a plan as ``util.local_relation``s (plan
    literals of one partition, written as one part file)."""

    @staticmethod
    def hold(cs: _ChangeSet) -> _ChangeSet:
        """``cs`` with its rows collected (one job) and ``df`` their local
        relation; ``cs`` itself when Arrow cannot carry a column type."""
        try:
            to_arrow_schema(cs.df.schema)
        except TypeError:  # e.g. a year-month interval: stays distributed
            return cs
        rows = cs.df.toArrow()
        local = local_relation(cs.df.sparkSession, rows, cs.df.schema)
        return dataclasses.replace(cs, df=local, held=rows)

    @staticmethod
    def upsert(
        cs: _ChangeSet,
        existing: DataFrame,
        natural_key: str,
        attrs: list[str],
        surrogate_key: str,
        max_key: int,
    ) -> tuple[DataFrame, dict]:
        """``build_dim``'s SCD1 upsert of the held change set into
        ``existing``, and the change set's key map: one probe job for the
        stored surrogate keys of its natural keys; new keys numbered from
        ``max_key`` in natural-key order, NULLS FIRST (as
        ``assign_surrogate_keys``). A NULL key matches nothing and gets a
        new key, as in ``cdc.changes``; a duplicate key keeps its first
        row; stored rows outside the change set, NULL keys among them,
        pass through."""
        rows = cs.held
        first: dict = {}
        for i, k in enumerate(rows.column(natural_key).to_pylist()):
            first.setdefault(k, i)
        probe = [k for k in first if k is not None]
        stored = {
            r[1]: r[0]
            for r in existing.filter(lit_in(natural_key, probe))
            .select(surrogate_key, natural_key).collect()
        } if probe else {}
        fresh = sorted((k for k in first if k not in stored), key=lambda k: (k is not None, k))
        keys = {**stored, **{k: max_key + i for i, k in enumerate(fresh, 1)}}
        cols = [surrogate_key, natural_key, *attrs]
        upserted = rows.select(cols[1:]).take(pa.array(first.values(), pa.int64()))
        sks = pa.array([keys[k] for k in first], pa.int64())
        upserted = upserted.add_column(0, surrogate_key, sks)
        schema = StructType([StructField(surrogate_key, LongType()),
                             *[cs.df.schema[c] for c in cols[1:]]])
        outside = F.col(natural_key).isNull() | ~lit_in(natural_key, probe)
        dim = existing.filter(outside).select(*cols).unionByName(
            local_relation(existing.sparkSession, upserted, schema)
        )  # as many part files as the dim had: the held rows join one of them
        dim = dim.coalesce(max(1, len(existing.inputFiles())))
        return dim, {k: v for k, v in keys.items() if k is not None}

    @staticmethod
    def facts(
        cs: _ChangeSet, dims: dict[str, tuple[DataFrame, dict[str, str]]],
        measures: list[str], maps: list[_KeyMap],
    ) -> DataFrame | None:
        """``build_fact`` over the held change set, its foreign keys taken
        from the key maps the dims' upserts of the same change set
        returned; None unless ``cs`` is held and every dim has one for its
        join key."""
        if cs.held is None:
            return None
        rows, fields = cs.held.select(measures), [cs.df.schema[c] for c in measures]
        for sk, (dim, keymap) in dims.items():
            km = next((m for m in maps if m.dim is dim and m.cs is cs), None)
            if km is None or km.surrogate_key != sk or keymap != {km.natural_key: km.natural_key}:
                return None
            field = dim.schema[sk]
            fks = [km.keys.get(k) for k in cs.held.column(km.natural_key).to_pylist()]
            rows = rows.append_column(sk, pa.array(fks, to_arrow_type(field.dataType)))
            fields.append(StructField(sk, field.dataType))
        return local_relation(cs.df.sparkSession, rows, StructType(fields))


class MedallionPipeline:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        self._bronze: dict[str, _ChangeSet] = {}  # bronze table -> its last batch
        self._silver: dict[str, _ChangeSet] = {}  # silver table -> last build_silver
        self._keys: dict[str, _KeyMap] = {}  # gold dim -> its last held upsert's keys
        self.last_batch: dict[str, tuple[str, str | None]] = {}

    # -- table registry (replaces the reference's cars_catalog.{silver,gold}) --

    def path(self, layer: str, table: str) -> str:
        return os.path.join(self.base, layer, table)

    def read(self, layer: str, table: str) -> DataFrame | None:
        """The table, or None when it does not exist — the reference's
        spark.catalog.tableExists gate (gold_dim_branch.py:51). A swap that
        crashed between its renames reads as its last version
        (``sinks.read_table``)."""
        return read_table(self.spark, self.path(layer, table))

    def _decide(self, layer: str, table: str, cs: _ChangeSet) -> tuple[str, str | None, dict]:
        """The one skip/apply/rebuild decision (module docstring) for the
        table given ``cs``: the decision, its reason (None unless it is
        rebuild) and the table's commit record. Kept in ``last_batch``."""
        record = commit_record(self.path(layer, table))
        at = record.get("epoch")
        if at is not None and at == cs.v_to:
            decision, why = "skip", None
        elif at is not None and at == cs.v_from and cs.why is None:
            decision, why = "apply", None
        elif cs.v_to is None:
            decision, why = "rebuild", cs.why
        else:
            decision, why = "rebuild", "no epoch" if at is None else cs.why or "epoch mismatch"
        self.last_batch[f"{layer}/{table}"] = (decision, why)
        return decision, why, record

    def _handed(self, df: DataFrame) -> tuple[str | None, _ChangeSet]:
        """The silver table and change set of the ``build_silver`` result
        ``df``; any other ``df`` is a whole table with no batch."""
        for table, cs in self._silver.items():
            if cs.df is df:
                return table, cs
        return None, _ChangeSet(df, None, None, "not from build_silver")

    def _whole(self, silver: str | None, cs: _ChangeSet) -> DataFrame:
        """The whole table ``cs`` came from: itself, or the stored silver."""
        return cs.df if cs.v_from is None else self.read("silver", silver)

    # -- bronze: incremental CDC ingest --

    def ingest_bronze(
        self,
        source: DataFrame,
        table: str,
        ts_col: str,
        keys: list[str],
        initial_watermark: Any,
        current_load: Any | None = None,
        count_rows: bool = True,
        partition_daily: bool = False,
        partition_granularity: str = "day",
    ) -> int:
        """One watermark batch into bronze. Replay-safe: the sink dedups on
        ``keys``, so at-least-once delivery cannot duplicate the layer
        (fixes the reference's append-only silver, SURVEY §2.9 #7).

        ``partition_daily=True`` is the at-scale layout: bronze is
        partitioned by day and each batch replaces only the day
        partitions its watermark window touches
        (``sinks.merge_partitions``) — the replay guard's sink re-read is
        partition-pruned to those days instead of scanning the whole
        layer.

        The batch's window and size are kept for ``build_silver``, whose
        change set is the bronze rows in it. Returns the rows the batch
        delivered, as ``run_incremental_batch`` counted them.
        ``count_rows`` has no effect: the count is always taken, on the
        sink's own write."""
        store = WatermarkStore(
            self.spark, self.path("state", f"{table}_watermark"), initial_watermark
        )
        sink_path = self.path("bronze", table)
        self._bronze.pop(table, None)
        last = store.read()
        lo = None
        replaced = []  # stored rows the batch replaced, as the sink counted them

        if partition_daily:
            # current_load=None is the open window (everything newer than
            # the watermark) — no upper pruning bound, and no extra
            # max(ts) scan: run_incremental_batch advances the watermark
            # from the max OBSERVED on the sink's write.
            lo = last.date() if hasattr(last, "date") else None
            if lo is not None and partition_granularity == "month":
                lo = lo.replace(day=1)  # the partition value the window starts in
            hi = (
                current_load.date()
                if current_load is not None and hasattr(current_load, "date")
                else None
            )

            def sink(batch: DataFrame) -> None:
                replaced.append(idempotent_overwrite_day_partitions(
                    self.spark, batch, sink_path, keys, ts_col, day_col=_DAY,
                    lo=lo, hi=hi, granularity=partition_granularity,
                ))
        else:

            def sink(batch: DataFrame) -> None:
                idempotent_append(self.spark, batch, sink_path, keys)
                replaced.append(0)  # a re-delivered key is dropped, not replaced

        n = run_incremental_batch(source, ts_col, store, sink, current_load)
        new, rows = store.read(), self.read("bronze", table)
        epochs = _epoch(last), _epoch(new)
        if None not in (*epochs, rows):
            ts = F.col(ts_col)
            window = (ts > F.lit(last)) & (ts <= F.lit(new))
            if lo is not None:  # prune to the day partitions the batch touched
                window &= (F.col(_DAY) >= F.lit(lo)) & (F.col(_DAY) <= F.lit(new.date()))
            why = None if replaced == [0] else "bronze rows replaced"
            self._bronze[table] = _ChangeSet(rows.filter(window), *epochs, why, n)
        return n

    # -- silver: declarative transform --

    def build_silver(
        self, table: str, transform: Callable[[DataFrame], DataFrame], source_table: str | None = None
    ) -> DataFrame:
        """Silver = ``transform(bronze)``. After this pipeline's
        ``ingest_bronze`` of the source, silver appends the batch's
        change set and returns it, or rebuilds and returns the whole
        table (see the module docstring for when). A change set within
        ``CHANGE_SET_BUDGET`` is held on the driver, and what it returns
        is a local relation of the rows it appended."""
        src = source_table or table
        path = self.path("silver", table)
        bronze = self._bronze.get(src) or _ChangeSet(
            self.read("bronze", src), None, None, "no batch"
        )
        delta = transform(bronze.df)
        why = bronze.why or (None if _row_wise(delta, bronze.df) else "transform not row-wise")
        cs = _ChangeSet(delta, bronze.v_from, bronze.v_to, why, bronze.rows)
        decision, why, _ = self._decide("silver", table, cs)
        if decision == "apply":
            if cs.rows is not None and cs.rows <= CHANGE_SET_BUDGET:
                cs = _Held.hold(cs)
            append_into(cs.df, path, cs.v_to)
        elif decision == "rebuild":
            whole = delta if cs.v_from is None else transform(self.read("bronze", src))
            atomic_overwrite(whole, path, cs.record)
        why = why or cs.why
        if why is not None:
            cs = _ChangeSet(self.read("silver", table), None, cs.v_to, why)
        self._silver[table] = cs
        return cs.df

    # -- gold: SCD1 dims + fact --

    def build_gold_dim(
        self,
        table: str,
        source: DataFrame,
        natural_keys: list[str],
        attrs: list[str],
        surrogate_key: str,
    ) -> DataFrame:
        """Initial-vs-incremental bootstrap (I3) + SCD1 upsert, one code path
        for every dimension (replaces 4 copy-pasted notebooks and their
        divergent key generators — SURVEY §2.9 #1-#5).

        Given ``build_silver``'s change set, the upsert reads only it and
        takes the key offset from the high-water mark committed with the
        dim (on the driver when the change set is held: ``_Held.upsert``);
        given any other source, it upserts all of it.

        Surrogate keys take the single-window plan (``scalable_keys=False``,
        not the generic operators' size-probe auto-default): a gold
        DIMENSION is small by definition — dims stay dimension-sized even
        at 100 TB fact scale — so per-batch probe jobs and range-exchange
        shuffles buy nothing. Keying something that is NOT dimension-sized
        is ``scd.build_dim``'s job, with its ``scalable_keys``."""
        silver, cs = self._handed(source)
        decision, _, record = self._decide("gold", table, cs)
        self._keys.pop(table, None)
        if decision == "skip":
            return self.read("gold", table)
        existing, max_key, keys = self.read("gold", table), record.get("max_key"), None
        if (
            decision == "apply" and cs.held is not None and max_key is not None
            and len(natural_keys) == 1 and cs.df.schema[natural_keys[0]].dataType in _ORDERED_KEYS
        ):
            dim, keys = _Held.upsert(cs, existing, natural_keys[0], attrs, surrogate_key, max_key)
        else:
            dim = build_dim(
                cs.df if decision == "apply" else self._whole(silver, cs),
                natural_keys, attrs, surrogate_key, existing,
                scalable_keys=False, max_key=max_key,
            )
        marks = {"max_key": F.coalesce(F.max(surrogate_key), F.lit(0))}
        atomic_overwrite(dim, self.path("gold", table), cs.record, marks)
        out = self.read("gold", table)
        if keys is not None:
            self._keys[table] = _KeyMap(out, cs, natural_keys[0], surrogate_key, keys)
        return out

    def build_gold_fact(
        self,
        table: str,
        base: DataFrame,
        dims: dict[str, tuple[DataFrame, dict[str, str]]],
        measures: list[str],
    ) -> DataFrame:
        """Star-schema fact. Given ``build_silver``'s change set it appends
        the change set's facts (with the held dims' key maps when it is
        held: ``_Held.facts``); given any other base it rewrites the table
        from it."""
        path = self.path("gold", table)
        silver, cs = self._handed(base)
        decision, _, _ = self._decide("gold", table, cs)
        if decision == "apply":
            facts = _Held.facts(cs, dims, measures, list(self._keys.values()))
            append_into(build_fact(cs.df, dims, measures) if facts is None else facts,
                        path, cs.v_to)
        elif decision == "rebuild":
            atomic_overwrite(build_fact(self._whole(silver, cs), dims, measures), path, cs.record)
        return self.read("gold", table)
