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
Incremental Processing with Change Queries in Snowflake" (SIGMOD 2023). A
table already at v_to skips the batch, so a replay, or an empty window,
starts no Spark job past bronze. A layer is rebuilt in full from the
stored upstream instead, and commits v_to, when:

1. the table is in any other state: missing, written without an epoch (a
   batch-primed or compacted table), or left behind by a crash between
   layers — so a re-run always converges;
2. the change set would be wrong: the silver transform is not row-wise
   (``_row_wise``: its analyzed plan is more than Project and Filter
   nodes over the bronze scan, e.g. a dedup), or the batch replaced
   stored bronze rows (a re-delivered key), which an append cannot
   express.

A dim or the fact given a source other than what this pipeline's last
``build_silver`` returned builds from that source as before and commits
no epoch.

``build_silver`` returns the change set when it appended one and the
whole table when it rebuilt, so a caller wiring silver → dims → fact as
before gets the incremental path unchanged.
"""

from __future__ import annotations

import datetime
import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incremental_data_pipeline_spark.operators.scd import build_dim, build_fact
from incremental_data_pipeline_spark.sources.sinks import (
    append_into,
    atomic_overwrite,
    commit_overwrite,
    commit_record,
    idempotent_append,
    idempotent_overwrite_day_partitions,
    read_table,
)
from incremental_data_pipeline_spark.sources.watermark import WatermarkStore, run_incremental_batch

_DAY = "__day"  # bronze's day-partition column
_UTC_ZERO = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


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
class _Window:
    """What one ``ingest_bronze`` batch delivered: its bronze ``rows``, the
    epochs it moved bronze from and to, and whether it only added rows
    (a re-delivered key replaces a stored row)."""

    rows: DataFrame
    v_from: int
    v_to: int
    appended: bool


@dataclass
class _Handout:
    """What ``build_silver`` returned: the change set (v_from, v_to] of
    silver ``table``, or, with ``v_from`` None, the whole table at
    ``v_to``."""

    df: DataFrame
    table: str
    v_from: int | None
    v_to: int


class MedallionPipeline:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        self._windows: dict[str, _Window] = {}  # bronze table -> its last batch
        self._handouts: dict[str, _Handout] = {}  # silver table -> last build_silver

    # -- table registry (replaces the reference's cars_catalog.{silver,gold}) --

    def path(self, layer: str, table: str) -> str:
        return os.path.join(self.base, layer, table)

    def read(self, layer: str, table: str) -> DataFrame | None:
        """The table, or None when it does not exist — the reference's
        spark.catalog.tableExists gate (gold_dim_branch.py:51). A swap that
        crashed between its renames reads as its last version
        (``sinks.read_table``)."""
        return read_table(self.spark, self.path(layer, table))

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
        partitioned by day and each batch dynamically overwrites only the
        day partitions its watermark window touches — the replay guard's
        sink re-read is partition-pruned to those days instead of scanning
        the whole layer.

        The batch's window is kept for ``build_silver``, whose change set
        is the bronze rows in it."""
        store = WatermarkStore(
            self.spark, self.path("state", f"{table}_watermark"), initial_watermark
        )
        sink_path = self.path("bronze", table)
        self._windows.pop(table, None)
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

        n = run_incremental_batch(source, ts_col, store, sink, current_load, count_rows)
        new, rows = store.read(), self.read("bronze", table)
        epochs = _epoch(last), _epoch(new)
        if None not in (*epochs, rows):
            ts = F.col(ts_col)
            window = (ts > F.lit(last)) & (ts <= F.lit(new))
            if lo is not None:  # prune to the day partitions the batch touched
                window &= (F.col(_DAY) >= F.lit(lo)) & (F.col(_DAY) <= F.lit(new.date()))
            self._windows[table] = _Window(rows.filter(window), *epochs, replaced == [0])
        return n

    # -- silver: declarative transform --

    def build_silver(
        self, table: str, transform: Callable[[DataFrame], DataFrame], source_table: str | None = None
    ) -> DataFrame:
        """Silver = ``transform(bronze)``. After this pipeline's
        ``ingest_bronze`` of the source, silver appends the batch's
        change set and returns it, or rebuilds and returns the whole
        table (see the module docstring for when)."""
        src = source_table or table
        path = self.path("silver", table)
        window = self._windows.get(src)
        if window is None:  # no batch to follow: rebuild, commit no epoch
            atomic_overwrite(transform(self.read("bronze", src)), path)
            self._handouts.pop(table, None)
            return self.read("silver", table)
        delta = transform(window.rows)
        exact = window.appended and _row_wise(delta, window.rows)
        at = commit_record(path).get("epoch")
        if at != window.v_to:
            if at == window.v_from and exact:
                append_into(delta, path, window.v_to)
            else:
                commit_overwrite(transform(self.read("bronze", src)), path, window.v_to)
                exact = False
        self._handouts[table] = (
            _Handout(delta, table, window.v_from, window.v_to) if exact
            else _Handout(self.read("silver", table), table, None, window.v_to)
        )
        return self._handouts[table].df

    def _handout(self, df: DataFrame) -> _Handout | None:
        """The ``build_silver`` result ``df`` is, if it is one."""
        return next((h for h in self._handouts.values() if h.df is df), None)

    def _whole(self, handout: _Handout) -> DataFrame:
        """The stored silver table ``handout`` came from."""
        return handout.df if handout.v_from is None else self.read("silver", handout.table)

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
        dim; given any other source, it upserts all of it.

        Surrogate keys take the single-window plan (``scalable_keys=False``,
        not the generic operators' size-probe auto-default): a gold
        DIMENSION is small by definition — dims stay dimension-sized even
        at 100 TB fact scale — so per-batch probe jobs and range-exchange
        shuffles buy nothing. Keying something that is NOT dimension-sized
        is ``scd.build_dim``'s job, with its ``scalable_keys``."""
        path = self.path("gold", table)
        existing = self.read("gold", table)
        handout = self._handout(source)
        if handout is None:
            dim = build_dim(
                source, natural_keys, attrs, surrogate_key, existing, scalable_keys=False
            )
            atomic_overwrite(dim, path)
            return self.read("gold", table)
        record = commit_record(path)
        at = record.get("epoch")
        if at == handout.v_to:
            return existing
        if at is None or at != handout.v_from:
            source = self._whole(handout)
        dim = build_dim(
            source, natural_keys, attrs, surrogate_key, existing,
            scalable_keys=False, max_key=record.get("max_key"),
        )
        commit_overwrite(
            dim, path, handout.v_to, {"max_key": F.coalesce(F.max(surrogate_key), F.lit(0))}
        )
        return self.read("gold", table)

    def build_gold_fact(
        self,
        table: str,
        base: DataFrame,
        dims: dict[str, tuple[DataFrame, dict[str, str]]],
        measures: list[str],
    ) -> DataFrame:
        """Star-schema fact. Given ``build_silver``'s change set it appends
        the change set's facts; given any other base it rewrites the
        table from it."""
        path = self.path("gold", table)
        handout = self._handout(base)
        if handout is None:
            atomic_overwrite(build_fact(base, dims, measures), path)
            return self.read("gold", table)
        at = commit_record(path).get("epoch")
        if at != handout.v_to:
            if at is not None and at == handout.v_from:
                append_into(build_fact(handout.df, dims, measures), path, handout.v_to)
            else:
                fact = build_fact(self._whole(handout), dims, measures)
                commit_overwrite(fact, path, handout.v_to)
        return self.read("gold", table)
