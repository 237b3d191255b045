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
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from incremental_data_pipeline_spark.operators.scd import build_dim, build_fact
from incremental_data_pipeline_spark.sources.sinks import (
    atomic_overwrite,
    idempotent_append,
    idempotent_overwrite_day_partitions,
    read_table,
)
from incremental_data_pipeline_spark.sources.watermark import WatermarkStore, run_incremental_batch


class MedallionPipeline:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir

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
        the whole layer."""
        store = WatermarkStore(
            self.spark, self.path("state", f"{table}_watermark"), initial_watermark
        )
        sink_path = self.path("bronze", table)

        if partition_daily:
            # current_load=None is the open window (everything newer than
            # the watermark) — no upper pruning bound, and no extra
            # max(ts) scan: run_incremental_batch advances the watermark
            # from the max OBSERVED on the sink's write.
            last = store.read()
            lo = last.date() if hasattr(last, "date") else None
            hi = (
                current_load.date()
                if current_load is not None and hasattr(current_load, "date")
                else None
            )

            def sink(batch: DataFrame) -> None:
                idempotent_overwrite_day_partitions(
                    self.spark, batch, sink_path, keys, ts_col,
                    lo=lo, hi=hi, granularity=partition_granularity,
                )
        else:

            def sink(batch: DataFrame) -> None:
                idempotent_append(self.spark, batch, sink_path, keys)

        return run_incremental_batch(source, ts_col, store, sink, current_load, count_rows)

    # -- silver: declarative transform --

    def build_silver(
        self, table: str, transform: Callable[[DataFrame], DataFrame], source_table: str | None = None
    ) -> DataFrame:
        src = self.read("bronze", source_table or table)
        out = transform(src)
        atomic_overwrite(out, self.path("silver", table))
        return self.read("silver", table)

    # -- gold: SCD1 dims + fact --

    def build_gold_dim(
        self,
        table: str,
        source: DataFrame,
        natural_keys: list[str],
        attrs: list[str],
        surrogate_key: str,
        scalable_keys: bool | None = False,
    ) -> DataFrame:
        """Initial-vs-incremental bootstrap (I3) + SCD1 upsert, one code path
        for every dimension (replaces 4 copy-pasted notebooks and their
        divergent key generators — SURVEY §2.9 #1-#5).

        ``scalable_keys=False`` here (vs the generic operators' size-probe
        auto-default): a gold DIMENSION is small by definition — dims stay
        dimension-sized even at 100 TB fact scale — so per-batch probe jobs
        and range-exchange shuffles buy nothing. Callers keying something
        that is NOT dimension-sized should pass ``None`` (auto) or
        ``True``."""
        existing = self.read("gold", table)
        dim = build_dim(source, natural_keys, attrs, surrogate_key, existing, scalable_keys)
        atomic_overwrite(dim, self.path("gold", table))
        return self.read("gold", table)

    def build_gold_fact(
        self,
        table: str,
        base: DataFrame,
        dims: dict[str, tuple[DataFrame, dict[str, str]]],
        measures: list[str],
    ) -> DataFrame:
        fact = build_fact(base, dims, measures)
        atomic_overwrite(fact, self.path("gold", table))
        return self.read("gold", table)
