"""``medallion_cdc``: watermark-CDC batches through bronze -> silver -> gold,
with gold star queries between them.

One round of the closed loop is one write (deliver the next 0.1% batch,
then ``ingest_bronze`` -> ``build_silver`` -> ``build_gold_dim`` x2 ->
``build_gold_fact``) followed by READS_PER_ROUND star aggregates over gold.
"""

from __future__ import annotations

import datetime
import os
import shutil

from pyspark.sql import functions as F

from incremental_data_pipeline_spark.plans import medallion as medallion_mod
from incremental_data_pipeline_spark.plans.medallion import MedallionPipeline
from incremental_data_pipeline_spark.sources import watermark
from incremental_data_pipeline_spark.sources.readers import load_table

import gen
import oracles
import tracing

READS_PER_ROUND = 4
INITIAL_WATERMARK = datetime.datetime(2023, 1, 1)
STAGES = ("ingest_bronze", "build_silver", "build_gold_dim", "build_gold_fact")


def silver_transform(df):
    """Row-wise silver projection; dim attributes are functions of the key."""
    return df.select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.concat(F.lit("t"), (F.col("user_id") % 7).cast("string")).alias("tier"),
        F.substring("event_type", 1, 3).alias("category"),
    )


class MedallionCDC:
    """Workload state and operations; the round is described above."""

    def __init__(self, spark, tracer, inputs: dict, work: str, threads: int):
        self.spark, self.tracer, self.inputs = spark, tracer, inputs
        self.work, self.threads = work, threads
        self.src_root = os.path.dirname(inputs["src"])
        self.delivered = [inputs["history"]]
        self.pending = list(inputs["batches"])
        self.pipe = None
        self.last_read = None
        self.rows_total = 0  # rows in the source after the latest write
        self.write_stats: list[dict] = []  # traced: per-write sink counters

    # -- shims for the traced run: inner public calls, on the caller's name --

    def shim_targets(self):
        return [
            (medallion_mod, "run_incremental_batch", "watermark.run_incremental_batch"),
            (watermark.WatermarkStore, "advance", "watermark.advance"),
            (medallion_mod, "idempotent_overwrite_day_partitions", "sinks.write"),
            (medallion_mod, "atomic_overwrite", "sinks.write"),
            (medallion_mod, "build_dim", "scd.build_dim"),
            (medallion_mod, "build_fact", "scd.build_fact"),
        ]

    # -- set-up ---------------------------------------------------------------

    def setup(self, rep: int) -> None:
        """Load the whole history through a fresh pipeline (one rep)."""
        if self.pipe is not None:
            shutil.rmtree(self.pipe.base)
        self.pipe = MedallionPipeline(self.spark, os.path.join(self.work, f"lake{rep}"))
        self._pipeline_pass()
        self.rows_total = gen.HIST_ROWS

    def _pipeline_pass(self) -> int:
        t = self.tracer
        pipe = self.pipe
        with t.span("medallion.ingest_bronze"):
            n = pipe.ingest_bronze(
                load_table(self.spark, self.src_root, "events"), "events", "ts",
                ["event_id"], INITIAL_WATERMARK, None, count_rows=True,
                partition_daily=True,
            )
        with t.span("medallion.build_silver"):
            silver = pipe.build_silver("events", silver_transform)
        with t.span("medallion.build_gold_dim"):
            dim_user = pipe.build_gold_dim("dim_user", silver, ["user_id"], ["tier"],
                                           "dim_user_key")
        with t.span("medallion.build_gold_dim"):
            dim_type = pipe.build_gold_dim("dim_event_type", silver, ["event_type"],
                                           ["category"], "dim_event_type_key")
        with t.span("medallion.build_gold_fact"):
            pipe.build_gold_fact(
                "fact",
                silver,
                {
                    "dim_user_key": (dim_user, {"user_id": "user_id"}),
                    "dim_event_type_key": (dim_type, {"event_type": "event_type"}),
                },
                ["event_id", "ts", "value"],
            )
        return n

    # -- timed operations --------------------------------------------------------

    def deliver(self) -> None:
        """Make the next batch visible in the source (input delivery, not
        timed)."""
        path = self.pending.pop(0)
        dest = os.path.join(self.inputs["src"], os.path.basename(path))
        os.replace(path, dest)
        self.delivered.append(dest)

    def write(self) -> tuple[int, str | None]:
        n = self._pipeline_pass()
        self.rows_total += gen.BATCH_ROWS
        if n != gen.BATCH_ROWS:
            return n, f"batch delivered {n} rows to bronze, expected {gen.BATCH_ROWS}"
        return n, None

    def read(self) -> tuple[int, str | None]:
        p = self.pipe
        with self.tracer.span("medallion.star_query"):
            rows = (
                p.read("gold", "fact")
                .join(p.read("gold", "dim_user"), "dim_user_key")
                .join(p.read("gold", "dim_event_type"), "dim_event_type_key")
                .groupBy("tier", "category")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("value").cast("decimal(18,2)")).cast("string").alias("v"),
                )
                .collect()
            )
        self.last_read = sorted(tuple(r) for r in rows)
        total = sum(r[2] for r in self.last_read)
        if total != self.rows_total:
            return 0, f"star query counted {total} events, expected {self.rows_total}"
        return 0, None  # reads deliver no new input rows

    def rounds(self, warmup: bool = False):
        """One closed-loop round: a write, then the reads. The warm-up round
        has one read."""
        yield "write", self.write, self.deliver
        for _ in range(1 if warmup else READS_PER_ROUND):
            yield "read", self.read, None

    # -- checks and metrics -----------------------------------------------------

    def final_checks(self) -> list[str]:
        gold = {
            "dim_user": self.pipe.path("gold", "dim_user"),
            "dim_event_type": self.pipe.path("gold", "dim_event_type"),
            "fact": self.pipe.path("gold", "fact"),
        }
        problems = oracles.medallion_check(self.delivered, gold, self.threads)
        # Every round ends with a read, so last_read is of the final gold state.
        if self.last_read != oracles.star_query_expected(self.delivered, self.threads):
            problems.append("gold star query differs from the DuckDB aggregate")
        return problems

    def input_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.delivered)

    def state_bytes(self) -> int:
        return tracing.tree_bytes(self.pipe.base)

    def before_op(self, kind: str):
        if kind == "write" and self.tracer.enabled:
            return tracing.tree_stats(self.pipe.base)
        return None

    def after_op(self, kind: str, snap) -> None:
        if snap is not None:
            files, nbytes = tracing.written(snap, tracing.tree_stats(self.pipe.base))
            self.write_stats.append({"files": files, "bytes": nbytes,
                                     "input_bytes": os.path.getsize(self.delivered[-1])})

    def start_timed(self) -> None:
        self.write_stats.clear()

    def report(self) -> dict:
        return {}

    def layer_metrics(self, agg) -> dict:
        """Per-layer metrics of the timed traced rounds (see README)."""
        writes = max(1, agg.count("op.write"))
        rows = gen.BATCH_ROWS * writes
        m = {}
        for st in STAGES:
            m[f"medallion.{st}.share"] = agg.share(f"medallion.{st}")
            m[f"medallion.{st}.jobs"] = agg.jobs(f"medallion.{st}") / writes
            m[f"medallion.{st}.input_rows"] = agg.input_rows(f"medallion.{st}") / writes
        m["medallion.input_rows_per_batch_row"] = agg.input_rows("op.write") / rows
        m["scd.build_dim.share"] = agg.share("scd.build_dim")
        m["watermark.run_incremental_batch.share"] = agg.share("watermark.run_incremental_batch")
        m["watermark.advance.share"] = agg.share("watermark.advance")
        m["sinks.write.share"] = agg.share("sinks.write")
        ws = self.write_stats or [{"files": 0, "bytes": 0, "input_bytes": 1}]
        m["sinks.files_written"] = sum(w["files"] for w in ws) / len(ws)
        m["sinks.bytes_written"] = sum(w["bytes"] for w in ws) / len(ws)
        m["sinks.bytes_rewritten_per_input_byte"] = (
            sum(w["bytes"] for w in ws) / max(1, sum(w["input_bytes"] for w in ws))
        )
        return m

