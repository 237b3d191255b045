"""Names and units of the per-layer metrics a traced run reports.

Layer times are reported as shares of the timed op wall time (unit
``ratio``), so a layer a workload never calls reads 0 there, not a time.
The ``spark.*`` engine metrics are per round of the closed loop.
"""

MEDALLION_STAGES = ("ingest_bronze", "build_silver", "build_gold_dim", "build_gold_fact")

LAYER_UNITS = {
    # Spark engine and host, every workload
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_s": "s",
    "spark.write.jobs": "count",
    "spark.write.driver_s": "s",
    "spark.read.jobs": "count",
    "spark.read.driver_s": "s",
    "host.cpu_busy_frac": "ratio",
    "host.steal_pct": "%",
    "trace.overhead_frac": "ratio",
    "trace.unattributed_jobs": "count",
    # plans.medallion, operators.scd / cdc
    **{f"medallion.{s}.share": "ratio" for s in MEDALLION_STAGES},
    **{f"medallion.{s}.jobs": "count" for s in MEDALLION_STAGES},
    **{f"medallion.{s}.input_rows": "rows" for s in MEDALLION_STAGES},
    "medallion.input_rows_per_batch_row": "ratio",
    "scd.build_dim.share": "ratio",
    # sources.watermark, sources.sinks
    "watermark.run_incremental_batch.share": "ratio",
    "watermark.advance.share": "ratio",
    "sinks.write.share": "ratio",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.bytes_rewritten_per_input_byte": "ratio",
    # plans.queries, operators.dedup / text
    "queries.callable.share": "ratio",
    "queries.action.share": "ratio",
    "dedup.connected_components.share": "ratio",
    "dedup.cc_rounds": "count",
    "dedup.candidate_pairs": "count",
    "dedup.pair_precision": "ratio",
    # streaming.pipeline
    "streaming.drain.share": "ratio",
    "streaming.apply.share": "ratio",
    "streaming.overhead.share": "ratio",
    "streaming.micro_batches": "count",
    # operators.similarity
    "similarity.ivf_index_upsert.share": "ratio",
    "similarity.ivf_index_probe.share": "ratio",
    "similarity.cells_rewritten_per_upsert": "count",
    "similarity.rows_scanned_per_result": "ratio",
    "similarity.index_files": "count",
    "similarity.recall": "ratio",
}

PER_LAYER = tuple(LAYER_UNITS)
