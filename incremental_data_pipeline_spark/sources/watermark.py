"""High-water-mark watermark state — the reference's CDC control plane.

Rebuilds watermark_table.sql + stored_procedure.sql + the ADF
Lookup→Copy→Update flow (docs/incremental_load.PNG) as a tiny state store +
a batch runner:

- state is a 1-row parquet table (like the reference's 1-row SQL table);
- a batch processes the half-open window ``(last_load, current_load]``;
- the watermark advances ONLY after the batch's writes succeed
  (write-after-commit ordering ⇒ at-least-once; pair with an idempotent
  sink for effectively-exactly-once). The reference's sproc had
  BEGIN TRANSACTION without COMMIT (SURVEY §2.9 #6) — here the advance is
  the sinks directory swap.
"""

from __future__ import annotations

import datetime
import json
import os
import urllib.parse
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from incremental_data_pipeline_spark.functions.util import lit_in, observation_result
from incremental_data_pipeline_spark.operators.cdc import watermark_range
from incremental_data_pipeline_spark.sources.readers import _scan_cache
from incremental_data_pipeline_spark.sources.sinks import recover_interrupted_swap, swap_in

_INTEGRAL = ("byte", "short", "integer", "long")
_UTC_ZONES = ("UTC", "Etc/UTC", "GMT", "Etc/GMT", "Z", "+00:00", "UCT", "Zulu")


class WatermarkStore:
    """1-row state table holding the last successfully loaded watermark.

    Control-plane state, not data: reads/writes go through driver-side
    pyarrow (same parquet-directory layout a Spark scan reads), so a batch
    spends zero Spark jobs on its bookkeeping — at one job every few
    hundred ms of scheduler overhead, the control plane would otherwise
    cost as much as small batches themselves.
    """

    def __init__(self, spark: SparkSession, path: str, initial: Any):
        self.spark = spark
        self.path = path
        self.initial = initial

    def read(self) -> Any:
        """Reference: ADF Lookup of last_load (watermark_table.sql:1-4).
        A swap that crashed between its renames is repaired first, so it
        reads as the last advanced value, never as ``initial``."""
        recover_interrupted_swap(self.path)
        if not os.path.exists(self.path):
            return self.initial
        import pyarrow.parquet as pq

        return pq.read_table(self.path).column("last_load")[0].as_py()

    def advance(self, value: Any) -> None:
        """Reference: UpdateWatermarkTable sproc (stored_procedure.sql:1-12),
        minus its missing-COMMIT bug — the new value is written by pyarrow
        (no Spark job) into a fresh directory that ``sinks.swap_in`` renames
        over the old one."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        def fill(tmp: str) -> None:
            os.makedirs(tmp)
            pq.write_table(
                pa.table({"last_load": [value]}), os.path.join(tmp, "part-0.parquet")
            )

        swap_in(self.path, fill)


def run_incremental_batch(
    source: DataFrame,
    ts_col: str,
    store: WatermarkStore,
    sink: Callable[[DataFrame], None],
    current_load: Any | None = None,
    count_rows: bool = True,
) -> int:
    """One incremental load: extract ``(last_load, current_load]``, deliver
    to the sink, then advance the watermark. Returns rows delivered.

    ``current_load=None`` means "everything newer than the watermark": the
    batch is the OPEN window ``ts > last_load`` and the watermark advances
    to the max(ts) OBSERVED on the sink's own action — the reference's
    second ADF Lookup (a full extra source scan) collapses into a metric
    of the batch plan itself, which is the shape that matters at 100 TB.
    An explicit ``current_load`` keeps the closed-window behavior.

    The range filter is a plain comparison and shows up in the scan's
    PushedFilters, but it skips no row groups for the usual sources:
    Spark 4.1 lists a TIMESTAMP_NTZ predicate (a naive pyarrow timestamp)
    without applying it to row groups, and Spark writes engine tables'
    timestamps as INT96, which carry no statistics. So the batch skips
    whole FILES instead: each source file whose parquet footer puts every
    ``ts_col`` value at or below the watermark is dropped with a filter on
    ``_metadata.file_path``, which Spark applies when it lists the files
    (``_settled_files``). An append-only source read as a directory then
    scans only the files delivered since the last batch: on the 100k-row
    benchmark source bronze read about 350 rows per 100-row batch instead of
    200,733 (its merge scans the batch twice). If ``ts_col``
    is a DERIVED column (e.g. the µs conversion of a raw-nanos source),
    no file is skipped and the comparison is not even pushed — feed a
    source built by ``readers.load_table_range`` instead, which pushes
    the window as raw int64 bounds and re-applies the exact filter
    post-conversion.

    Sink contract when ``count_rows=True``: the row count is observed on
    the batch the sink receives, so the cheap path assumes the sink runs
    at least one Spark action over ``batch`` itself (every sink in
    ``sources.sinks`` does). A sink that skips its write or acts on a
    re-derived DataFrame leaves the observation empty — that case falls
    back to one extra ``batch.count()`` instead of blocking forever.
    """
    from pyspark.sql import Observation

    last = store.read()
    settled = _settled_files(source, ts_col, last)
    if settled:
        source = source.filter(~lit_in("_metadata.file_path", settled))
    open_window = current_load is None
    if open_window:
        batch = source.filter(F.col(ts_col) > F.lit(last))
    else:
        batch = watermark_range(source, ts_col, last, current_load)
    # Count (and, for the open window, the new watermark) via an
    # Observation piggybacked on the sink's own action: zero extra scans,
    # and the numbers reported are what the sink actually saw (a re-scan
    # after the write could diverge if the source gained rows).
    obs = Observation()
    batch = batch.observe(
        obs, F.count(F.lit(1)).alias("n"), F.max(ts_col).alias("new_wm")
    )
    sink(batch)
    # Bounded wait: Observation.get blocks forever if the sink never
    # executed an action over the observed batch, so probe it on a timed
    # daemon thread (supported API only) and recompute on timeout.
    metrics = observation_result(obs, timeout_s=5.0)
    if metrics is not None:
        n, new_wm = metrics["n"], metrics["new_wm"]
    else:
        n, new_wm = batch.agg(
            F.count(F.lit(1)).alias("n"), F.max(ts_col).alias("new_wm")
        ).first()
    if open_window:
        if new_wm is None:
            return 0  # empty batch: nothing delivered, watermark unchanged
        store.advance(new_wm)
    else:
        store.advance(current_load)
    return n if count_rows else -1


def _scan_column(source: DataFrame, ts_col: str) -> tuple[str, str] | None:
    """The parquet column ``ts_col`` is read from, and its Spark type name,
    when ``ts_col`` is that column as scanned, or its TIMESTAMP_NTZ ->
    timestamp re-tag (``readers._normalize_ntz``), over filters only.
    None for any other column: its footer statistics bound nothing."""
    plan = source.select(ts_col)._jdf.queryExecution().optimizedPlan()
    if plan.nodeName() != "Project":
        return None
    expr = plan.projectList().apply(0)
    if expr.getClass().getSimpleName() == "Alias":
        cast = expr.child()
        if cast.getClass().getSimpleName() != "Cast" or cast.dataType().typeName() != "timestamp":
            return None
        expr = cast.child()
        if expr.dataType().typeName() != "timestamp_ntz":
            return None
    if expr.getClass().getSimpleName() != "AttributeReference":
        return None
    node = plan.child()
    while node.nodeName() == "Filter":
        node = node.child()
    if node.nodeName() != "LogicalRelation" or not node.outputSet().contains(expr):
        return None
    relation = node.relation()
    if (
        relation.getClass().getSimpleName() != "HadoopFsRelation"
        or relation.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
    ):
        return None
    return expr.name(), expr.dataType().typeName()


def _footer_max(path: str, column: str) -> tuple[str, int] | None:
    """The largest value of ``column`` in the parquet file at ``path``, by
    its footer's row-group statistics: ``("int", v)``, or ``("utc", µs)``
    / ``("ntz", µs)`` for a UTC-adjusted or wall-clock timestamp. None
    when the file lacks the column, has no row group, or one lacks
    min/max statistics."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    names = [md.schema.column(i).path for i in range(md.num_columns)]
    if column not in names or md.num_row_groups == 0:
        return None
    i = names.index(column)
    if md.schema.column(i).physical_type not in ("INT32", "INT64"):
        return None
    logical = json.loads(md.schema.column(i).logical_type.to_json())
    scale = {"milliseconds": 1000, "microseconds": 1}.get(logical.get("timeUnit"))
    if logical["Type"] == "Timestamp" and scale is not None:
        kind = "utc" if logical["isAdjustedToUTC"] else "ntz"
    elif logical["Type"] == "None" or (logical["Type"] == "Int" and logical["isSigned"]):
        kind, scale = "int", 1
    else:
        return None
    top = None
    for g in range(md.num_row_groups):
        stats = md.row_group(g).column(i).statistics
        if stats is None or not stats.has_min_max:
            return None
        top = stats.max_raw if top is None else max(top, stats.max_raw)
    return kind, top * scale


def _settled_files(source: DataFrame, ts_col: str, last: Any) -> list[str]:
    """The files of ``source`` whose every ``ts_col`` value is at or below
    the watermark ``last`` by their parquet footers, spelled as
    ``_metadata.file_path`` spells them (``file:/...``; ``inputFiles``
    gives ``file:///...``), for ``run_incremental_batch`` to skip.

    Nothing is skipped unless ``ts_col`` is a scanned parquet column or
    its NTZ re-tag (``_scan_column``) and ``last`` is an int against an
    integer column or a datetime against a timestamp one. A file is kept
    when it is not local or ``_footer_max`` has no bound for it. ``last``
    converts to µs as ``F.lit`` converts it. A wall-clock maximum (an
    NTZ footer, or an NTZ column) reads in the session time zone, as the
    re-tag reads it, and is compared only in a UTC session: elsewhere an
    offset change can move a row past the file's maximum. Footers are
    cached on the file's stat."""
    target = _scan_column(source, ts_col)
    if target is None:
        return []
    column, spark_type = target
    if isinstance(last, datetime.datetime) and spark_type.startswith("timestamp"):
        bound = TimestampType().toInternal(last)
        utc = source.sparkSession.conf.get("spark.sql.session.timeZone") in _UTC_ZONES
        kinds = ("utc", "ntz") if utc else ("utc",) if spark_type == "timestamp" else ()
    elif isinstance(last, int) and not isinstance(last, bool) and spark_type in _INTEGRAL:
        bound, kinds = last, ("int",)
    else:
        return []
    cache = _scan_cache(source.sparkSession)
    settled = []
    for uri in source.inputFiles():
        if not uri.startswith("file:///"):
            continue
        path = urllib.parse.unquote(uri[len("file://"):])
        try:
            st = os.stat(path)
        except OSError:
            continue
        key = ("footer_max", path, column, st.st_mtime_ns, st.st_size, st.st_ino, st.st_ctime_ns)
        if key not in cache:
            cache[key] = _footer_max(path, column)
        top = cache[key]
        if top is not None and top[0] in kinds and top[1] <= bound:
            settled.append("file:/" + uri[len("file:///"):])
    return settled
