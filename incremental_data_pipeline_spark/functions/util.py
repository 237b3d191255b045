"""Plan-shaping utilities shared by operators, and the one mechanism for
each session-level concern: threads that submit Spark jobs
(``run_concurrently``), temporary conf overrides (``scoped_conf``) and
scratch directories (``scratch_dir``)."""

from __future__ import annotations

import math
import os
import urllib.parse
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def lit_array(values, sql_type: str) -> Column:
    """One-call literal for a (possibly nested) numeric array.

    ``F.lit(python_list)`` builds the literal ELEMENT BY ELEMENT over
    py4j — a 16×64 projection matrix costs ~1k driver round-trips
    (~1 s of pure declaration time per use, measured r10) before the
    query is even analyzed. Rendering the same values as one SQL
    ``array(...)`` string and CASTing to the exact target type is a
    single round-trip and a few ms of parsing; the resulting literal
    value is identical, so plans and results are unchanged.

    Ints are emitted with the ``L`` (BIGINT) suffix and floats with the
    ``D`` (DOUBLE) suffix via ``repr`` (shortest round-trip — Spark's
    parser lands on the bit-identical double); the outer CAST restores
    the caller's exact element type (e.g. array<int>).
    """

    def render(v) -> str:
        if isinstance(v, (list, tuple)):
            return "array(" + ",".join(render(x) for x in v) + ")"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            # Outside int64 the L suffix would be an opaque parse error
            # downstream; fail here with the actual offending value.
            if not -(2**63) <= v < 2**63:
                raise ValueError(f"lit_array: int out of BIGINT range: {v}")
            return f"{v}L"
        if isinstance(v, float):
            # repr(nan/inf) renders invalid SQL ('nanD'/'infD'); surface a
            # descriptive error instead of Spark's parser traceback.
            if not math.isfinite(v):
                raise ValueError(f"lit_array: non-finite float: {v!r}")
            return f"{v!r}D"
        raise TypeError(f"lit_array: unsupported element {type(v).__name__}")

    return F.expr(f"CAST({render(list(values))} AS {sql_type})")


def lit_in(name: str, values) -> Column:
    """``F.col(name).isin(values)`` in one call: the list is rendered as
    one SQL ``IN`` list. ``isin`` sends each value over py4j on its own
    (about 0.45 ms apiece: 4.8 s for 10,000 keys); parsing the rendered
    list takes about 10 ms, and above ten values Catalyst turns it into
    the same hash-set ``INSET``. ``name`` is dotted as in ``F.col``.
    Values are ints, strings (escaped as the default parser unescapes
    them), bools and dates; an empty list is false."""
    import datetime

    def render(v) -> str:
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return str(v)
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
            return f"DATE'{v.isoformat()}'"
        raise TypeError(f"lit_in: unsupported value {type(v).__name__}")

    values = list(values)
    if not values:
        return F.lit(False)
    col = ".".join("`" + part.replace("`", "``") + "`" for part in name.split("."))
    return F.expr(f"{col} IN ({','.join(map(render, values))})")


# Per-task input floors for data-sized fan_out (r11): a fan-out task that
# holds too few source bytes pays more in fixed per-task cost than its
# compute is worth — ~50-100 ms of Python worker handshake + Arrow framing
# for a mapInPandas task, a few ms of scheduling/codegen for a JVM
# expression task. Sizing the repartition by ceil(input_bytes / floor)
# instead of the core count makes the parallelism track DATA (the same
# rule adaptive_state_partitions applies to streaming state stores): a
# 1 MB payload table gets a handful of tasks on local[32] AND on a
# 4000-core cluster, while a 100 TB table is untouched (its scan already
# has more splits than any target). The values encode the measured
# local break-even (r10 bench: 32 Arrow tasks over ~600 KB ran 3x slower
# than 8).
FAN_OUT_ARROW_BPT = 128 * 1024
FAN_OUT_CHEAP_MAP_BPT = 256 * 1024


def local_path(uri: str) -> str | None:
    """The local path a ``file:`` URI names, percent-decoded, in either of
    Spark's spellings (``file:/a%20b`` from ``_metadata.file_path``,
    ``file:///a%20b`` from ``inputFiles``); None for another scheme."""
    if not uri.startswith("file:"):
        return None
    return urllib.parse.unquote(urllib.parse.urlparse(uri).path)


def _input_bytes(df: DataFrame, files: list[str]) -> int:
    """On-disk bytes behind a scan, from the driver-side file list."""
    total = 0
    for uri in files:
        path = local_path(uri)
        if path is None:
            return -1  # non-local URI — caller falls back to core count
        try:
            total += os.path.getsize(path)
        except OSError:
            return -1
    return total


def fan_out(df: DataFrame, bytes_per_task: int | None = None) -> DataFrame:
    """Ensure enough partitions before a compute-dense narrow map
    (per-row hashing, shingling, vector math, Arrow-batched decode).

    Parquet splits are byte-based (`spark.sql.files.maxPartitionBytes`), so a
    small-bytes-but-compute-heavy table (5k documents in one 600 KB file)
    scans as ONE partition and serializes the expensive map on one core. A
    round-robin repartition of the small base table is a cheap shuffle that
    unlocks parallelism. No-op when the scan is already parallel enough
    (the 100 TB case: thousands of input splits), so the extra shuffle never
    appears where it would actually hurt.

    The target is the core count (``defaultParallelism``).
    ``bytes_per_task`` caps it by data volume: the target becomes
    min(cores, ceil(input_bytes / bytes_per_task)), so tiny inputs get few
    tasks regardless of cluster width (per-task fixed cost otherwise
    dominates — the r10 ``multimodal_ahash`` inverse-scaling regression).
    Callers pick the floor by the map's per-byte cost: FAN_OUT_ARROW_BPT
    for Python-boundary maps, FAN_OUT_CHEAP_MAP_BPT for cheap JVM hash
    maps; omit it for maps whose per-byte compute justifies a task per
    core even on KB-scale input (shingle explosion, vector scoring).

    Tasks are sized by INPUT bytes only, also for maps whose output is
    larger than their input — ``attach_wav_audio`` (two PCM bytes per text
    byte) and the ×depth explode in ``cms_counters``. The floor prices the
    per-task fixed cost against the bytes a task reads, not the rows it
    emits.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # Probe parallelism via the scan's file list — driver-side metadata,
    # no RDD conversion (df.rdd forces a full physical planning pass per
    # call). File count under-estimates split count for large files, which
    # only means the repartition no-ops sooner — the 100 TB case (many
    # files) skips the shuffle either way. Non-file plans (in-memory test
    # frames) report zero files and simply take the cheap repartition.
    files = df.inputFiles()
    if bytes_per_task and files:
        nbytes = _input_bytes(df, files)
        if nbytes >= 0:
            want = max(1, -(-nbytes // bytes_per_task))  # ceil
            target = min(target, want)
    if len(files) >= target:
        return df
    return df.repartition(target)


def observation_result(obs, timeout_s: float = 5.0):
    """Fetch an ``Observation``'s metrics dict, or None if unavailable
    within ``timeout_s``.

    ``Observation.get`` blocks until SOME action has executed over the
    observed DataFrame — forever if the caller's sink never ran one, and
    the public API has no non-blocking probe. So run the supported
    blocking get on a daemon thread and give up after the timeout: the
    caller then falls back to recomputing the aggregate (one extra scan).
    In the common case (the action already ran) the get returns
    immediately; a timed-out getter thread is daemonic and holds nothing
    beyond the listener observe() already registered.
    """
    import threading

    result: list = []

    def fetch() -> None:
        try:
            result.append(obs.get)
        except Exception:
            pass  # e.g. Connect-mode restrictions — caller falls back

    t = threading.Thread(target=fetch, daemon=True, name="observation-probe")
    t.start()
    t.join(timeout_s)
    return result[0] if result else None


def run_concurrently(spark: SparkSession, fn, items: list) -> list:
    """``[fn(item) for item in items]`` with one thread per item, for
    independent Spark actions: a second job back-fills the executor slots
    the first one's task tail leaves idle (actions are only sequential
    because the driver calls them sequentially).

    The ``pool.map`` contract: results come back in ``items`` order, and
    the first failing item's exception is re-raised once every item has
    finished. Each thread runs under ``inheritable_thread_target(spark)``,
    so its jobs carry the caller's job group, description and tags.

    Concurrent catalog DDL (``saveAsTable``) is safe on the in-memory
    session catalog the engine uses, but not on an embedded-Derby Hive
    metastore, which allows one connection at a time.
    """
    with ThreadPoolExecutor(max_workers=max(1, len(items))) as pool:
        return list(pool.map(inheritable_thread_target(spark)(fn), items))


@contextmanager
def scoped_conf(spark: SparkSession, overrides: dict[str, str]):
    """Set the session conf ``overrides`` for the ``with`` block, then
    restore each key on exit or error: a key that was set gets its old
    value back, and one that was unset is unset again.

    The override is session-global while the block runs: a query declared
    or a job started on the same session from another thread inherits it.
    """
    saved = {key: spark.conf.get(key, None) for key in overrides}

    def apply(values: dict) -> None:
        for key, value in values.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)

    try:
        apply(overrides)
        yield
    finally:
        apply(saved)


_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """Per-invocation scratch dir under ONE per-process root with ONE
    atexit cleanup hook — repeated query invocations in a long-lived
    process (bench iterations, test sessions) previously stacked one
    rmtree handler each."""
    global _SCRATCH_ROOT
    import atexit
    import shutil
    import tempfile

    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="idps_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)
