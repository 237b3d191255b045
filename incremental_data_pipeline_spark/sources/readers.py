"""Table readers over the parquet fixture layout.

Mirrors the reference's scan surface (SURVEY §2.1 S5-S7): parquet scans,
SQL-over-files, catalog-table scans — all funnel into ``spark.read.parquet``
so Catalyst gets pushdown/pruning on every path.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as INT64 TIMESTAMP(NANOS) parquet — Spark 4 can only
    read those as raw int64 (spark.sql.legacy.parquet.nanosAsLong).

    The physical type matters: legacy INT96 timestamps ALSO surface as
    ``timestamp[ns]`` in pyarrow's schema, but Spark reads INT96 natively
    as TimestampType — flagging them here would apply an int64 ``div``
    to a real timestamp column and break analysis. So only INT64 columns
    whose arrow type is nanosecond qualify."""
    f = _first_data_file(path) if os.path.isdir(path) else path
    if f is None:
        return []
    try:
        schema = pq.read_schema(f)
        meta = pq.read_metadata(f)
    except Exception:
        return []
    import pyarrow as pa

    physical = {}
    if meta.num_row_groups > 0:
        rg = meta.row_group(0)
        for i in range(rg.num_columns):
            col = rg.column(i)
            physical[col.path_in_schema] = col.physical_type
    return [
        field.name
        for field in schema
        if isinstance(field.type, pa.TimestampType)
        and field.type.unit == "ns"
        and physical.get(field.name, "INT64") == "INT64"
    ]


def _scan_cache(spark: SparkSession) -> dict:
    """Session-scoped scan-metadata cache (r10 optimization).

    Driver-side schema inference (parquet footer read + DataSource
    resolution) costs ~100-140 ms per ``spark.read.parquet`` — paid once
    per table per QUERY DECLARATION, hundreds of times per bench run.
    A catalog/metastore (or an Iceberg/Delta manifest) exists precisely
    so repeated scans of the same immutable table skip that work; this
    cache is the same idea for the path-addressed fixtures. Only the
    resolved DataFrame HANDLE (logical plan + schema) is kept — zero
    rows are materialized, every action still scans the parquet — and
    entries are keyed on the file's stat (``_stat_key``) so any rewrite
    of the file misses. Stored as an attribute of the session object, so
    the cache dies with the session and never crosses engines."""
    cache = getattr(spark, "_idps_scan_cache", None)
    if cache is None:
        cache = {}
        spark._idps_scan_cache = cache
    return cache


def _first_data_file(path: str) -> str | None:
    """The name-sorted first data file under the directory ``path``,
    skipping the hidden names Spark's file index skips; None when there
    is none."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                return os.path.join(root, f)
    return None


def _stat_key(path: str) -> tuple | None:
    """Cache key for a table: the stat of the file, or for a directory the
    stat of its first data file (``_first_data_file``). None when not
    cacheable (missing paths must raise in the reader, not here). The
    inode and ctime catch a same-size file renamed over the old one with
    its mtime restored."""
    f = _first_data_file(path) if os.path.isdir(path) else path
    if f is None or not os.path.isfile(f):
        return None
    try:
        st = os.stat(f)
    except OSError:
        return None
    return (os.path.abspath(path), os.path.abspath(f), st.st_mtime_ns, st.st_size,
            st.st_ino, st.st_ctime_ns)


def _fixture_scan(spark: SparkSession, path: str) -> tuple[DataFrame, StructType, list[str]]:
    """The one scan of the fixture table ``path``, cached per session on
    its stat: the public DataFrame ``load_table`` returns, the
    pre-conversion schema a file stream over ``path`` needs, and the
    raw-nanos columns ``_normalize_ntz`` converts.

    A directory gains files in place, and a DataFrame keeps the file
    listing it was built with, so for a directory only the schema is
    cached: each call builds a fresh scan with it, which lists the files
    again and starts no schema-inference job. Replacing the first data
    file resolves the schema again."""
    cache, key = _scan_cache(spark), _stat_key(path)
    hit = cache.get(key) if key is not None else None
    if hit is not None and os.path.isdir(path):
        _, schema, nanos_cols = hit
        raw = _read_raw(spark, path, nanos_cols, schema)
        return _normalize_ntz(raw, nanos_cols), schema, nanos_cols
    if hit is not None:
        return hit
    nanos_cols = _nanos_ts_columns(path)
    raw = _read_raw(spark, path, nanos_cols)
    scan = (_normalize_ntz(raw, nanos_cols), raw.schema, nanos_cols)
    if key is not None:
        cache[key] = scan
    return scan


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (reference: silver_notebook.py:7-9 parquet scan).

    Nanosecond-precision timestamp columns are read as raw nanos and
    truncated to Spark's microsecond TimestampType (matching DuckDB's own
    ns→µs truncation), keeping the public schema engine-agnostic."""
    return _fixture_scan(spark, os.path.join(sf_dir, f"{name}.parquet"))[0]


def _read_raw(
    spark: SparkSession, path: str, nanos_cols: list[str], schema: StructType | None = None
) -> DataFrame:
    """``spark.read.parquet(path)`` with the ``nanos_cols`` as raw int64,
    with ``schema`` when it is known (no inference job).

    Sets ``nanosAsLong`` on the session, which needs it even when not
    built by ``session.get_spark`` (e.g. a bare ``SparkSession``). A
    scoped override would not do: the scan reads the setting again
    whenever the returned DataFrame runs."""
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def _normalize_ntz(df: DataFrame, nanos_cols: list[str]) -> DataFrame:
    """The one timestamp rule for every scan of a table, batch or stream:
    truncate the raw-int64 ``nanos_cols`` (``_nanos_ts_columns``) to
    microsecond TimestampType (matching DuckDB's own ns→µs truncation),
    then cast TIMESTAMP_NTZ columns to session-UTC TimestampType.

    Parquet timestamps written with isAdjustedToUTC=false surface as
    TIMESTAMP_NTZ in Spark 4, which rejects epoch casts (``cast(ts as
    long)``) and would fork the engine's public schema from the one the
    nanos path produces. With the session pinned to UTC the cast is a
    pure re-tag (identical wall-clock/epoch values, matching DuckDB's
    naive-UTC reading), so every downstream operator sees one timestamp
    type regardless of how the fixture was written."""
    for c in nanos_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for field in df.schema:
        if field.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_table_range(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_col: str,
    lo,
    hi,
) -> DataFrame:
    """Range-pruned incremental scan over the (lo, hi] watermark window —
    the 100 TB shape of the extract.

    A filter on the µs-converted timestamp column is an expression over the
    raw int64 nanos, so it is NOT pushdown-eligible: the scan would read
    every row group of a 100 TB source each batch. Here the window bounds
    are pushed as plain int64 comparisons on the RAW nanos column (parquet
    row-group min/max pruning applies), then the exact converted-column
    filter runs on the survivors. The raw lower bound is deliberately
    coarse (truncation-safe superset); the exact filter restores (lo, hi]
    precisely, so semantics match load_table + watermark_range while the
    scan skips every row group outside the window.

    For non-nanos timestamp columns the plain filter already pushes down
    and this degrades to exactly that.
    """
    import calendar

    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos_cols = _nanos_ts_columns(path)

    def _micros(dt) -> int:
        return calendar.timegm(dt.timetuple()) * 1_000_000 + dt.microsecond

    if ts_col in nanos_cols:
        df = _read_raw(spark, path, nanos_cols)
        # Coarse raw-nanos bounds (pushed): lo is a superset boundary
        # because ns -> µs truncation maps (lo_µs*1000, lo_µs*1000+999]
        # onto lo_µs; hi's bound is exact under truncation.
        df = df.filter(
            (F.col(ts_col) > F.lit(_micros(lo) * 1000))
            & (F.col(ts_col) < F.lit((_micros(hi) + 1) * 1000))
        )
        df = _normalize_ntz(df, nanos_cols)
    else:
        df = load_table(spark, sf_dir, name)
    # Exact window on the public (converted) column.
    return df.filter((F.col(ts_col) > F.lit(lo)) & (F.col(ts_col) <= F.lit(hi)))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def read_parquet_quarantine(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Parquet bronze ingestion that survives corrupt files — the parquet
    twin of the CSV/JSONL ``_corrupt_record`` quarantine. Parquet
    corruption is FILE-level (truncated footer, bad magic), so PERMISSIVE
    row quarantine doesn't apply: a single truncated object-store upload
    would otherwise fail the whole 100 TB batch.

    Returns ``(good, quarantined)``:
    - ``good``: the table read with ``ignoreCorruptFiles`` — Spark skips
      unreadable files instead of aborting the scan.
    - ``quarantined``: one row (file, error) per corrupt file, found by a
      DISTRIBUTED footer probe (Arrow-batched ``mapInPandas`` opening just
      each file's metadata — no data pages read), so the skip is LOGGED,
      never silent; append it to a dead-letter table for re-upload.

    The probe lists ``*.parquet`` under ``path`` driver-side (the same
    listing Spark's own file index performs) and probes footers on
    executors, so cost scales with file COUNT across the cluster, not
    bytes.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) or sorted(
        glob.glob(path)
    )
    listing = spark.createDataFrame([(f,) for f in files], "file string")

    probe_schema = StructType(
        [StructField("file", StringType()), StructField("error", StringType())]
    )

    def probe(batches):
        import pandas as pd  # noqa: PLC0415 — executor-side import
        import pyarrow.parquet as pq_  # noqa: PLC0415

        for pdf in batches:
            bad_files, errors = [], []
            for f in pdf["file"]:
                try:
                    pq_.ParquetFile(f)  # footer parse only
                except Exception as exc:  # noqa: BLE001 — any unreadable file
                    bad_files.append(f)
                    errors.append(f"{type(exc).__name__}: {exc}"[:500])
            yield pd.DataFrame({"file": bad_files, "error": errors})

    quarantined = listing.mapInPandas(probe, probe_schema)
    good = spark.read.option("ignoreCorruptFiles", "true").parquet(path)
    return good, quarantined


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register fixture tables as temp views for the SQL API path
    (reference: gold_dim_branch.py:32-37 `SELECT ... FROM PARQUET.path`)."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)


def read_jsonl_source(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
) -> DataFrame:
    """JSON-lines ingestion source — the lingua franca of raw training-data
    drops (one JSON object per line, splittable, appendable).

    Same discipline as the CSV source: explicit schema (at 100 TB schema
    inference is an extra full scan and a silent-drift hazard), PERMISSIVE
    mode with malformed rows quarantined in ``_corrupt_record`` so
    ingestion never silently drops data. JSON scans get column pruning from
    Catalyst (only the projected fields are parsed); for hot pipelines land
    the bronze copy as parquet so later stages get real pushdown.
    """
    reader = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv_source(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV ingestion source (reference S1: ADF Copy of SalesData.csv into the
    SQL landing table — docs/copy.PNG, create_table_query.sql:1-15).

    Handles the dirty-data traits of the reference corpus (SURVEY §1.3):
    quoted fields with embedded commas, a BOM on the header row (Spark's
    UTF-8 reader strips it when ``encoding`` is default), and explicit
    schemas instead of inference — at 100 TB, inferSchema is an extra full
    scan, and a drifting inferred type silently corrupts downstream tables.
    Malformed rows are quarantined in ``_corrupt_record`` (PERMISSIVE) so
    ingestion never drops data silently.
    """
    reader = (
        spark.read.option("header", str(header).lower())
        .option("quote", '"')
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")  # small/dev files only
    return reader.csv(path)
