"""Sources: CSV ingestion (dirty-data traits), layer catalog, sinks."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_csv_source_quoted_commas_and_bom(spark, tmp_path):
    """Reference corpus traits (SURVEY §1.3): BOM on header, embedded commas
    in quoted names — both must parse losslessly with an explicit schema."""
    from incremental_data_pipeline_spark.sources.readers import read_csv_source

    p = tmp_path / "sales.csv"
    p.write_bytes(
        "﻿Branch_ID,BranchName,Revenue\n"
        'BR1,"AMC, Inc",100\n'
        'BR2,"Austin ""South"" Lot",200\n'.encode()
    )
    df = read_csv_source(
        spark, str(p), "Branch_ID string, BranchName string, Revenue bigint"
    )
    rows = {r["Branch_ID"]: r for r in df.collect()}
    assert rows["BR1"]["BranchName"] == "AMC, Inc"
    assert rows["BR2"]["BranchName"] == 'Austin "South" Lot'
    assert rows["BR1"]["Revenue"] == 100


def test_csv_source_quarantines_malformed(spark, tmp_path):
    from incremental_data_pipeline_spark.sources.readers import read_csv_source

    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\nnot_an_int,3\n")
    df = read_csv_source(
        spark, str(p), "a bigint, b bigint, _corrupt_record string"
    ).cache()
    try:
        good = df.filter(F.col("_corrupt_record").isNull())
        bad = df.filter(F.col("_corrupt_record").isNotNull())
        assert good.count() == 1 and bad.count() == 1
        assert bad.first()["_corrupt_record"].startswith("not_an_int")
    finally:
        df.unpersist()


def test_layer_catalog_roundtrip_and_exists_gate(spark, tmp_path):
    """S7/S12/S13: layered namespaces, tableExists bootstrap gate, external
    path-based tables (reference S10 overwrite+path+saveAsTable)."""
    from incremental_data_pipeline_spark.sources.catalog import LayerCatalog

    cat = LayerCatalog(spark)
    try:
        assert not cat.exists("gold", "dim_demo")
        src = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
        cat.write(src, "gold", "dim_demo", path=str(tmp_path / "dim_demo"))
        assert cat.exists("gold", "dim_demo")
        assert sorted(tuple(r) for r in cat.read("gold", "dim_demo").collect()) == [
            (1, "a"),
            (2, "b"),
        ]
        assert os.path.exists(tmp_path / "dim_demo")  # external location
    finally:
        cat.drop("gold", "dim_demo")


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """Partition-overwrite layout + predicate on the partition
    column => the scan lists only matching directories (PartitionFilters in
    the plan, not a post-scan filter). The partition-pruning path that makes
    time-partitioned 100 TB tables readable per-batch."""
    from incremental_data_pipeline_spark.sources.readers import load_table
    from incremental_data_pipeline_spark.sources.sinks import overwrite_partitions
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    overwrite_partitions(ev, path, ["day"])

    got = spark.read.parquet(path).filter(F.col("day") == "2024-01-05")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan, plan
    expect = ev.filter(F.col("day") == "2024-01-05").count()
    assert got.count() == expect

    # idempotence: re-writing one day's slice touches only that partition
    one_day = ev.filter(F.col("day") == "2024-01-05")
    overwrite_partitions(one_day, path, ["day"])
    assert spark.read.parquet(path).count() == ev.count()


def test_watermark_range_pushdown_oracle(spark, duck):
    from tests.conftest import assert_query_matches_oracle

    assert_query_matches_oracle(spark, duck, "watermark_range_pushdown")


def test_range_scan_pushes_raw_nanos_bounds(spark):
    """load_table_range must push the window bounds into the parquet scan
    (PushedFilters: strict int64 bounds on a raw-nanos column, or
    GreaterThan/LessThanOrEqual on a native µs timestamp column — the
    fixture's timestamp unit decides which path runs) AND return exactly
    the same rows as the unpruned watermark filter."""
    import datetime

    from incremental_data_pipeline_spark.operators import cdc
    from incremental_data_pipeline_spark.sources.readers import load_table, load_table_range
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    lo, hi = datetime.datetime(2024, 1, 10), datetime.datetime(2024, 1, 20)
    pruned = load_table_range(spark, SF_DIR, "events", "ts", lo, hi)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThan(ts" in pushed
    assert "LessThan(ts" in pushed or "LessThanOrEqual(ts" in pushed

    plain = cdc.watermark_range(
        load_table(spark, SF_DIR, "events"), "ts", F.lit(lo), F.lit(hi)
    )
    assert pruned.count() == plain.count()
    ids_a = {r["event_id"] for r in pruned.select("event_id").collect()}
    ids_b = {r["event_id"] for r in plain.select("event_id").collect()}
    assert ids_a == ids_b


def test_csv_corrupt_row_quarantined(spark, tmp_path):
    """PERMISSIVE mode must capture malformed rows in _corrupt_record, not
    drop them silently."""
    from incremental_data_pipeline_spark.sources.readers import read_csv_source

    p = tmp_path / "dirty.csv"
    p.write_text('id,name\n1,"ok"\nnot_an_int,"bad"\n2,"fine"\n')
    df = read_csv_source(
        spark, str(p), schema="id INT, name STRING, _corrupt_record STRING"
    ).cache()
    assert df.count() == 3
    bad = df.filter("_corrupt_record IS NOT NULL").collect()
    assert len(bad) == 1 and "not_an_int" in bad[0]["_corrupt_record"]
    assert df.filter("_corrupt_record IS NULL").count() == 2
    df.unpersist()


def test_jsonl_corrupt_line_quarantined(spark, tmp_path):
    from incremental_data_pipeline_spark.sources.readers import read_jsonl_source

    p = tmp_path / "dirty.jsonl"
    p.write_text('{"id": 1, "name": "ok"}\n{broken json!!\n{"id": 2, "name": "fine"}\n')
    df = read_jsonl_source(
        spark, str(p), schema="id BIGINT, name STRING, _corrupt_record STRING"
    ).cache()
    assert df.count() == 3
    bad = df.filter("_corrupt_record IS NOT NULL").collect()
    assert len(bad) == 1 and "broken" in bad[0]["_corrupt_record"]
    df.unpersist()


def test_parquet_quarantine_skips_and_logs_corrupt_files(spark, tmp_path):
    """A truncated and a garbage .parquet file must not fail the batch:
    good rows read exactly, both bad files logged with their errors."""
    import shutil

    from incremental_data_pipeline_spark.sources.readers import (
        load_table,
        read_parquet_quarantine,
    )
    from tests.conftest import SF_DIR

    land = tmp_path / "bronze"
    land.mkdir()
    src = os.path.join(SF_DIR, "nation.parquet")
    shutil.copy(src, land / "a.parquet")
    (land / "b.parquet").write_bytes(b"PAR1 this is rubbish")
    intact = open(src, "rb").read()
    (land / "c.parquet").write_bytes(intact[: len(intact) // 2])

    good, quarantined = read_parquet_quarantine(spark, str(land))
    want = load_table(spark, SF_DIR, "nation").count()
    assert good.count() == want
    rows = {os.path.basename(r["file"]): r["error"] for r in quarantined.collect()}
    assert set(rows) == {"b.parquet", "c.parquet"}
    assert all(e for e in rows.values())


def test_parquet_quarantine_clean_dir_is_empty(spark, tmp_path):
    import shutil

    from incremental_data_pipeline_spark.sources.readers import (
        read_parquet_quarantine,
    )
    from tests.conftest import SF_DIR

    land = tmp_path / "bronze"
    land.mkdir()
    shutil.copy(os.path.join(SF_DIR, "nation.parquet"), land / "a.parquet")
    good, quarantined = read_parquet_quarantine(spark, str(land))
    assert quarantined.count() == 0
    assert good.count() > 0


def test_int96_timestamps_not_misread_as_nanos(spark, tmp_path):
    """Legacy INT96 parquet timestamps surface as timestamp[ns] in arrow
    schemas but Spark reads them natively — the nanos-column probe must
    NOT flag them (it would div an actual timestamp by 1000)."""
    from incremental_data_pipeline_spark.functions.util import scoped_conf
    from incremental_data_pipeline_spark.sources.readers import (
        _nanos_ts_columns,
        load_table,
    )

    with scoped_conf(spark, {"spark.sql.parquet.outputTimestampType": "INT96"}):
        df = spark.sql("SELECT 1 AS id, TIMESTAMP '2024-01-01 00:00:00' AS ts")
        out = str(tmp_path / "t96.parquet")
        df.coalesce(1).write.parquet(out)
    assert _nanos_ts_columns(out) == []
    got = load_table(spark, str(tmp_path), "t96")
    assert got.schema["ts"].dataType.typeName() == "timestamp"
    assert got.count() == 1


def test_stream_and_range_reads_share_the_batch_schema(spark, tmp_path):
    """Batch, range and stream reads of one table show one schema: every
    INT64-nanos column becomes a timestamp (not just the one named ``ts``)
    and naive microsecond timestamps are re-tagged on every path."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from incremental_data_pipeline_spark.sources.readers import (
        load_table,
        load_table_range,
    )
    from incremental_data_pipeline_spark.streaming.pipeline import read_stream

    t0 = datetime.datetime(2024, 1, 1)
    times = [t0, t0 + datetime.timedelta(hours=1)]
    pq.write_table(
        pa.table(
            {
                "id": [1, 2],
                "ts": pa.array(times, pa.timestamp("ns")),
                "ts2": pa.array(times, pa.timestamp("ns")),
                "ts3": pa.array(times, pa.timestamp("us")),
            }
        ),
        str(tmp_path / "two_ns.parquet"),
    )
    batch = load_table(spark, str(tmp_path), "two_ns")
    assert {f.dataType.typeName() for f in batch.schema[1:]} == {"timestamp"}
    assert read_stream(spark, str(tmp_path), "two_ns").schema == batch.schema
    window = load_table_range(spark, str(tmp_path), "two_ns", "ts", t0, times[1])
    assert window.schema == batch.schema
    assert window.count() == 1


def test_scan_cache_misses_a_same_size_swap(spark, tmp_path):
    """A fixture file renamed over by a same-size file whose mtime was
    restored is a new table: the scan cache must not serve the old
    DataFrame (with the old schema) for it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incremental_data_pipeline_spark.sources.readers import load_table

    path, new = str(tmp_path / "t.parquet"), str(tmp_path / "new.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"b": [1, 2, 3]}), new)
    st = os.stat(path)
    assert os.path.getsize(new) == st.st_size
    os.replace(new, path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.path.getsize(path) == st.st_size
    assert load_table(spark, str(tmp_path), "t").columns == ["b"]


def test_directory_scan_resolves_its_schema_once(spark, tmp_path):
    """A directory table's schema is resolved once per session and the
    file listing stays fresh: a file added between two ``load_table``
    calls is read by the second call, which starts no Spark job (it ran
    one schema-inference job per call). Replacing the first data file is
    a new table and resolves the schema again."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from incremental_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import job_group

    table = tmp_path / "ev.parquet"
    table.mkdir()
    t0 = datetime.datetime(2024, 1, 1)

    def part(name, ids, **extra):
        cols = {"id": ids, "ts": [t0 + datetime.timedelta(hours=i) for i in ids], **extra}
        pq.write_table(pa.table(cols), str(table / name))

    part("part-00000.parquet", [1, 2])
    first = load_table(spark, str(tmp_path), "ev")
    assert first.count() == 2
    part("part-00001.parquet", [3, 4, 5])
    with job_group(spark, "dir_rescan"):
        second = load_table(spark, str(tmp_path), "ev")
        assert spark.sparkContext.statusTracker().getJobIdsForGroup("dir_rescan") == []
    assert second.schema == first.schema
    assert sorted(r["id"] for r in second.collect()) == [1, 2, 3, 4, 5]
    part("part-00000.parquet", [1, 2], tag=["a", "b"])
    third = load_table(spark, str(tmp_path), "ev")
    assert third.columns == ["id", "ts", "tag"]
    assert third.filter("tag = 'b'").count() == 1
