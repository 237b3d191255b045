from __future__ import annotations

import os
import sys
from contextlib import contextmanager
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
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


@pytest.fixture(scope="session")
def spark():
    from incremental_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@contextmanager
def job_group(spark, name):
    """Run the block's jobs under job group ``name``; on exit clear the
    group so later jobs on this thread belong to none."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def normalize(rows, colnames):
    """Order-insensitive, column-name-sorted canonical form (mirrors the
    driver's compare: sort columns by name, then hash values)."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    canon = []
    for row in rows:
        canon.append(tuple(_canon_val(row[i]) for i in order))
    return sorted(canon, key=repr)


def _canon_val(v):
    import datetime
    import decimal
    import math

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_val(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def assert_query_matches_oracle(spark, duck, name, sf_dir=SF_DIR):
    """Run QUERIES[name] on Spark and ORACLE[name] on DuckDB; exact-compare."""
    from incremental_data_pipeline_spark.plans.queries import ORACLE, QUERIES

    sdf = QUERIES[name](spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    res = duck.execute(ORACLE[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s = normalize(spark_rows, spark_cols)
    d = normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} value mismatches; first 3: {mismatches[:3]}"
