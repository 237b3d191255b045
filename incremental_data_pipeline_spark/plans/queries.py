"""Named query registry — the engine's public query surface.

Every operator from SURVEY §2 (plus the LLM-pipeline extensions) is exposed
here as a named query: a ``(spark, sf_dir) -> DataFrame`` callable in
``QUERIES`` with an ANSI-SQL twin in ``ORACLE`` that DuckDB runs on the same
parquet tables. The driver hash-compares the two at sf0.01.

Cross-engine determinism rules used throughout:
- money/quantity sums go through ``DECIMAL(18,2/4)`` (exact, order-independent)
  and are cast back to DOUBLE for a stable schema;
- single floating-point ops (one divide, one multiply) are IEEE-deterministic
  and left raw;
- every computed column is aliased identically in both engines (the driver
  sorts columns by name before hashing).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from incremental_data_pipeline_spark.functions.util import (
    run_concurrently,
    scoped_conf,
    scratch_dir,
)
from incremental_data_pipeline_spark.operators import cdc, relational, scd
from incremental_data_pipeline_spark.sources.readers import load_table
from incremental_data_pipeline_spark.sources.sinks import append_into, read_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query and (optionally) its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def dec_sum(col, alias: str, scale: int = 2):
    """Exact, order-independent sum of a double column: decimal-cast partial
    sums are associative/commutative, so the shuffle order can't change the
    result — which makes the value bit-identical to the DuckDB oracle."""
    return F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double").alias(alias)


# --------------------------------------------------------------------------
# Flagship: pricing summary (reference silver ad-hoc agg, silver_notebook.py:47-50,
# generalized to the TPC-H Q1 shape: filter → groupBy → multi-agg → sort).
# --------------------------------------------------------------------------


@query(
    "pricing_summary",
    """
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2)))) * 1000000 AS BIGINT)
           AS DOUBLE) / 1000000.0 AS sum_disc_price,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2)))
               * (1 + CAST(l_tax AS DECIMAL(4,2)))) * 1000000 AS BIGINT)
           AS DOUBLE) / 1000000.0 AS sum_charge,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Decimal arithmetic end-to-end: casting the 2-dp source doubles to
    # decimal is unambiguous, and decimal * / - / sum are exact, so the
    # result is bit-identical to the oracle regardless of shuffle order.
    #
    # The final decimal->double conversion is the ONE step the engines do
    # differently once the scaled value passes 2^53: Spark rounds the
    # exact decimal correctly (BigDecimal.doubleValue), DuckDB converts
    # the int128 payload to double and THEN divides by 10^scale — two
    # roundings, up to 1 ulp apart (caught by the sf1 headline mirror:
    # sum_charge, scale 6, crossed 2^53/10^6 ~ 9e9 first). Both sides
    # therefore shift the scale-6 sums into exact INTEGER micros (no
    # rounding anywhere) and perform one identical IEEE divide.
    price_d = F.col("l_extendedprice").cast("decimal(18,2)")
    one = F.lit(1).cast("decimal(4,2)")
    disc_price = price_d * (one - F.col("l_discount").cast("decimal(4,2)"))
    charge = disc_price * (one + F.col("l_tax").cast("decimal(4,2)"))

    def micros_exact(col: Column) -> Column:
        # BIGINT ceiling: per-group micros are ~5e17 at sf10, leaving
        # ~18x headroom before 2^63 — safe through ~sf150, NOT unbounded.
        # The decimal(30,6) widening plus the assert_true boundary guard
        # makes overflow fail LOUDLY instead of the non-ANSI long cast's
        # silent NULL (which would poison the hash gate undetectably).
        micros = F.sum(col).cast("decimal(30,6)") * F.lit(1000000).cast(
            "decimal(8,0)"
        )
        lo, hi = F.lit(-(2**63) + 1), F.lit(2**63 - 1)
        guarded = F.when(
            F.assert_true(
                micros.between(lo, hi),
                F.lit("micros_exact overflow: scale-6 sum exceeds BIGINT"),
            ).isNull(),
            micros,
        )
        return guarded.cast("long").cast("double") / F.lit(1000000.0)

    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", "sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            micros_exact(disc_price).alias("sum_disc_price"),
            micros_exact(charge).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Silver-layer transforms (SURVEY §2.2 P1-P3: projection, split-derived
# column, guarded division — reference silver_notebook.py:26,34).
# --------------------------------------------------------------------------


@query(
    "silver_enrich",
    """
    SELECT
      l_orderkey,
      l_linenumber,
      l_extendedprice / NULLIF(l_quantity, 0) AS price_per_unit
    FROM lineitem
    """,
)
def silver_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P3: revenue_per_unit analogue. try_divide = NULL on /0 (matches the
    # oracle's NULLIF; plain `/` would raise under Spark 4 ANSI mode —
    # SURVEY §2.9 #11). Single IEEE double op → bit-identical cross-engine.
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity")).alias("price_per_unit"),
    )


@query(
    "split_category",
    """
    SELECT
      p_partkey,
      split_part(p_brand, '#', 2) AS brand_num,
      split_part(p_name, ' ', 1) AS name_category
    FROM part
    """,
)
def split_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P2: model_category = split(Model_ID,'-')[0] (silver_notebook.py:26).
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.split(F.col("p_brand"), "#").getItem(1).alias("brand_num"),
        F.split(F.col("p_name"), " ").getItem(0).alias("name_category"),
    )


@query(
    "silver_agg",
    """
    SELECT
      CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
      o_orderpriority,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    ORDER BY order_year ASC, total_price DESC
    """,
)
def silver_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A1 + O1: groupBy-sum with mixed-direction sort
    # (silver_notebook.py:47-50: groupBy(Year, BranchName).sum.sort).
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"), "o_orderpriority"
        )
        .agg(
            dec_sum("o_totalprice", "total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("order_year").asc(), F.col("total_price").desc())
    )


@query(
    "agg_scalar_minmax",
    """
    SELECT
      max(o_orderkey) AS max_key,
      min(o_orderdate) AS min_date,
      count(DISTINCT o_custkey) AS n_custs
    FROM orders
    """,
)
def agg_scalar_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A2/A5: ungrouped scalar aggregates (surrogate-key max probe,
    # gold_dim_branch.py:127-128; watermark seed min, watermark_table.sql:6).
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.max("o_orderkey").alias("max_key"),
        F.min("o_orderdate").alias("min_date"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


# --------------------------------------------------------------------------
# CDC split + watermark range (SURVEY §2.3 J1, §2.2 P5, §2.8 I1).
# "Existing sink" is simulated as the orders before 1998-01-01 (an earlier
# batch); the split classifies customers as new vs already-seen.
# --------------------------------------------------------------------------

_CDC_CUT = "1998-01-01 00:00:00"


@query(
    "cdc_new_rows",
    f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '{_CDC_CUT}'
      AND NOT EXISTS (
        SELECT 1 FROM orders t
        WHERE t.o_orderdate < TIMESTAMP '{_CDC_CUT}' AND t.o_custkey = o.o_custkey
      )
    """,
)
def cdc_new_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit(_CDC_CUT).cast("timestamp")
    batch = o.filter(F.col("o_orderdate") >= cut)
    sink = o.filter(F.col("o_orderdate") < cut)
    return cdc.new_rows(batch, sink, ["o_custkey"]).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


@query(
    "cdc_existing_rows",
    f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '{_CDC_CUT}'
      AND EXISTS (
        SELECT 1 FROM orders t
        WHERE t.o_orderdate < TIMESTAMP '{_CDC_CUT}' AND t.o_custkey = o.o_custkey
      )
    """,
)
def cdc_existing_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit(_CDC_CUT).cast("timestamp")
    batch = o.filter(F.col("o_orderdate") >= cut)
    sink = o.filter(F.col("o_orderdate") < cut)
    return cdc.existing_rows(batch, sink, ["o_custkey"]).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


@query(
    "watermark_range",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE ts > TIMESTAMP '2024-01-10 00:00:00'
      AND ts <= TIMESTAMP '2024-01-20 00:00:00'
    """,
)
def watermark_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # I1: the (last_load, current_load] incremental extract window.
    ev = load_table(spark, sf_dir, "events")
    return cdc.watermark_range(
        ev,
        "ts",
        F.lit("2024-01-10 00:00:00").cast("timestamp"),
        F.lit("2024-01-20 00:00:00").cast("timestamp"),
    ).select("event_id", "ts", "user_id", "event_type", "value")


@query(
    "watermark_range_pushdown",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE ts > TIMESTAMP '2024-01-10 00:00:00'
      AND ts <= TIMESTAMP '2024-01-20 00:00:00'
    """,
)
def watermark_range_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same (lo, hi] extract as watermark_range, but through
    load_table_range: window bounds pushed as raw int64-nanos predicates
    into the parquet scan (row-group pruning — the filter on the converted
    µs column is not pushdown-eligible, so at 100 TB THIS is the extract
    path). Pushdown is asserted in tests/test_sources.py."""
    import datetime

    from incremental_data_pipeline_spark.sources.readers import load_table_range

    return load_table_range(
        spark,
        sf_dir,
        "events",
        "ts",
        datetime.datetime(2024, 1, 10),
        datetime.datetime(2024, 1, 20),
    ).select("event_id", "ts", "user_id", "event_type", "value")


# --------------------------------------------------------------------------
# Dimension build + surrogate keys + SCD1 upsert (SURVEY §2.5 W1, §2.1 S11).
# --------------------------------------------------------------------------


@query(
    "dim_build_brand",
    """
    SELECT
      row_number() OVER (ORDER BY p_brand) AS dim_brand_key,
      p_brand
    FROM (SELECT DISTINCT p_brand FROM part)
    """,
)
def dim_build_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W1 normalized: dropDuplicates(natural key) + dense row_number from 1
    # (fixes SURVEY §2.9 #2/#3; reference gold_dim_branch.py:139-146).
    p = load_table(spark, sf_dir, "part")
    return scd.build_dim(p, ["p_brand"], [], "dim_brand_key")


@query(
    "dim_build_scalable_keys",
    """
    SELECT
      row_number() OVER (ORDER BY c_custkey) AS dim_customer_key,
      c_custkey,
      c_name
    FROM (SELECT DISTINCT c_custkey, c_name FROM customer)
    """,
)
def dim_build_scalable_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The scalable surrogate-key path (range-partition + partition-offset
    # prefix sum) must produce the SAME keys as the global row_number oracle
    # because range partitioning preserves global order.
    c = load_table(spark, sf_dir, "customer")
    return scd.build_dim(
        c, ["c_custkey"], ["c_name"], "dim_customer_key", scalable_keys=True
    ).select("dim_customer_key", "c_custkey", "c_name")


@query(
    "scd1_upsert",
    """
    WITH target AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
    ), source AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT * FROM source
    UNION ALL
    SELECT t.* FROM target t WHERE NOT EXISTS (
      SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey
    )
    """,
)
def scd1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # I4/S11: MERGE update-all/insert-all on the natural key, join-emulated
    # (reference gold_dim_branch.py:177-184; fixed per SURVEY §2.9 #5).
    o = load_table(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    source = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", F.lit("U").alias("o_orderstatus"), "o_totalprice"
    )
    return scd.upsert_scd1(target, source, ["o_orderkey"])


# --------------------------------------------------------------------------
# Star-schema fact build (SURVEY §2.3 J2: multi-way broadcast FK lookup).
# --------------------------------------------------------------------------


@query(
    "star_join",
    """
    SELECT
      l.l_orderkey,
      l.l_linenumber,
      CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      p.p_brand,
      s.s_name,
      o.o_orderpriority
    FROM lineitem l
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gold_fact.py:34-38 4-way left FK join. No broadcast HINTS: parquet
    # size stats + AQE pick broadcast whenever a side is dim-sized (the
    # plan pin asserts zero shuffles at fixture scale), and degrade the
    # orderkey join to a shuffle join with a runtime Bloom filter when
    # orders is fact-sized — at sf10 the forced broadcast built a
    # 15M-row (~400MB) hash relation consulted by every task and was
    # measured several-fold slower than letting AQE choose; at cluster
    # scale a fact-sized broadcast simply OOMs.
    #
    # JOIN ORDER: the (possibly shuffling) orderkey join runs FIRST, the
    # broadcast dim joins after. Left joins keyed on the fact side
    # commute, and Catalyst does not reorder outer joins — so the written
    # order decides whether the shuffle carries NARROW fact rows or rows
    # already widened with p_brand/s_name strings. Dims-first widened the
    # exchange+sort payload ~2.5x and was measured 2.3x slower at the
    # sf10 point (23.1 s vs 10.0 s same-session; see STAR_JOIN_SCALE.md);
    # orders-first restores a sub-linear 6.4x wall for 10x data. At
    # fixture scale every side broadcasts and the order is irrelevant.
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
    ).cast("double")
    return (
        li.join(
            o.select("o_orderkey", "o_orderpriority"),
            li.l_orderkey == o.o_orderkey,
            "left",
        )
        .join(p.select("p_partkey", "p_brand"), li.l_partkey == p.p_partkey, "left")
        .join(s.select("s_suppkey", "s_name"), li.l_suppkey == s.s_suppkey, "left")
        .select(
            "l_orderkey",
            "l_linenumber",
            revenue.alias("revenue"),
            "p_brand",
            "s_name",
            "o_orderpriority",
        )
    )


# --------------------------------------------------------------------------
# Audits, distinct, union, top-k (SURVEY §2.4 A3/A4, §2.6 O2, extensions).
# --------------------------------------------------------------------------


@query(
    "dup_audit",
    """
    SELECT l_orderkey, count(*) AS n
    FROM lineitem
    GROUP BY l_orderkey
    HAVING count(*) > 1
    """,
)
def dup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return relational.duplicate_audit(li, ["l_orderkey"])


@query(
    "distinct_projection",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return relational.distinct_dim_source(c, ["c_mktsegment", "c_nationkey"])


@query(
    "union_by_name",
    """
    SELECT c_custkey AS entity_key, c_name AS entity_name, 'customer' AS entity_kind
    FROM customer
    UNION ALL
    SELECT s_suppkey AS entity_key, s_name AS entity_name, 'supplier' AS entity_kind
    FROM supplier
    """,
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O2 normalized: by-name union (the reference's positional union relies
    # on column order surviving upstream reordering — SURVEY §2.6).
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("entity_name"),
        F.lit("customer").alias("entity_kind"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("entity_name"),
        F.lit("supplier").alias("entity_kind"),
    )
    return c.unionByName(s)


@query(
    "topk_per_group",
    """
    SELECT * FROM (
      SELECT
        o_orderpriority,
        o_orderkey,
        o_totalprice,
        row_number() OVER (
          PARTITION BY o_orderpriority
          ORDER BY o_totalprice DESC, o_orderkey ASC
        ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return relational.topk_per_group(
        o,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
    )


# --------------------------------------------------------------------------
# Full medallion pipeline end-to-end (SURVEY §3 E1-E3): two watermark CDC
# batches into bronze → silver enrich → SCD1 dim built incrementally across
# both batches → star fact. The pipeline is deterministic, so the final
# gold fact state has an exact SQL twin — including the two-phase surrogate
# key assignment (batch-1 members keyed first, batch-2 additions after).
# --------------------------------------------------------------------------

_E2E_CUT = "2024-01-15 00:00:00"


@query(
    "medallion_e2e",
    f"""
    WITH b1 AS (
      SELECT DISTINCT user_id FROM events WHERE ts <= TIMESTAMP '{_E2E_CUT}'
    ), b2 AS (
      SELECT DISTINCT user_id FROM events
      WHERE user_id NOT IN (SELECT user_id FROM b1)
    ), dim_user AS (
      SELECT row_number() OVER (ORDER BY user_id) AS dim_user_key, user_id FROM b1
      UNION ALL
      SELECT (SELECT count(*) FROM b1) + row_number() OVER (ORDER BY user_id), user_id FROM b2
    ), t1 AS (
      SELECT DISTINCT event_type FROM events WHERE ts <= TIMESTAMP '{_E2E_CUT}'
    ), t2 AS (
      SELECT DISTINCT event_type FROM events
      WHERE event_type NOT IN (SELECT event_type FROM t1)
    ), dim_event_type AS (
      SELECT row_number() OVER (ORDER BY event_type) AS dim_event_type_key, event_type FROM t1
      UNION ALL
      SELECT (SELECT count(*) FROM t1) + row_number() OVER (ORDER BY event_type), event_type FROM t2
    )
    SELECT e.event_id, e.value, u.dim_user_key, t.dim_event_type_key
    FROM events e
    LEFT JOIN dim_user u ON e.user_id = u.user_id
    LEFT JOIN dim_event_type t ON e.event_type = t.event_type
    """,
)
def medallion_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the real stateful pipeline (watermark store on disk, replay-safe
    bronze sink, SCD1 dims across two incremental batches, broadcast fact
    build) and returns the gold fact."""
    import datetime

    from incremental_data_pipeline_spark.plans.medallion import MedallionPipeline

    # The returned DataFrame scans files under `base` lazily, so removal
    # must wait until after the caller materializes it: cleaned at exit.
    base = scratch_dir("medallion_e2e_")
    pipe = MedallionPipeline(spark, base)
    events = load_table(spark, sf_dir, "events")

    seed = datetime.datetime(2023, 1, 1)
    cut = datetime.datetime.fromisoformat(_E2E_CUT)
    # Bronze is time-partitioned and each batch replaces only the
    # partitions its window touches: the replay guard re-reads those, not
    # the whole layer. Month granularity fits the fixture's volume; 'day'
    # is the production setting (see idempotent_overwrite_day_partitions).
    for current in (cut, None):  # batch 1: (seed, cut]; batch 2: (cut, max(ts)]
        pipe.ingest_bronze(
            events, "events", "ts", ["event_id"], seed, current,
            partition_daily=True, partition_granularity="month",
        )
        silver = pipe.build_silver("events", lambda df: df)
        # The two dims are independent read-modify-write jobs over the same
        # silver snapshot (disjoint gold paths), so they build concurrently.
        run_concurrently(
            spark,
            lambda s: pipe.build_gold_dim(s[0], silver, s[1], [], s[2]),
            [
                ("dim_user", ["user_id"], "dim_user_key"),
                ("dim_event_type", ["event_type"], "dim_event_type_key"),
            ],
        )

    fact = pipe.build_gold_fact(
        "fact_events",
        pipe.read("silver", "events"),
        {
            "dim_user_key": (pipe.read("gold", "dim_user"), {"user_id": "user_id"}),
            "dim_event_type_key": (
                pipe.read("gold", "dim_event_type"),
                {"event_type": "event_type"},
            ),
        },
        ["event_id", "value"],
    )
    return fact


# --------------------------------------------------------------------------
# Text analysis + deduplication (north-star LLM-pipeline extensions, over
# the `documents` table). Oracle SQL for lang-id and SimHash is generated
# from the same constants the Spark operators use, so the two engines
# evaluate identical expression trees.
# --------------------------------------------------------------------------

from incremental_data_pipeline_spark.operators import dedup as _dedup  # noqa: E402
from incremental_data_pipeline_spark.operators import text as _text  # noqa: E402


@query(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.exact_dedup_groups(docs, "text", "doc_id")


@query(
    "text_stats",
    """
    SELECT doc_id,
      CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
      CAST(length(text) AS BIGINT) AS n_chars,
      length(replace(text,' ','')) / len(string_split(text,' ')) AS avg_token_len,
      len(list_distinct(string_split(text,' '))) / len(string_split(text,' ')) AS unique_ratio
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = _text.with_token_stats(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        "avg_token_len",
        "unique_ratio",
    )


def _lang_oracle() -> str:
    score_cols = ", ".join(
        "len(list_filter(toks, x -> x IN ({}))) AS score_{}".format(
            ", ".join(f"'{w}'" for w in sw), lang
        )
        for lang, sw in _text.LANG_STOPWORDS.items()
    )
    case = "CASE"
    for lang in _text.LANG_ORDER:
        conds = " AND ".join(
            f"score_{lang} >= score_{other}" for other in _text.LANG_ORDER
        )
        case += f" WHEN {conds} THEN '{lang}'"
    case += " END"
    return f"""
    WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS toks FROM documents),
    s AS (SELECT doc_id, lang, {score_cols} FROM t)
    SELECT doc_id, lang, {case} AS pred_lang FROM s
    """


@query("text_lang_id", _lang_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _text.lang_id(docs).select("doc_id", "lang", "pred_lang")


@query(
    "text_quality",
    """
    WITH s AS (
      SELECT doc_id,
        len(string_split(text,' ')) AS n_tokens,
        len(list_distinct(string_split(text,' '))) / len(string_split(text,' ')) AS unique_ratio,
        len(list_filter(string_split(text,' '),
            x -> x IN ('the','a','and','of','to','is','in'))) / len(string_split(text,' ')) AS stopword_ratio
      FROM documents)
    SELECT doc_id, unique_ratio, stopword_ratio,
      0.4*unique_ratio + 0.3*stopword_ratio + 0.3*least(n_tokens/100.0, 1.0) AS quality
    FROM s
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _text.quality_score(docs).select(
        "doc_id", "unique_ratio", "stopword_ratio", "quality"
    )


@query(
    "doc_fingerprint",
    "SELECT doc_id, substr(md5(lower(text)), 1, 16) AS fingerprint FROM documents",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _text.fingerprint(docs).select("doc_id", "fingerprint")


_SHINGLES_CTE = """
    toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, unnest(
        CASE WHEN len(t) >= 3
             THEN list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2])
             ELSE [array_to_string(t, ' ')] END) AS shingle
      FROM toks)
"""


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLES_CTE},
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 10000),
    shc AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, i / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE i / (sa.sz + sb.sz - i) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard near-dup pairs over document-frequency-capped shingle
    sets (max_df=10000 bounds per-shingle join fan-out; the cap doesn't
    bind at fixture scale, so values equal textbook Jaccard here)."""
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.6, max_df=10000)


@query(
    "dedup_minhash_lsh",
    None,  # oracle injected below (generated from the same hash constants)
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.lsh_candidate_pairs(docs, "doc_id", "text", 12, 3, 3)


def _minhash_oracle(num_hashes: int = 12, rows_per_band: int = 3) -> str:
    coeffs = _dedup.minhash_coeffs(num_hashes)
    mins = ", ".join(
        f"min(({a} * xv + {b}) % {_dedup.MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    n_bands = num_hashes // rows_per_band
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {j} AS band, concat({cols}) AS band_sig FROM mh".format(
            j=j,
            cols=", '|', ".join(f"mh{j * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for j in range(n_bands)
    )
    return f"""
    WITH {_SHINGLES_CTE},
    x AS (SELECT doc_id, ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS xv FROM sh),
    mh AS (SELECT doc_id, {mins} FROM x GROUP BY doc_id),
    bands AS ({band_rows})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """


ORACLE["dedup_minhash_lsh"] = _minhash_oracle()


@query(
    "dedup_incremental_batch",
    None,  # oracle injected below (pair SQL filtered to new-side pairs)
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screening: the newest documents (doc_id >= 400,
    today's crawl) are checked against the whole corpus without re-pairing
    the existing corpus against itself — candidate volume scales with the
    batch, the incremental analogue of watermark-CDC."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    batch = docs.filter(F.col("doc_id") >= 400)
    return _dedup.incremental_lsh_pairs(corpus, batch, "doc_id", "text", 12, 3, 3)


ORACLE["dedup_incremental_batch"] = (
    f"SELECT doc_a, doc_b FROM ({_minhash_oracle()}) "
    "WHERE doc_a >= 400 OR doc_b >= 400"
)


@query(
    "dedup_clusters",
    None,  # oracle injected below (recursive CTE over the same pair SQL)
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering end-to-end: MinHash-LSH candidate pairs →
    connected components (min-label + pointer jumping) → every document
    labeled with its cluster's min doc_id (isolated docs label themselves).
    The corpus-dedup final step: `cluster_id == doc_id` picks survivors."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _dedup.lsh_candidate_pairs(docs, "doc_id", "text", 12, 3, 3)
    return _dedup.duplicate_clusters(docs.select("doc_id"), pairs, "doc_id").select(
        "doc_id", F.col("cluster_id").cast("long").alias("cluster_id")
    )


def _clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, m) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.m
    )
    SELECT node AS doc_id, CAST(min(m) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """


ORACLE["dedup_clusters"] = _clusters_oracle()


@query(
    "corpus_curation",
    None,  # oracle injected below (composes the stage oracles as CTEs)
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-corpus curation pipeline end-to-end, every stage one of this
    engine's operators: language filter (stored lang) → quality-score
    floor → Gopher repetition filter → exact dedup (md5 canonical) →
    MinHash-LSH near-dup clustering (connected components, min-id
    canonical) → per-source corpus stats. Two eager cuts split the plan:
    the survivor checkpoint and ``connected_components``, whose edge
    checkpoint and budget probe run when it is called; under
    ``CC_EDGE_BUDGET`` edges the clusters come back as a local relation
    labelled on the driver, above it from the distributed fixpoint.
    Every distributed stage is shuffle-bounded (hash/bucket joins, no
    quadratic step), which is the whole point at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    # Quality is a NARROW per-row score (with_token_stats withColumns), so
    # it rides the same pass as the lang filter instead of a separate
    # tokenize-the-corpus branch joined back semi (r10: one full text
    # pass + one semi join removed; survivor set provably unchanged —
    # same predicates, hash-gated). Only the repetition filter keeps its
    # own branch: its top-gram stats are real aggregations.
    rep = _text.gopher_repetition_filter(docs).select("doc_id", "keep")
    surv = (
        _text.quality_score(docs)
        .filter((F.col("lang") == "en") & (F.col("quality") >= 0.36))
        .join(rep.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi")
        .select(*docs.columns)
    )
    # Materialize the deduped survivor set once: three downstream branches
    # (pair generation, cluster labeling, the canonical join) consume it.
    # The filter pipeline ABOVE it is deliberately NOT checkpointed
    # (r11, reverting an r10 edit measured net-negative): exact_dedup
    # reads its input twice, but recomputing the narrow fused filter twice
    # inside one job is cheaper than an extra eager job that materializes
    # every survivor row (text included) first.
    exact_surv = _dedup.exact_dedup(surv, "text", "doc_id").localCheckpoint()
    pairs = _dedup.lsh_candidate_pairs(exact_surv, "doc_id", "text", 12, 3, 3)
    clusters = _dedup.duplicate_clusters(exact_surv.select("doc_id"), pairs, "doc_id")
    canonical = exact_surv.join(
        clusters.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    return (
        canonical.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("total_tokens"),
        )
        .select("source", "n_docs", F.col("total_tokens").cast("long").alias("total_tokens"))
    )


def _curation_oracle() -> str:
    return f"""
    WITH RECURSIVE
    q AS (SELECT doc_id, quality FROM ({ORACLE["text_quality"]})),
    rep AS (SELECT doc_id, keep FROM ({ORACLE["text_repetition_filter"]})),
    surv AS (
      SELECT d.doc_id, d.text, d.source FROM documents d
      JOIN q USING (doc_id) JOIN rep USING (doc_id)
      WHERE d.lang = 'en' AND q.quality >= 0.36 AND rep.keep),
    exact_keep AS (SELECT min(doc_id) AS doc_id FROM surv GROUP BY md5(text)),
    es AS (SELECT s.* FROM surv s JOIN exact_keep USING (doc_id)),
    pairs0 AS ({_minhash_oracle()}),
    pairs AS (
      SELECT doc_a, doc_b FROM pairs0
      WHERE doc_a IN (SELECT doc_id FROM es)
        AND doc_b IN (SELECT doc_id FROM es)),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach(node, m) AS (
      SELECT doc_id, doc_id FROM es
      UNION
      SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.m),
    cc AS (SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node),
    canonical AS (
      SELECT es.* FROM es JOIN cc USING (doc_id) WHERE cc.cluster_id = es.doc_id)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM canonical GROUP BY source
    """


def _simhash_oracle() -> str:
    terms = _dedup.simhash_bit_terms()
    sums = ", ".join(f"SUM({t}) AS s{b}" for b, t in enumerate(terms))
    assemble = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(32)
    )
    return f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
    hashed AS (SELECT doc_id, ('0x' || substring(md5(token), 1, 8))::BIGINT AS hv FROM tok),
    s AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM s
    """


@query("text_simhash", _simhash_oracle())
def text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.simhash(docs, "doc_id", "text")


@query(
    "retention_cohorts",
    """
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS act_week
      FROM events)
    SELECT f.cohort_week,
      CAST(floor(date_diff('day', f.cohort_week, a.act_week) / 7) AS INT) AS week_offset,
      CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM activity a JOIN first_seen f USING (user_id)
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week, counted
    in every later week they were active. Two shuffles keyed by user_id
    (first-seen agg, distinct activity), one count-distinct keyed by
    (cohort, offset) — the canonical product-analytics rollup."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(F.datediff(F.col("act_week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "shipping_priority",
    """
    SELECT l.l_orderkey,
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        AS revenue,
      o.o_orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join + revenue top-k: the segment filter
    reaches the customer scan, the filtered customer side broadcasts into
    orders, and the top-10 is a TakeOrdered — the fact side shuffles once
    for the groupBy, never for the joins. Decimal-cast revenue keeps the
    sum order-free for the oracle hash."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "batch_sessionize",
    """
    WITH flagged AS (
      SELECT user_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sessions AS (
      SELECT user_id, ts,
        CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_idx
      FROM flagged)
    SELECT user_id, session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_idx
    """,
)
def batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over at-rest history (30-min gap), the
    batch twin of the streaming session windows — lag flag + running sum,
    one shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    s = relational.sessionize(ev, ["user_id"], "ts", 30)
    return s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "rolling_hour_stats",
    """
    SELECT event_id, user_id,
      CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT) AS roll_sum_cents,
      CAST(count(*) OVER w AS BIGINT) AS roll_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def rolling_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval window frame (RANGE INTERVAL 1 HOUR PRECEDING): the
    per-entity rolling aggregate shape. Values quantized to integer cents
    inside the frame so the rolling sum is order-free and exact in both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    # Microsecond epochs: an epoch-SECONDS frame truncates sub-second
    # timestamps and misclassifies rows within 1 s of the window edge
    # (surfaced at sf0.1; the SQL twin's INTERVAL frame is µs-precise).
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        F.sum(cents).over(w).alias("roll_sum_cents"),
        F.count(F.lit(1)).over(w).alias("roll_n"),
    )


@query(
    "quality_deciles",
    """
    SELECT doc_id,
           CAST(ntile(10) OVER (ORDER BY quality, doc_id) AS INT) AS decile
    FROM (SELECT doc_id,
            0.4*(len(list_distinct(string_split(text,' '))) / len(string_split(text,' ')))
          + 0.3*(len(list_filter(string_split(text,' '),
                x -> x IN ('the','a','and','of','to','is','in'))) / len(string_split(text,' ')))
          + 0.3*least(len(string_split(text,' '))/100.0, 1.0) AS quality
          FROM documents)
    """,
)
def quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: ntile(10) over the quality score (ties broken
    by doc_id for a deterministic total order) — the split step for
    quality-staged training mixes."""
    docs = load_table(spark, sf_dir, "documents")
    q = _text.quality_score(docs)
    w = Window.orderBy("quality", "doc_id")
    return q.select("doc_id", F.ntile(10).over(w).alias("decile"))


@query(
    "value_histogram",
    """
    SELECT CAST(floor(value/10) AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (bucket = floor(value/10)) —
    one map-side-combined shuffle keyed by bucket."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.col("value") / 10).cast("int").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "text_pii_scrub",
    r"""
    WITH withpii AS (
      SELECT doc_id,
        text || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@mail.example.com or call +1 (555) 010-'
             || CAST(doc_id AS VARCHAR) AS text
      FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
         + len(regexp_extract_all(text, '\+?[0-9][0-9()\-\s]{7,}[0-9]')) AS INT)
        AS n_redactions,
      md5(regexp_replace(
            regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
            '\+?[0-9][0-9()\-\s]{7,}[0-9]', '[PHONE]', 'g')) AS scrub_hash
    FROM withpii
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: the fixture corpus gets a deterministic
    synthetic contact line per doc (both engines construct it identically),
    pii_scrub redacts emails/phones with typed placeholders, and the
    scrubbed text is md5'd so the oracle verifies the exact spans."""
    docs = load_table(spark, sf_dir, "documents")
    with_pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or call +1 (555) 010-"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    out = _text.pii_scrub(with_pii, "text")
    return out.select("doc_id", "n_redactions", F.md5("scrubbed").alias("scrub_hash"))


@query(
    "events_value_outliers",
    """
    WITH s AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS __q1,
             quantile_cont(value, 0.75) AS __q3
      FROM events GROUP BY 1)
    SELECT e.event_id, e.event_type, e.value
    FROM events e JOIN s USING (event_type)
    WHERE e.value < __q1 - 1.5*(__q3 - __q1)
       OR e.value > __q3 + 1.5*(__q3 - __q1)
    """,
)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Tukey-fence outliers on event values: exact interpolated
    quartiles per event type (one shuffle), tiny fence table broadcast
    back, detail side never shuffles."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return relational.iqr_outliers(ev, ["event_type"], "value")


@query(
    "corpus_vocab_topk",
    """
    SELECT token, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token ORDER BY freq DESC, token ASC LIMIT 20
    """,
)
def corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-20 by frequency (map-side partial counts +
    TakeOrdered — never a full global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    return _text.corpus_vocab_topk(docs, "text", 20)


_SEARCH_TERMS = ("dup", "window", "stream")


@query(
    "inverted_search_docs",
    f"""
    WITH postings AS (
      SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      WHERE term IN {_SEARCH_TERMS!r}
      GROUP BY term, doc_id)
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS relevance
    FROM postings
    GROUP BY doc_id
    HAVING count(*) = {len(_SEARCH_TERMS)}
    """,
)
def inverted_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean AND search through an inverted index: documents containing
    all three query terms, ranked by summed term frequency. The term
    filter lands on the posting scan (partition pruning on a
    term-partitioned index at corpus scale); the AND is one doc-id agg
    over the touched posting lists only."""
    docs = load_table(spark, sf_dir, "documents")
    postings = _text.build_postings(docs, "doc_id", "text")
    return _text.search_all_terms(postings, list(_SEARCH_TERMS), "doc_id")


@query(
    "doc_chunking",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    st AS (SELECT doc_id, t, unnest(range(0, ((len(t)-1)//56)+1)) AS ci FROM toks)
    SELECT doc_id,
           CAST(ci AS INT) AS chunk_idx,
           CAST(len(t[ci*56+1 : ci*56+64]) AS INT) AS n_chunk_tokens,
           md5(array_to_string(t[ci*56+1 : ci*56+64], ' ')) AS chunk_hash
    FROM st
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 64-token chunks, stride 56 (8-token
    overlap), with an md5 per chunk for chunk-level dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return _text.chunk_documents(docs, "doc_id", "text", 64, 56)


@query(
    "pack_sequences",
    """
    SELECT doc_id, n_tokens,
      CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS start_offset,
      CAST(floor((sum(n_tokens) OVER w - n_tokens) / 256) AS BIGINT) AS seq_id
    FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents)
    WINDOW w AS (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-based sequence packing: documents laid end-to-end in id
    order, cut into 256-token sequences; per-doc global start offset and
    owning seq_id via the scalable two-phase prefix sum (no single-task
    global window)."""
    docs = load_table(spark, sf_dir, "documents")
    return _text.pack_offsets(docs, "doc_id", "text", 256)


@query(
    "sample_stratified_docs",
    """
    SELECT doc_id, lang, source FROM documents
    WHERE ('0x' || substring(md5('mix1' || '|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 1000000
      < CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 300000 ELSE 150000 END
    """,
)
def sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified training-mix sample: 50% of English, 30% of
    Chinese, 15% of everything else, keyed on md5(doc_id) — same selection
    on every run and any partitioning (no rand())."""
    from incremental_data_pipeline_spark.operators import sampling as _sampling

    docs = load_table(spark, sf_dir, "documents")
    return _sampling.stratified_sample(
        docs, "lang", {"en": 0.5, "zh": 0.3}, ["doc_id"], default_rate=0.15, salt="mix1"
    ).select("doc_id", "lang", "source")


@query(
    "sample_token_budget_mix",
    """
    WITH ordered AS (
      SELECT doc_id, lang, source, n_chars,
        SUM(n_chars) OVER (
          PARTITION BY lang
          ORDER BY ('0x' || substring(md5('tok1' || '|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 1000000 ASC, doc_id ASC
          ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents)
    SELECT doc_id, lang, source, n_chars FROM ordered
    WHERE cum <= CASE lang WHEN 'en' THEN 40000 WHEN 'zh' THEN 8000
                           WHEN 'de' THEN 5000 ELSE 0 END
    """,
)
def sample_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling: fill per-language TOKEN budgets (chars
    as the token proxy here) in deterministic hash order — the data-recipe
    primitive where document lengths vary too much for row quotas to
    control the mix. Inclusive running sum, so the budget is never
    overshot; languages outside the recipe are dropped explicitly."""
    from incremental_data_pipeline_spark.operators import sampling as _sampling

    docs = load_table(spark, sf_dir, "documents")
    return _sampling.token_budget_sample(
        docs,
        "lang",
        "n_chars",
        {"en": 40000, "zh": 8000, "de": 5000},
        ["doc_id"],
        salt="tok1",
    ).select("doc_id", "lang", "source", "n_chars")


@query(
    "sample_quota_longest",
    """
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id ASC) AS rk
      FROM documents)
    WHERE rk <= 5
    """,
)
def sample_quota_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum quota: the 5 longest documents per language (score-desc
    quota sampling; with a hash score this same operator is a deterministic
    fixed-size uniform sample per group)."""
    from incremental_data_pipeline_spark.operators import sampling as _sampling

    docs = load_table(spark, sf_dir, "documents")
    return _sampling.quota_by_score(docs, ["lang"], "n_chars", 5, "doc_id").select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "text_repetition_filter",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text,' ') AS t, length(text) AS n_chars
      FROM documents),
    base AS (
      SELECT doc_id, n_chars,
        1.0 - CAST(len(list_distinct(t)) AS DOUBLE)/len(t) AS dup_token_frac
      FROM toks),
    g2 AS (
      SELECT doc_id, unnest(
        CASE WHEN len(t) >= 2
             THEN list_transform(range(1, len(t)), i -> t[i]||' '||t[i+1])
             ELSE [array_to_string(t, ' ')] END) AS g
      FROM toks),
    c2 AS (SELECT doc_id, max(cnt*length(g)) AS top2 FROM
           (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g)
           GROUP BY doc_id),
    g3 AS (
      SELECT doc_id, unnest(
        CASE WHEN len(t) >= 3
             THEN list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2])
             ELSE [array_to_string(t, ' ')] END) AS g
      FROM toks),
    c3 AS (SELECT doc_id, max(cnt*length(g)) AS top3 FROM
           (SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY doc_id, g)
           GROUP BY doc_id)
    SELECT b.doc_id,
      b.n_chars,
      b.dup_token_frac,
      CAST(c2.top2 AS DOUBLE)/b.n_chars AS top_2gram_char_frac,
      CAST(c3.top3 AS DOUBLE)/b.n_chars AS top_3gram_char_frac,
      (b.dup_token_frac <= 0.6
       AND CAST(c2.top2 AS DOUBLE)/b.n_chars <= 0.20
       AND CAST(c3.top3 AS DOUBLE)/b.n_chars <= 0.18) AS keep
    FROM base b JOIN c2 USING(doc_id) JOIN c3 USING(doc_id)
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rules (top n-gram char fraction,
    word repetition) with a keep/drop verdict per document."""
    docs = load_table(spark, sf_dir, "documents")
    return _text.gopher_repetition_filter(docs, "doc_id", "text")


# --------------------------------------------------------------------------
# Similarity search over embeddings + multimodal binary plumbing
# (north-star extensions). Oracle parity comes from integer-quantized
# vector math (exact, order-independent) — see functions/vector.py.
# --------------------------------------------------------------------------

from incremental_data_pipeline_spark.operators import multimodal as _mm  # noqa: E402
from incremental_data_pipeline_spark.operators import similarity as _sim  # noqa: E402

_QV = "list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"


def _dot(a: str, b: str) -> str:
    return f"list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"


@query(
    "embedding_norms",
    f"""
    SELECT vec_id, label,
      sqrt(CAST({_dot('v', 'v')} AS DOUBLE)) / 1000000 AS l2_norm
    FROM (SELECT vec_id, label, {_QV} AS v FROM embeddings)
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from incremental_data_pipeline_spark.functions.vector import SCALE, norm_q, quantize

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        (norm_q(quantize("embedding")) / F.lit(SCALE)).alias("l2_norm"),
    )


_COSINE_SQL = (
    f"CAST({_dot('qv', 'cv')} AS DOUBLE) / "
    f"(sqrt(CAST({_dot('qv', 'qv')} AS DOUBLE)) * sqrt(CAST({_dot('cv', 'cv')} AS DOUBLE)))"
)


@query(
    "knn_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, {_QV} AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, {_QV} AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, {_COSINE_SQL} AS cosine
      FROM c CROSS JOIN q WHERE neighbor_id != query_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _sim.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


def _ann_oracle() -> str:
    planes = _sim.hyperplanes(8, 64)
    sign_exprs = []
    for row in planes:
        lit = "[" + ", ".join(str(v) for v in row) + "]"
        sign_exprs.append(
            f"CASE WHEN list_sum(list_transform(range(1, 65), i -> ({lit})[i] * v[i])) > 0"
            " THEN '1' ELSE '0' END"
        )
    bucket = "concat(" + ", ".join(sign_exprs) + ")"
    return f"""
    WITH vecs AS (SELECT vec_id, {_QV} AS v FROM embeddings),
    bucketed AS (SELECT vec_id, v, {bucket} AS bucket FROM vecs),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bucketed WHERE vec_id < 20),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id, {_COSINE_SQL} AS cosine
      FROM bucketed c JOIN q USING (bucket)
      CROSS JOIN LATERAL (SELECT c.v AS cv) t
      WHERE c.vec_id != query_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
      FROM scored)
    WHERE rank <= 3
    """


@query("ann_lsh_topk", _ann_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _sim.lsh_topk(emb, emb.filter(F.col("vec_id") < 20), k=3, num_planes=8, dim=64)


# ann_lsh_auto_topk is registered further down, after _bucket_sql exists.


@query(
    "multimodal_meta",
    """
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      ascii(substr(text, 1, 1)) AS first_byte,
      md5(text) AS content_md5
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Binary-column round-trip: text -> utf-8 payload -> Arrow-batched
    # mapInPandas metadata extraction (the stubbed multimodal decode path).
    docs = load_table(spark, sf_dir, "documents")
    with_bin = _mm.attach_binary(docs)
    return _mm.decode_binary_metadata(with_bin)


# --------------------------------------------------------------------------
# Structured Streaming (SURVEY §2.8: the reference's rerun-driven CDC as real
# streams). Bounded fixture + processAllAvailable makes these deterministic:
# the file source consumes every available file in the first micro-batch, so
# stream results equal their batch twins and the DuckDB oracles apply. The
# streaming-only guarantees (watermark state eviction, checkpointed offsets)
# are exercised in tests/test_streaming.py.
# --------------------------------------------------------------------------

from incremental_data_pipeline_spark.streaming import pipeline as _stream  # noqa: E402


@query(
    "stream_window_agg",
    """
    SELECT
      CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
      CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS window_end,
      event_type,
      count(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows over the events stream, per type:
    readStream -> withWatermark -> window agg -> memory sink (complete)."""
    stream = _stream.read_stream(spark, sf_dir, "events")
    agg = _stream.tumbling_window_agg(
        stream,
        "ts",
        "1 day",
        ["event_type"],
        [F.count("*").alias("n_events"), dec_sum("value", "sum_value", 4)],
    )
    return _stream.run_to_memory(
        agg,
        "complete",
        state_partitions=_stream.adaptive_state_partitions(sf_dir, "events"),
    )


@query(
    "stream_session_windows",
    """
    WITH flagged AS (
      SELECT user_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL
               OR ts - lag(ts) OVER w > INTERVAL 6 HOUR THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 6 HOUR AS session_end,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, sess_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (6h inactivity gap) via built-in
    F.session_window — incremental state merge, vs. the oracle's batch
    gaps-and-islands self-window."""
    stream = _stream.read_stream(spark, sf_dir, "events")
    agg = _stream.session_window_agg(
        stream, "ts", "6 hours", ["user_id"], [F.count("*").alias("n_events")]
    )
    return _stream.run_to_memory(
        agg,
        "complete",
        state_partitions=_stream.adaptive_state_partitions(sf_dir, "events"),
    )


@query(
    "stream_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup on (user_id, event_type); delay
    exceeds the fixture's 30-day span so the result is exactly DISTINCT."""
    stream = _stream.read_stream(spark, sf_dir, "events")
    return _stream.run_to_memory(
        _stream.streaming_dedup(stream, ["user_id", "event_type"], "ts", "35 days"),
        "append",
        state_partitions=_stream.adaptive_state_partitions(sf_dir, "events"),
    )


@query(
    "stream_scd1_dim",
    """
    SELECT row_number() OVER (ORDER BY user_id) AS dim_user_key, user_id
    FROM (SELECT DISTINCT user_id FROM events)
    """,
)
def stream_scd1_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch bridge: each micro-batch flows through the SAME batch
    build_dim/atomic-overwrite path (one upsert implementation, both
    execution modes). Checkpoint gives at-least-once delivery; the
    key-stable SCD1 upsert makes replay a no-op (effectively-once).

    The STORED dim's surrogate keys follow arrival order (inherent to
    incremental key assignment; multi-batch stability is asserted in
    tests/test_streaming.py::test_multi_batch_scd1_keys_stable). The
    RETURNED projection re-ranks over the natural key so the result is
    invariant to how the source splits into micro-batches — the oracle
    match holds for any trigger/file split, not just the 1-file fixture."""

    from pyspark.sql import Window

    from incremental_data_pipeline_spark.operators.scd import build_dim

    base = scratch_dir("stream_scd1_")
    dim = _stream.fold_stream(
        _stream.read_stream(spark, sf_dir, "events").select("user_id", "ts"),
        os.path.join(base, "dim_user"),
        lambda batch, d: build_dim(batch, ["user_id"], [], "dim_user_key", d),
        os.path.join(base, "ckpt"),
    )
    return dim.select(
        F.row_number().over(Window.orderBy("user_id")).alias("dim_user_key"),
        "user_id",
    )


@query(
    "bronze_partition_retention",
    """
    WITH tagged AS (SELECT strftime(ts, '%Y-%m-%d') AS d FROM events),
    keep AS (SELECT DISTINCT d FROM tagged ORDER BY d DESC LIMIT 7)
    SELECT d, CAST(count(*) AS BIGINT) AS n_events
    FROM tagged JOIN keep USING (d)
    GROUP BY d
    """,
)
def bronze_partition_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window raw-layer retention: events land day-partitioned
    (``sinks.overwrite_partitions``), then maintenance.expire_partitions
    keeps the last 7 day-directories — the 'retain N days of bronze'
    policy, partition deletes only, no rewrite of survivors. The oracle
    reconstructs the expected surviving window, so an off-by-one in the
    retention cut or a partition lost to the expiry breaks the hash."""
    from incremental_data_pipeline_spark.sources.maintenance import (
        expire_partitions,
    )
    from incremental_data_pipeline_spark.sources.sinks import (
        overwrite_partitions,
    )

    base = scratch_dir("bronze_retention_")
    path = os.path.join(base, "bronze_events")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.date_format("ts", "yyyy-MM-dd").alias("d")
    )
    overwrite_partitions(ev, path, ["d"])
    expired = expire_partitions(path, "d", keep_last_n=7)
    assert all(isinstance(x, str) for x in expired)
    return (
        read_table(spark, path)
        # partition-dir values are strings; Spark type-infers DATE, the
        # oracle keeps VARCHAR — pin the public type.
        .groupBy(F.col("d").cast("string").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "stream_static_enrich",
    """
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events e JOIN customer c ON e.user_id % 1500 = c.c_custkey - 1
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming events source enriched against a
    BATCH dimension (customer segment), then aggregated — the standard
    'enrich a stream with a slowly-changing lookup' shape. The static
    side re-resolves per micro-batch (so a dim refresh is picked up
    without restarting the query) and Spark broadcasts it under AQE —
    the stream side never shuffles for the join. The user->customer
    mapping is a deterministic mod so the DuckDB twin reproduces it."""
    cust = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") - 1).alias("cust_mod"), "c_mktsegment"
    )
    ev = _stream.read_stream(spark, sf_dir, "events").select(
        (F.col("user_id") % 1500).alias("cust_mod"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    joined = ev.join(F.broadcast(cust), "cust_mod")
    agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )
    return _stream.run_to_memory(
        agg,
        "complete",
        state_partitions=_stream.adaptive_state_partitions(sf_dir, "events"),
    )


@query(
    "stream_scd2_dim",
    """
    SELECT user_id, event_type AS last_event_type FROM (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_type DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def stream_scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD TYPE 2 via foreachBatch: each micro-batch reduces to
    one row per user (its max-(ts, event_type) event) and flows through
    the SAME event-time-ordered upsert the batch path uses
    (scd.upsert_scd2_ordered) — the late-arrival guard makes file-order
    delivery and checkpoint replay both safe, so the STORED dim keeps a
    true change history while the CURRENT slice converges to the per-user
    last event regardless of how the source splits into micro-batches
    (asserted in tests/test_streaming.py with maxFilesPerTrigger=1).

    The returned projection is that split-invariant current slice; the
    history columns (valid_from/valid_to chains) are asserted in tests
    rather than the oracle because which INTERMEDIATE versions exist
    legitimately depends on micro-batch boundaries."""

    from incremental_data_pipeline_spark.operators.scd import upsert_scd2_ordered

    base = scratch_dir("stream_scd2_")
    empty = (
        "user_id long, last_event_type string, "
        "valid_from timestamp, valid_to timestamp, is_current boolean"
    )

    def step(batch: DataFrame, dim: DataFrame | None) -> DataFrame:
        src = (
            batch.groupBy("user_id")
            .agg(F.max(F.struct(F.col("ts"), F.col("event_type"))).alias("m"))
            .select(
                "user_id",
                F.col("m.ts").alias("eff_ts"),
                F.col("m.event_type").alias("last_event_type"),
            )
        )
        return upsert_scd2_ordered(
            spark.createDataFrame([], empty) if dim is None else dim,
            src,
            ["user_id"],
            ["last_event_type"],
            "eff_ts",
        )

    stream = _stream.read_stream(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    dim = _stream.fold_stream(
        stream, os.path.join(base, "dim_user_hist"), step, os.path.join(base, "ckpt")
    )
    return dim.filter(F.col("is_current")).select("user_id", "last_event_type")


@query(
    "stream_running_user_stats",
    """
    SELECT user_id, count(*) AS n_events, max(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_running_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    (count, max) in Arrow-batched Python state. Update mode emits one row
    per touched user per micro-batch; the running values are monotone, so a
    max over emissions = the final state regardless of how the source was
    split into batches (batch-count-invariant, hence oracle-stable)."""
    stream = _stream.read_stream(spark, sf_dir, "events").select("user_id", "value", "ts")
    updates = _stream.run_to_memory(
        _stream.running_user_stats(stream),
        "update",
        state_partitions=_stream.adaptive_state_partitions(sf_dir, "events"),
    )
    return updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("max_value").alias("max_value")
    )


# --------------------------------------------------------------------------
# Embedding-space near-dup + IVF ANN (north-star similarity extensions).
# --------------------------------------------------------------------------

_QV2 = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"


def _bucket_sql(num_planes: int, table: int = 0) -> str:
    """DuckDB twin of similarity._bucket over column ``v`` for one plane
    set (table index selects the independent OR-amplification set)."""
    planes = _sim.hyperplanes(num_planes, 64, table)
    sign_exprs = []
    for row in planes:
        lit = "[" + ", ".join(str(v) for v in row) + "]"
        sign_exprs.append(
            f"CASE WHEN list_sum(list_transform(range(1, 65), i -> ({lit})[i] * v[i])) > 0"
            " THEN '1' ELSE '0' END"
        )
    return "concat(" + ", ".join(sign_exprs) + ")"


def _near_dup_oracle(threshold: float, num_planes: int = 8, num_tables: int = 1) -> str:
    cos = (
        f"CAST({_dot('lv', 'rv')} AS DOUBLE) / "
        f"(sqrt(CAST({_dot('lv', 'lv')} AS DOUBLE)) * sqrt(CAST({_dot('rv', 'rv')} AS DOUBLE)))"
    )
    if num_tables == 1:
        return f"""
        WITH vecs AS (SELECT vec_id, {_QV2} AS v FROM embeddings),
        b AS (SELECT vec_id, v, {_bucket_sql(num_planes)} AS bucket FROM vecs),
        pairs AS (
          SELECT l.vec_id AS left_id, r.vec_id AS right_id, l.v AS lv, r.v AS rv
          FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
        SELECT left_id, right_id, {cos} AS cosine
        FROM pairs WHERE {cos} >= {threshold}
        """
    # OR-amplification twin: one bucket CTE per independent plane set
    # (table-index prefix keeps sets collision-free), candidates unioned,
    # each pair confirmed once.
    per_table = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, '{t}:' || {_bucket_sql(num_planes, t)} AS bucket FROM vecs"
        for t in range(num_tables)
    )
    return f"""
    WITH vecs AS (SELECT vec_id, {_QV2} AS v FROM embeddings),
    b AS (
      {per_table}),
    cand AS (
      SELECT DISTINCT l.vec_id AS left_id, r.vec_id AS right_id
      FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
    pairs AS (
      SELECT c.left_id, c.right_id, lv.v AS lv, rv.v AS rv
      FROM cand c
      JOIN vecs lv ON lv.vec_id = c.left_id
      JOIN vecs rv ON rv.vec_id = c.right_id)
    SELECT left_id, right_id, {cos} AS cosine
    FROM pairs WHERE {cos} >= {threshold}
    """


@query("embedding_near_dup", _near_dup_oracle(0.3))
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection in embedding space: LSH-bucket candidate
    pairs confirmed by exact cosine >= 0.3 (fixture has no true dups; the
    threshold sits at the tail of its similarity distribution). B is
    pinned to the oracle's 8 planes; the auto-sized path is
    ``embedding_near_dup`` with num_planes=None (default)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _sim.embedding_near_dup(emb, threshold=0.3, num_planes=8)


def _near_dup_auto_oracle(
    threshold: float, target_occupancy: int, num_tables: int
) -> str:
    """Dynamic-B twin of ``_near_dup_oracle``: B re-derived from count(*)
    with the auto_planes integer rule; each table's bucket is the B-char
    prefix of that table's max-width bit string (plane sets are
    prefix-stable per table seed)."""
    cos = (
        f"CAST({_dot('lv', 'rv')} AS DOUBLE) / "
        f"(sqrt(CAST({_dot('lv', 'lv')} AS DOUBLE)) * sqrt(CAST({_dot('rv', 'rv')} AS DOUBLE)))"
    )
    per_table = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, '{t}:' || substr({_bucket_sql(_sim.MAX_AUTO_PLANES, t)},"
        " 1, (SELECT b FROM params)) AS bucket FROM vecs"
        for t in range(num_tables)
    )
    return f"""
    WITH vecs AS (SELECT vec_id, {_QV2} AS v FROM embeddings),
    params AS (
      SELECT GREATEST(4, LEAST({_sim.MAX_AUTO_PLANES},
        CASE WHEN q <= 1 THEN 0 ELSE length(bin(q - 1)) END)) AS b
      FROM (SELECT (count(*) + {target_occupancy} - 1) // {target_occupancy} AS q
            FROM vecs)),
    b AS (
      {per_table}),
    cand AS (
      SELECT DISTINCT l.vec_id AS left_id, r.vec_id AS right_id
      FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
    pairs AS (
      SELECT c.left_id, c.right_id, lv.v AS lv, rv.v AS rv
      FROM cand c
      JOIN vecs lv ON lv.vec_id = c.left_id
      JOIN vecs rv ON rv.vec_id = c.right_id)
    SELECT left_id, right_id, {cos} AS cosine
    FROM pairs WHERE {cos} >= {threshold}
    """


@query(
    "embedding_near_dup_auto",
    _near_dup_auto_oracle(0.3, target_occupancy=64, num_tables=2),
)
def embedding_near_dup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB operating point for embedding near-dup: B =
    auto_planes(N, m=64) sizes buckets to the corpus (within-bucket
    work stays ~m² per bucket as N grows — the pinned-B variants'
    bucket populations, and so their confirm-scan volume, grow
    linearly with the corpus and the pair work quadratically, by
    contract) and
    TWO OR-amplified plane tables buy back the recall that raising B
    costs (1-(1-p)^2 per pair). The oracle re-derives B from count(*)
    and reproduces both tables' bucketing, so the auto-sizing rule and
    the amplification are both under the hash gate."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _sim.embedding_near_dup(
        emb, threshold=0.3, num_tables=2, target_occupancy=64
    )


@query("embedding_near_dup_or2", _near_dup_oracle(0.3, num_tables=2))
def embedding_near_dup_or2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified near-dup: candidates from TWO independent plane sets
    (recall 1-(1-p)^2 per pair vs a single table's p), each surviving pair
    confirmed once by exact cosine. This is the recall-recovery path when
    num_planes must grow with corpus size (B ≈ log2(N/m)); the oracle
    reproduces both plane sets and the cross-table candidate union."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _sim.embedding_near_dup(emb, threshold=0.3, num_planes=8, num_tables=2)


def _ivf_oracle(nlist: int, nprobe: int, k: int, q_lo: int = 20, q_hi: int = 40) -> str:
    cos_cv = (
        f"CAST({_dot('cv', 'ce')} AS DOUBLE) / "
        f"(sqrt(CAST({_dot('cv', 'cv')} AS DOUBLE)) * sqrt(CAST({_dot('ce', 'ce')} AS DOUBLE)))"
    )
    cos_qc = (
        f"CAST({_dot('qv', 'ce')} AS DOUBLE) / "
        f"(sqrt(CAST({_dot('qv', 'qv')} AS DOUBLE)) * sqrt(CAST({_dot('ce', 'ce')} AS DOUBLE)))"
    )
    return f"""
    WITH vecs AS (SELECT vec_id, {_QV2} AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS ce FROM vecs WHERE vec_id < {nlist}),
    assign AS (
      SELECT vec_id AS neighbor_id, v AS cv, cid,
        row_number() OVER (PARTITION BY vec_id ORDER BY {cos_cv} DESC, cid ASC) AS rnk
      FROM vecs CROSS JOIN cents),
    cells AS (SELECT neighbor_id, cv, cid AS cell FROM assign WHERE rnk = 1),
    qassign AS (
      SELECT vec_id AS query_id, v AS qv, cid,
        row_number() OVER (PARTITION BY vec_id ORDER BY {cos_qc} DESC, cid ASC) AS rnk
      FROM (SELECT * FROM vecs WHERE vec_id >= {q_lo} AND vec_id < {q_hi}) CROSS JOIN cents),
    probes AS (SELECT query_id, qv, cid AS cell FROM qassign WHERE rnk <= {nprobe}),
    scored AS (
      SELECT query_id, neighbor_id,
        CAST({_dot('qv', 'cv')} AS DOUBLE) /
        (sqrt(CAST({_dot('qv', 'qv')} AS DOUBLE)) * sqrt(CAST({_dot('cv', 'cv')} AS DOUBLE))) AS cosine
      FROM cells JOIN probes USING (cell)
      WHERE neighbor_id != query_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


# IVF codebooks are pure functions of (fixture path, nlist, kind) — the
# deterministic prefix variant trivially, the KMeans variant via its fixed
# seed. Memoizing skips the per-invocation collect (prefix) / training job
# (kmeans) when the same ANN query runs repeatedly, e.g. bench iterations —
# production ANN serving holds its codebook resident the same way.
_CODEBOOK_CACHE: dict[tuple[str, int, str], list[tuple[int, list[int]]]] = {}


def _cached_codebook(emb: DataFrame, sf_dir: str, nlist: int, kind: str):
    key = (os.path.abspath(sf_dir), nlist, kind)
    if key not in _CODEBOOK_CACHE:
        fn = {"prefix": _sim.centroid_codebook, "kmeans": _sim.kmeans_codebook}[kind]
        _CODEBOOK_CACHE[key] = fn(emb, nlist=nlist)
    return _CODEBOOK_CACHE[key]


@query("ann_ivf_topk", _ivf_oracle(nlist=8, nprobe=2, k=3))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: 8-cell deterministic codebook, queries probe their 2
    best cells; per-row codegen'd cell assignment, no shuffle on the corpus
    side beyond the final candidate equi-join."""
    emb = load_table(spark, sf_dir, "embeddings")
    codebook = _cached_codebook(emb, sf_dir, 8, "prefix")
    queries_df = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40))
    return _sim.ivf_topk(emb, queries_df, codebook, k=3, nprobe=2)


def _ann_auto_oracle(target_occupancy: int, k: int = 3) -> str:
    """Dynamic-B twin of ``_ann_oracle``: the SQL derives B from count(*)
    with the same integer-exact rule as ``similarity.auto_planes``
    (``length(bin(q-1))`` == Python's ``(q-1).bit_length()``), embeds the
    full MAX_AUTO_PLANES-wide bit string, and takes its B-char prefix —
    sound because ``hyperplanes`` is prefix-stable in the plane count."""
    bits = _bucket_sql(_sim.MAX_AUTO_PLANES)
    return f"""
    WITH vecs AS (SELECT vec_id, {_QV} AS v FROM embeddings),
    params AS (
      SELECT GREATEST(4, LEAST({_sim.MAX_AUTO_PLANES},
        CASE WHEN q <= 1 THEN 0 ELSE length(bin(q - 1)) END)) AS b
      FROM (SELECT (count(*) + {target_occupancy} - 1) // {target_occupancy} AS q
            FROM vecs)),
    bucketed AS (
      SELECT vec_id, v, substr({bits}, 1, (SELECT b FROM params)) AS bucket
      FROM vecs),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bucketed WHERE vec_id < 20),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id, {_COSINE_SQL} AS cosine
      FROM bucketed c JOIN q USING (bucket)
      CROSS JOIN LATERAL (SELECT c.v AS cv) t
      WHERE c.vec_id != query_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


@query("ann_lsh_auto_topk", _ann_auto_oracle(target_occupancy=64))
def ann_lsh_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with corpus-sized bucket width: B = auto_planes(N) — the
    100 TB guard made default — with the oracle re-deriving the SAME B
    from count(*) in SQL, so the auto-sizing rule itself is under the
    correctness gate, not just the bucketing it produces. target=64 keeps
    B above the floor at fixture scale (N=2000 -> B=5)."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = _sim.auto_planes(emb.count(), target_occupancy=64)
    return _sim.lsh_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=3, num_planes=b, dim=64
    )


def _ivf_auto_oracle(
    target_cell: int, nprobe: int, k: int, max_nlist: int = 65536
) -> str:
    """Dynamic-nlist twin of ``_ivf_oracle``: nlist = ceil(N/target_cell)
    computed in SQL with the same integer math as ``similarity.auto_nlist``
    (including the ``max_nlist`` clamp), then the prefix codebook is the
    nlist lowest-id vectors. Assignment ranks by the scaled dot
    ``dot(v,c)/|c|`` — argmax-equivalent to cosine and the exact doubles
    the Spark side computes with ``scaled_dot_assign=True``; the final
    candidate ranking stays full cosine."""
    cos_cv = (
        f"CAST({_dot('cv', 'ce')} AS DOUBLE) / "
        f"sqrt(CAST({_dot('ce', 'ce')} AS DOUBLE))"
    )
    cos_qc = (
        f"CAST({_dot('qv', 'ce')} AS DOUBLE) / "
        f"sqrt(CAST({_dot('ce', 'ce')} AS DOUBLE))"
    )
    return f"""
    WITH vecs AS (SELECT vec_id, {_QV2} AS v FROM embeddings),
    params AS (
      SELECT GREATEST(4, LEAST({max_nlist}, (count(*) + {target_cell} - 1) // {target_cell}))
        AS nlist
      FROM vecs),
    cents AS (SELECT vec_id AS cid, v AS ce FROM vecs
              WHERE vec_id < (SELECT nlist FROM params)),
    assign AS (
      SELECT vec_id AS neighbor_id, v AS cv, cid,
        row_number() OVER (PARTITION BY vec_id ORDER BY {cos_cv} DESC, cid ASC) AS rnk
      FROM vecs CROSS JOIN cents),
    cells AS (SELECT neighbor_id, cv, cid AS cell FROM assign WHERE rnk = 1),
    qassign AS (
      SELECT vec_id AS query_id, v AS qv, cid,
        row_number() OVER (PARTITION BY vec_id ORDER BY {cos_qc} DESC, cid ASC) AS rnk
      FROM (SELECT * FROM vecs WHERE vec_id >= 20 AND vec_id < 40) CROSS JOIN cents),
    probes AS (SELECT query_id, qv, cid AS cell FROM qassign WHERE rnk <= {nprobe}),
    scored AS (
      SELECT query_id, neighbor_id,
        CAST({_dot('qv', 'cv')} AS DOUBLE) /
        (sqrt(CAST({_dot('qv', 'qv')} AS DOUBLE)) * sqrt(CAST({_dot('cv', 'cv')} AS DOUBLE))) AS cosine
      FROM cells JOIN probes USING (cell)
      WHERE neighbor_id != query_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


@query(
    "ann_ivf_auto_topk",
    _ivf_auto_oracle(target_cell=256, nprobe=2, k=3, max_nlist=64),
)
def ann_ivf_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with corpus-sized cell count: nlist = auto_nlist(N), the
    oracle re-deriving the SAME nlist (including the clamp) from
    count(*) — mean cell occupancy stays ~target_cell as the corpus
    grows instead of cells fattening linearly with N. target=256
    exercises a non-floor nlist at sf0.1 (N=2000 -> nlist=8).

    Why the 64-cell clamp (the sf10 lesson — 61x wall for 10x data
    unclamped): FLAT assignment costs one dot per (row, centroid), so
    letting nlist track N/target makes assignment N²/target. Clamping
    nlist keeps this one-shot variant linear (N·64 scaled dots — the
    scaled-dot rank is one dot per cell, not three); when the corpus
    outgrows the clamp, growth belongs to the shapes built for it:
    `ann_ivf2_topk` (hierarchical, N·2√nlist), `ann_lsh_auto_topk`
    (N·log cells), or `ann_ivf_index_persisted` (assignment amortized
    across runs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    nlist = _sim.auto_nlist(emb.count(), target_cell=256, max_nlist=64)
    codebook = _cached_codebook(emb, sf_dir, nlist, "prefix")
    queries_df = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40))
    return _sim.ivf_topk(
        emb, queries_df, codebook, k=3, nprobe=2, scaled_dot_assign=True
    )


def _ivf2_auto_oracle(target_cell: int, nprobe: int, k: int) -> str:
    """DuckDB twin of ``ivf2_topk`` with auto nlist: two-level assignment
    (row -> best super -> best fine within super) as two windowed argmax
    steps, fine->super mapping re-derived with the same rule. Assignment
    ranks by the scaled dot ``dot(v,c)/|c|`` (argmax-equivalent to
    cosine; |v| constant per row) — the exact doubles the Spark side
    computes against its precomputed-norm literals — while the final
    candidate ranking uses the full cosine."""

    def score(a: str, b: str) -> str:
        return (
            f"CAST({_dot(a, b)} AS DOUBLE) / "
            f"sqrt(CAST({_dot(b, b)} AS DOUBLE))"
        )

    def cos(a: str, b: str) -> str:
        return (
            f"CAST({_dot(a, b)} AS DOUBLE) / "
            f"(sqrt(CAST({_dot(a, a)} AS DOUBLE)) * sqrt(CAST({_dot(b, b)} AS DOUBLE)))"
        )

    return f"""
    WITH vecs AS (SELECT vec_id, {_QV2} AS v FROM embeddings),
    params AS (
      SELECT GREATEST(4, LEAST(65536, (count(*) + {target_cell} - 1) // {target_cell}))
        AS nlist
      FROM vecs),
    sparams AS (SELECT CAST(ceil(sqrt(nlist)) AS BIGINT) AS s FROM params),
    cents AS (SELECT vec_id AS cid, v AS ce FROM vecs
              WHERE vec_id < (SELECT nlist FROM params)),
    supers AS (SELECT cid AS sid, ce AS se FROM cents
               WHERE cid < (SELECT s FROM sparams)),
    f2s AS (
      SELECT cid, ce, sid FROM (
        SELECT c.cid, c.ce, s.sid,
          row_number() OVER (PARTITION BY c.cid
                             ORDER BY {score('ce', 'se')} DESC, s.sid ASC) AS rn
        FROM cents c CROSS JOIN supers s) WHERE rn = 1),
    rsuper AS (
      SELECT vec_id, v, sid FROM (
        SELECT vec_id, v, s.sid,
          row_number() OVER (PARTITION BY vec_id
                             ORDER BY {score('v', 'se')} DESC, s.sid ASC) AS rn
        FROM vecs CROSS JOIN supers s) WHERE rn = 1),
    cells AS (
      SELECT vec_id AS neighbor_id, cv, cell FROM (
        SELECT r.vec_id, r.v AS cv, f.cid AS cell,
          row_number() OVER (PARTITION BY r.vec_id
                             ORDER BY {score('v', 'ce')} DESC, f.cid ASC) AS rn
        FROM rsuper r JOIN f2s f ON f.sid = r.sid) WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, qv, cell FROM (
        SELECT r.vec_id, r.v AS qv, f.cid AS cell,
          row_number() OVER (PARTITION BY r.vec_id
                             ORDER BY {score('v', 'ce')} DESC, f.cid ASC) AS rn
        FROM rsuper r JOIN f2s f ON f.sid = r.sid
        WHERE r.vec_id >= 20 AND r.vec_id < 40) WHERE rn <= {nprobe}),
    scored AS (
      SELECT query_id, neighbor_id, {cos('qv', 'cv')} AS cosine
      FROM cells JOIN probes USING (cell)
      WHERE neighbor_id != query_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


@query("ann_ivf2_topk", _ivf2_auto_oracle(target_cell=256, nprobe=2, k=3))
def ann_ivf2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (two-level) IVF ANN: per-row assignment drops from
    nlist to ~2*sqrt(nlist) dot products — with nlist ∝ N this removes
    the N×nlist assign term the sf1 measurement surfaced as the last
    superlinear residue. Both levels use the deterministic
    (cosine desc, id asc) argmax, so the oracle re-derives the full
    super->fine->cell assignment from count(*) alone."""
    emb = load_table(spark, sf_dir, "embeddings")
    nlist = _sim.auto_nlist(emb.count(), target_cell=256)
    codebook = _cached_codebook(emb, sf_dir, nlist, "prefix")
    queries_df = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40))
    return _sim.ivf2_topk(emb, queries_df, codebook, k=3, nprobe=2)


@query("ann_ivf_kmeans_topk")  # rows-only: MLlib-trained centroids are
# impl-specific — no SQL engine reproduces the codebook. Search recall vs
# the prefix codebook is asserted in tests/test_similarity.py.
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN over a TRAINED codebook (deterministic-seed MLlib
    KMeans): the quality path. Same plan shape as ann_ivf_topk — the
    trained centroids still enter as one nested-array literal."""
    emb = load_table(spark, sf_dir, "embeddings")
    codebook = _cached_codebook(emb, sf_dir, 8, "kmeans")
    queries_df = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40))
    return _sim.ivf_topk(emb, queries_df, codebook, k=3, nprobe=2)


@query(
    "multimodal_frames",
    """
    WITH sized AS (
      SELECT doc_id, text, length(text) AS size,
             greatest(length(text) // 4, 1) AS step
      FROM documents)
    SELECT doc_id,
      CAST(i AS INTEGER) AS frame_idx,
      CAST(least(i * step, size) AS BIGINT) AS frame_offset,
      CAST(length(substring(text, least(i * step, size) + 1, step)) AS BIGINT) AS frame_bytes,
      md5(substring(text, least(i * step, size) + 1, step)) AS frame_md5
    FROM sized CROSS JOIN range(0, 4) r(i)
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-keyframe-shaped plumbing: 4 evenly spaced byte-slice 'frames'
    per binary payload via Arrow-batched mapInPandas (1 row -> 4 rows inside
    the batch, no shuffle). Oracle is exact because the fixture text is pure
    ASCII (byte slice == char slice)."""
    docs = load_table(spark, sf_dir, "documents")
    return _mm.frame_sample(_mm.attach_binary(docs), n_frames=4)


@query(
    "multimodal_features",
    """
    WITH chars AS (
      SELECT doc_id, ascii(unnest(string_split(text, ''))) // 16 AS bin FROM documents
    ),
    counts AS (
      SELECT doc_id, bin, count(*) AS cnt FROM chars GROUP BY 1, 2
    ),
    tot AS (SELECT doc_id, sum(cnt) AS total FROM counts GROUP BY 1)
    SELECT d.doc_id, CAST(b.i AS INTEGER) AS bin,
      CAST(coalesce(c.cnt, 0) AS DOUBLE) / t.total AS weight
    FROM (SELECT DISTINCT doc_id FROM documents) d
    CROSS JOIN range(0, 16) b(i)
    LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.bin = b.i
    JOIN tot t ON t.doc_id = d.doc_id
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake-featurizer stand-in for an image/audio encoder: 16-bin byte
    histogram per payload, exploded to flat (doc_id, bin, weight) rows so
    every cell is a hashable scalar. The array<double> form the similarity
    operators consume stays available via ``operators.multimodal
    .extract_features``; the oracle is exact because the fixture text is
    pure ASCII (char histogram == byte histogram) and both engines compute
    weight as the same IEEE double division count/total."""
    docs = load_table(spark, sf_dir, "documents")
    feats = _mm.extract_features(_mm.attach_binary(docs))
    return feats.select("doc_id", F.posexplode("feature").alias("bin", "weight"))


# --------------------------------------------------------------------------
# Extended relational surface: multi-level aggregation, analytic windows,
# set ops, skew-safe and as-of joins. Free wins on Spark (SURVEY §2.4/§2.6
# "all 1-liners if we choose to expose them") — exposed with oracles.
# --------------------------------------------------------------------------


@query(
    "agg_rollup",
    """
    SELECT
      CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
      o_orderpriority,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      count(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP (1, 2)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals (year, priority) -> (year) -> (grand): one pass,
    Catalyst Expand + partial agg — no N-query union."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup(
        F.year("o_orderdate").cast("int").alias("order_year"), "o_orderpriority"
    ).agg(dec_sum("o_totalprice", "total_price"), F.count(F.lit(1)).alias("n_orders"))


@query(
    "agg_cube",
    """
    SELECT
      o_orderstatus,
      o_orderpriority,
      count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (1, 2)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "window_lag_gap",
    """
    SELECT o_custkey, o_orderkey,
      date_diff('day',
        lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        o_orderdate) AS days_since_prev
    FROM orders
    """,
)
def window_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer inter-order gap via lag(): analytic window, order made
    total by (date, key) so ties can't flip cross-engine."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias(
            "days_since_prev"
        ),
    )


@query(
    "except_lapsed_custs",
    """
    SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
    EXCEPT
    SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1998
    """,
)
def except_lapsed_custs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference: customers active in 1997 who placed nothing in 1998."""
    o = load_table(spark, sf_dir, "orders")
    y97 = o.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    y98 = o.filter(F.year("o_orderdate") == 1998).select("o_custkey")
    return y97.subtract(y98)


@query(
    "salted_join_revenue",
    """
    SELECT o.o_orderpriority,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      count(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe join: deterministic salt on the probe side, replicated
    build side — result identical to the plain join (the oracle IS the
    plain join), only the shuffle layout changes."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = relational.salted_join(
        li.select(F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"),
        o,
        ["o_orderkey"],
        n_salts=8,
    )
    return joined.groupBy("o_orderpriority").agg(
        dec_sum("l_extendedprice", "revenue"), F.count(F.lit(1)).alias("n_items")
    )


@query(
    "bloom_prejoin_revenue",
    """
    SELECT p.p_brand,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 5
    GROUP BY 1
    """,
)
def bloom_prejoin_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom semi-join reduction: revenue of lineitems for small parts
    (p_size <= 5), with the fact side pre-filtered by a bloom bitmap built
    from the filtered dim keys BEFORE the join shuffle. At 100 TB the
    shuffle then moves only ~selectivity of the fact table instead of all
    of it; the exact join afterwards removes bloom false positives, so the
    result — and the oracle — is the plain join. The join itself is
    forced off broadcast (merge hint) to model the
    dim-too-big-to-broadcast case this pattern exists for."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select("p_partkey", "p_brand")
    )
    bitmap = relational.bloom_build(p, "p_partkey", m_bits=1 << 16, n_hashes=5)
    pruned = relational.bloom_prefilter(li, bitmap, "l_partkey", n_hashes=5)
    joined = pruned.join(
        p.hint("merge"), pruned.l_partkey == p.p_partkey
    )
    return joined.groupBy("p_brand").agg(
        dec_sum("l_extendedprice", "revenue"), F.count(F.lit(1)).alias("n_items")
    )


@query(
    "asof_join_last_order",
    """
    WITH ev AS (SELECT event_id, user_id, ts FROM events),
    o AS (
      SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS ots,
             max(o_orderkey) AS last_orderkey
      FROM orders GROUP BY 1, 2)
    SELECT ev.event_id, ev.user_id, ev.ts, o.last_orderkey
    FROM ev ASOF LEFT JOIN o ON ev.user_id = o.user_id AND ev.ts >= o.ots
    """,
)
def asof_join_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (the canonical time-series lookup Spark lacks as a
    primitive): each event picks up the latest order at-or-before its
    timestamp — union + single key shuffle + running last(), never a
    per-key quadratic theta-join. Oracle: DuckDB's native ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("ots"),
        )
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    return relational.asof_join(
        ev, o, ["user_id"], "ts", "ots", ["last_orderkey"]
    )


@query(
    "json_props_stats",
    """
    SELECT event_type,
      count(*) AS n_events,
      CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
      max(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props column: typed from_json parse (stays in
    Tungsten, no string re-parse per access) then a plain agg."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k INT"))
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("p.k").cast("bigint").alias("sum_k"),
        F.max("p.k").alias("max_k"),
    )


@query(
    "text_bpe_tokens",
    r"""
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)
        AS n_bpe_tokens,
      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways: whitespace split (hot path) and the BPE-ish
    pre-tokenizer regex (words | numbers | single punctuation) — the
    LLM-pipeline token-budget estimator."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(_text.tokens_regex("text")).cast("long").alias("n_bpe_tokens"),
        F.size(_text.tokens("text")).cast("long").alias("n_ws_tokens"),
    )


@query(
    "window_running_total",
    """
    SELECT o_custkey, o_orderkey,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS running_spend
    FROM orders
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit frame spec (rowsBetween): per-customer cumulative spend.
    Total order (date, key) + decimal partial sums keep it bit-stable."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
    )


@query(
    "sketch_stats",
    """
    SELECT count(DISTINCT l_orderkey) AS exact_orders,
      TRUE AS hll_within_5pct,
      TRUE AS p50_in_rank_bounds,
      TRUE AS p95_in_rank_bounds,
      TRUE AS p99_in_rank_bounds,
      count(*) AS n_rows
    FROM lineitem
    """,
)
def sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates for 100 TB profiling: HyperLogLog++ distinct count
    and approximate percentiles — one pass, fixed memory, mergeable partial
    states (vs. exact count-distinct's full shuffle of the key universe).

    Raw sketch VALUES are engine-specific, so the query emits the sketches'
    published ERROR CONTRACTS as deterministic booleans instead (plus the
    exact anchors), which the DuckDB oracle reproduces as literal TRUE:
    - ``hll_within_5pct``: |HLL++(rsd=0.02) − exact| / exact ≤ 0.05
      (2.5 standard errors; Spark's HLL hash is fixed, so the flag is
      deterministic for a given dataset — if the sketch ever drifts past
      its bound the hash comparison goes red, which is the audit we want).
    - ``pXX_in_rank_bounds``: percentile_approx(accuracy=10000) guarantees
      a result whose RANK is within 1/accuracy·n of the target quantile's;
      the flag checks the value lies between the exact interpolated
      percentiles at q ∓ (2/accuracy + 3/n). The 2/accuracy term is the
      sketch contract with one slack; the 3/n term widens the window by
      three RANKS so the bound stays meaningful when 1/accuracy·n < 1 row
      (tiny fixtures, where interpolation between adjacent data values
      otherwise makes the window narrower than the one-rank granularity
      the sketch can return). n comes from a parquet metadata-only
      count(*) — no extra data scan at any scale.
    One extra exact-percentile/distinct pass pays for auditability here;
    the pure-sketch single-pass shape (what a 100 TB profiler runs) is the
    same agg without the anchors."""
    li = load_table(spark, sf_dir, "lineitem")
    acc = 10000
    eps = 2.0 / acc + 3.0 / max(li.count(), 1)
    bound_qs = [
        min(max(q, 0.0), 1.0)
        for q in (0.5 - eps, 0.5 + eps, 0.95 - eps, 0.95 + eps, 0.99 - eps, 0.99 + eps)
    ]
    agg = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], acc).alias("_q"),
        F.expr(
            "percentile(l_extendedprice, array("
            + ", ".join(f"{q!r}D" for q in bound_qs)
            + "))"
        ).alias("_b"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    within = (
        F.abs(F.col("approx_orders") - F.col("exact_orders"))
        / F.col("exact_orders")
    ) <= F.lit(0.05)
    return agg.select(
        "exact_orders",
        within.alias("hll_within_5pct"),
        F.col("_q")[0].between(F.col("_b")[0], F.col("_b")[1]).alias(
            "p50_in_rank_bounds"
        ),
        F.col("_q")[1].between(F.col("_b")[2], F.col("_b")[3]).alias(
            "p95_in_rank_bounds"
        ),
        F.col("_q")[2].between(F.col("_b")[4], F.col("_b")[5]).alias(
            "p99_in_rank_bounds"
        ),
        "n_rows",
    )


_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@query(
    "pivot_orders_by_priority",
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
      count(*) FILTER (o_orderpriority = '1-URGENT') AS "1-URGENT",
      count(*) FILTER (o_orderpriority = '2-HIGH') AS "2-HIGH",
      count(*) FILTER (o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
      count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
      count(*) FILTER (o_orderpriority = '5-LOW') AS "5-LOW"
    FROM orders GROUP BY 1
    """,
)
def pivot_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide): explicit value list so the plan is a single
    groupBy with conditional aggregates — no extra distinct-scan job, stable
    column set at any scale."""
    o = load_table(spark, sf_dir, "orders")
    out = (
        o.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .pivot("o_orderpriority", list(_PRIORITIES))
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "order_year", *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(p) for p in _PRIORITIES]
    )


@query(
    "revenue_percentiles",
    """
    SELECT l_returnflag,
      quantile_cont(l_extendedprice, 0.25) AS price_p25,
      quantile_cont(l_extendedprice, 0.5) AS price_p50,
      quantile_cont(l_extendedprice, 0.75) AS price_p75,
      count(*) AS n
    FROM lineitem GROUP BY 1
    """,
)
def revenue_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group: both engines use the same
    linear interpolation on sorted doubles, so even this is bit-stable.
    Quartiles are projected as three scalar double columns (not an
    array<double>) so downstream tabular consumers — including the driver's
    pandas canonicalizer — get hashable flat columns.
    (The sketch variant for 100 TB is `sketch_stats`.)"""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))")
    return (
        li.groupBy("l_returnflag")
        .agg(q.alias("_q"), F.count(F.lit(1)).alias("n"))
        .select(
            "l_returnflag",
            F.col("_q")[0].alias("price_p25"),
            F.col("_q")[1].alias("price_p50"),
            F.col("_q")[2].alias("price_p75"),
            "n",
        )
    )


_TOP_CUSTOMERS_SQL = """
SELECT c.c_custkey, c.c_name,
  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lifetime_value,
  count(*) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY lifetime_value DESC, c_custkey ASC
LIMIT 10
"""


@query("sql_api_top_customers", _TOP_CUSTOMERS_SQL)
def sql_api_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-API surface (reference S6: spark.sql over registered views,
    gold_dim_branch.py:32-37): the SAME SQL text the DuckDB oracle runs,
    executed by Spark on temp views. The global ORDER BY + LIMIT compiles
    to TakeOrderedAndProject (per-partition top-k, k-row merge on the
    driver — no global sort)."""
    from incremental_data_pipeline_spark.sources.readers import register_views

    register_views(spark, sf_dir, "orders", "customer")
    return spark.sql(_TOP_CUSTOMERS_SQL)


def _simhash_near_dup_oracle(max_hamming: int = 3) -> str:
    n_blocks = max_hamming + 1
    width = 32 // n_blocks
    blocks = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS blk, "
        f"(simhash // {1 << (j * width)}) % {1 << width} AS blk_val FROM sh"
        for j in range(n_blocks)
    )
    return f"""
    WITH sim AS ({_simhash_oracle().strip()}),
    sh AS (SELECT doc_id, simhash FROM sim),
    banded AS ({blocks})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM banded a JOIN banded b
      ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@query("dedup_simhash_hamming", _simhash_near_dup_oracle(3))
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3) with block-pigeonhole candidate
    generation — equi-joins on fingerprint blocks, never all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3)


@query(
    "intersect_retained_custs",
    """
    SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
    INTERSECT
    SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1998
    """,
)
def intersect_retained_custs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection: customers active in both 1997 and 1998."""
    o = load_table(spark, sf_dir, "orders")
    y97 = o.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    y98 = o.filter(F.year("o_orderdate") == 1998).select("o_custkey")
    return y97.intersect(y98)


@query(
    "dedup_exact_corpus",
    """
    SELECT d.doc_id, d.text FROM documents d
    JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
      USING (doc_id)
    """,
)
def dedup_exact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself (not just the groups): canonical
    min-id row per content hash, materialized via left-semi join."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _dedup.exact_dedup(docs, "text", "doc_id")


# --------------------------------------------------------------------------
# Driver-visible coverage for the remaining SURVEY §2 scan/catalog/merge
# rows (S1, S7/S10/S12/S13, J3, P6/P7) — each previously pytest-only.
# --------------------------------------------------------------------------


@query(
    "csv_ingest_nation",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def csv_ingest_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 CSV ingestion source (reference: ADF Copy of SalesData.csv,
    create_table_query.sql:1-15): the nation table is round-tripped through
    a CSV file carrying the reference corpus's dirty-data traits — UTF-8 BOM
    on the header row, quoted fields — then ingested via read_csv_source
    with an explicit schema (no inferSchema scan). Oracle reads the
    original parquet: a lossless ingest means identical rows."""
    import csv as _csv

    import pyarrow.parquet as pq

    base = scratch_dir("csv_ingest_")
    csv_path = os.path.join(base, "nation.csv")
    tbl = pq.read_table(os.path.join(sf_dir, "nation.parquet")).to_pylist()
    with open(csv_path, "w", newline="", encoding="utf-8-sig") as f:  # BOM
        w = _csv.writer(f, quoting=_csv.QUOTE_NONNUMERIC)  # quoted strings
        w.writerow(["n_nationkey", "n_name", "n_regionkey"])
        for row in tbl:
            w.writerow([row["n_nationkey"], row["n_name"], row["n_regionkey"]])

    from incremental_data_pipeline_spark.sources.readers import read_csv_source

    return read_csv_source(
        spark, csv_path, schema="n_nationkey INT, n_name STRING, n_regionkey INT"
    )


@query(
    "parquet_corrupt_quarantine",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_good_rows,
           CAST(2 AS BIGINT) AS n_quarantined
    FROM nation
    """,
)
def parquet_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet bronze with corrupt-file quarantine: the nation table lands
    in a directory alongside TWO unreadable files (pure garbage bytes and
    a mid-footer truncation of a real file); the batch still completes,
    reads exactly the intact rows, and the quarantine probe logs both bad
    files — the skip is never silent. Oracle: full nation row count plus
    the planted corrupt-file count. Layout-agnostic: the fixture table
    may be one flat file (driver testdata) or a Spark-written DIRECTORY
    of part files (scale fixtures) — every intact part is landed."""
    import shutil

    from incremental_data_pipeline_spark.sources.readers import (
        read_parquet_quarantine,
    )

    base = scratch_dir("pq_quarantine_")
    land = os.path.join(base, "bronze_nation")
    os.makedirs(land)
    src = os.path.join(sf_dir, "nation.parquet")
    if os.path.isdir(src):
        parts = sorted(
            os.path.join(src, p)
            for p in os.listdir(src)
            if p.endswith(".parquet")
        )
    else:
        parts = [src]
    for i, p in enumerate(parts):
        shutil.copy(p, os.path.join(land, f"part-{i:05d}.parquet"))
    # planted corrupt files sort AFTER the intact parts: Spark's schema
    # inference reads the first listed footer, and ignoreCorruptFiles
    # does not cover the inference pass
    with open(os.path.join(land, "part-zz-garbage.parquet"), "wb") as f:
        f.write(b"not parquet at all")
    with open(parts[0], "rb") as f:
        intact = f.read()
    with open(os.path.join(land, "part-zz-truncated.parquet"), "wb") as f:
        f.write(intact[: max(8, len(intact) // 2)])  # footer gone

    good, quarantined = read_parquet_quarantine(spark, land)
    n_bad = quarantined.count()
    return good.groupBy().agg(
        F.count(F.lit(1)).alias("n_good_rows"),
        F.lit(n_bad).cast("bigint").alias("n_quarantined"),
    )


@query(
    "jsonl_ingest_docs",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def jsonl_ingest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingestion source: document metadata is round-tripped
    through a JSONL file (the standard raw-drop format for training data)
    and ingested via read_jsonl_source with an explicit schema, then
    aggregated per language. Oracle reads the original parquet: a lossless
    ingest means identical aggregates."""
    import json as _json

    import pyarrow.parquet as pq

    base = scratch_dir("jsonl_ingest_")
    jsonl_path = os.path.join(base, "docs.jsonl")
    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "lang", "n_chars"]
    ).to_pylist()
    with open(jsonl_path, "w", encoding="utf-8") as f:
        for row in tbl:
            f.write(_json.dumps(row) + "\n")

    from incremental_data_pipeline_spark.sources.readers import read_jsonl_source

    docs = read_jsonl_source(
        spark, jsonl_path, schema="doc_id BIGINT, lang STRING, n_chars INT"
    )
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@query(
    "stream_jsonl_ingest",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def stream_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING JSON-lines ingestion: the raw-drop directory consumed as
    a file-source stream (readStream.json, explicit schema — the landing
    pattern for continuously arriving training-data shards), aggregated
    per language in complete mode. Oracle reads the original parquet: a
    lossless streaming ingest means identical aggregates to batch."""
    import json as _json

    import pyarrow.parquet as pq

    base = scratch_dir("stream_jsonl_")
    drop_dir = os.path.join(base, "drops")
    os.makedirs(drop_dir)
    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "lang", "n_chars"],
    ).to_pylist()
    # two shards -> two source files, as a real drop directory would have
    half = len(tbl) // 2
    for i, chunk in enumerate((tbl[:half], tbl[half:])):
        with open(os.path.join(drop_dir, f"shard{i}.jsonl"), "w") as f:
            for row in chunk:
                f.write(_json.dumps(row) + "\n")

    stream = (
        spark.readStream.schema("doc_id BIGINT, lang STRING, n_chars INT")
        .option("maxFilesPerTrigger", "1")
        .json(drop_dir)
    )
    agg = stream.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    return _stream.run_to_memory(
        agg,
        "complete",
        state_partitions=_stream.adaptive_state_partitions(drop_dir),
    )


@query(
    "time_travel_versions",
    """
    SELECT CAST(0 AS INT) AS versions_back, CAST(count(*) AS BIGINT) AS n_rows FROM nation
    UNION ALL
    SELECT 1, count(*) FROM nation WHERE n_nationkey < 20
    UNION ALL
    SELECT 2, count(*) FROM nation WHERE n_nationkey < 10
    """,
)
def time_travel_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 versioned-table emulation made driver-visible (reference:
    DeltaTable.forPath / version-pinned reads, gold_dim_branch.py:178):
    four successive versioned overwrites of a table, retention expiring
    the oldest (maintenance.expire_versions — the VACUUM analog), then
    read-by-version — current, one back, two back — proving retained
    versions stay readable and retention can't touch the current pointer,
    all under the oracle gate."""

    from incremental_data_pipeline_spark.sources.maintenance import expire_versions
    from incremental_data_pipeline_spark.sources.sinks import (
        read_version,
        versioned_overwrite,
    )

    base = scratch_dir("time_travel_")
    path = os.path.join(base, "nation_versions")
    nation = load_table(spark, sf_dir, "nation")
    cur = 0
    for cap in (5, 10, 20, None):  # v1: <5, v2: <10, v3: <20, v4: all
        ver = nation if cap is None else nation.filter(F.col("n_nationkey") < cap)
        cur = versioned_overwrite(ver, path, keep=0)  # retention handled below
    assert expire_versions(path, keep_last_n=3) == [1]  # v1 vacuumed
    try:
        read_version(spark, path, version=1)
        raise AssertionError("expired version must fail loudly")
    except FileNotFoundError:
        pass
    out = None
    for back in (0, 1, 2):
        cnt = (
            read_version(spark, path, version=cur - back)
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(F.lit(back).cast("int").alias("versions_back"), "n_rows")
        )
        out = cnt if out is None else out.unionByName(cnt)
    return out


@query(
    "stream_click_purchase_join",
    """
    SELECT c.user_id, CAST(count(*) AS BIGINT) AS n_pairs
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    GROUP BY c.user_id
    """,
)
def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (funnel analysis): every click paired
    with the same user's purchases within the following hour, as two
    watermarked streams over the events source; pairs counted per user
    after the drain. Inner interval joins emit as soon as both sides
    arrive, so the result is micro-batch-split-invariant."""
    ev = _stream.read_stream(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    joined = _stream.stream_interval_join(
        clicks, purchases, "user_id", "ts", "p_ts", within="1 hour"
    )
    pairs = _stream.run_to_memory(
        joined,
        "append",
        state_partitions=_stream.adaptive_state_partitions(sf_dir, "events"),
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


@query(
    "catalog_roundtrip_dim",
    """
    SELECT row_number() OVER (ORDER BY segment) AS dim_segment_key, segment
    FROM (SELECT DISTINCT c_mktsegment AS segment FROM customer)
    """,
)
def catalog_roundtrip_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 catalog DDL + S10 saveAsTable + S12 tableExists + S7 catalog
    scan, in one round trip (reference: database_notebook.py:8-23 CREATE
    SCHEMA, gold_dim_branch.py:51 tableExists gate, gold_fact.py:22-25
    catalog-table reads): build a segment dim, persist it as a managed
    parquet table in the gold database, probe existence, read it back
    through the catalog. When the SessionAliasCatalog plugin is on the
    session's classpath (java/idps.jar — every get_spark session), the
    round trip ALSO runs through the reference's verbatim 3-level names
    (``cars_catalog.gold.dim_segment_probe``): overwrite-write, exists
    probe, and read all through the 3-part identifier. The returned data
    is identical either way, so the oracle covers both environments (the
    driver harness session lacks the jar and takes the 2-part path)."""
    from incremental_data_pipeline_spark.operators.scd import build_dim
    from incremental_data_pipeline_spark.sources.catalog import LayerCatalog

    cat = LayerCatalog(spark)  # S13: CREATE DATABASE IF NOT EXISTS ...
    cust = load_table(spark, sf_dir, "customer")
    dim = build_dim(
        cust.select(F.col("c_mktsegment").alias("segment")),
        ["segment"],
        [],
        "dim_segment_key",
    )
    # reclaim: this probe owns its scratch table; pre-marker runs may have
    # left an unmarked orphan dir at its location.
    cat.write(dim, "gold", "dim_segment_probe", reclaim=True)  # S10: saveAsTable
    assert cat.exists("gold", "dim_segment_probe")  # S12: tableExists
    q3 = cat.three_part("gold", "dim_segment_probe")
    if q3 is not None:
        # the reference's literal surface: cars_catalog.gold.<table>
        dim.write.mode("overwrite").saveAsTable(q3)  # S10 via 3-level name
        assert spark.catalog.tableExists(q3)  # S12 via 3-level name
        return spark.table(q3)  # S7 via 3-level name
    return cat.read("gold", "dim_segment_probe")  # S7: catalog scan


@query(
    "scd1_composite_upsert",
    """
    WITH target AS (
      SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_linenumber <= 4
    ),
    source AS (
      SELECT l_orderkey, l_linenumber, l_quantity * 2 AS l_quantity
      FROM lineitem WHERE l_linenumber >= 3
    )
    SELECT * FROM source
    UNION ALL
    SELECT t.* FROM target t
    WHERE NOT EXISTS (
      SELECT 1 FROM source s
      WHERE s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
    )
    """,
)
def scd1_composite_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 composite-key MERGE (reference: gold_fact.py:56 merges on 4
    surrogate keys): upsert_scd1 on the 2-part key (l_orderkey,
    l_linenumber) — source rows update quantity on matched keys, insert on
    new keys, untouched target rows survive. Both legs are one hash join on
    the composite key; no row-at-a-time logic."""
    li = load_table(spark, sf_dir, "lineitem")
    target = li.filter(F.col("l_linenumber") <= 4).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    source = li.filter(F.col("l_linenumber") >= 3).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") * 2).alias("l_quantity"),
    )
    return scd.upsert_scd1(target, source, ["l_orderkey", "l_linenumber"])


@query(
    "schema_probe_union",
    """
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    WHERE o_totalprice > 100000.0 AND o_orderpriority = '1-URGENT'
    """,
)
def schema_probe_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 schema-only empty frame + P7 SQL-string predicate (reference:
    gold_dim_branch.py:52-58 `WHERE 1=0` schema derivation, :200
    filter('...')): the accumulator starts as a WHERE 1=0 projection of the
    source (zero rows, full schema — the reference's bootstrap idiom) and
    rows filtered by a raw SQL-string predicate are unioned by name into
    it. The empty leg contributes schema, not rows, so the oracle is the
    plain filtered select."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    schema_only = o.filter("1=0")  # P6: empty, schema-carrying bootstrap
    hits = o.filter("o_totalprice > 100000.0 AND o_orderpriority = '1-URGENT'")  # P7
    return schema_only.unionByName(hits)


@query(
    "multimodal_image_decode",
    """
    WITH m AS (
      SELECT doc_id, length(text) AS n,
             (length(text) + 15) // 16 AS h,
             list_sum(list_transform(range(1, length(text)+1),
                                     i -> unicode(text[i:i]))) AS sum_codes
      FROM documents)
    SELECT doc_id,
           CAST(16 AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(255 AS INT) AS maxval,
           CAST((1000*(sum_codes + 32*(16*h - n))) // (16*h) AS BIGINT)
             AS mean_pixel_milli
    FROM m
    """,
)
def multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image round trip: each document rendered as a binary PGM (P5)
    grayscale image (JVM-side construction), then DECODED by the pure-
    Python PGM parser in an Arrow batch — dimensions, maxval, and an
    integer-exact mean pixel the oracle recomputes from the codepoints
    (ASCII corpus: byte == codepoint; padding is 0x20)."""
    docs = load_table(spark, sf_dir, "documents")
    return _mm.decode_image(_mm.attach_pgm_image(docs))


@query(
    "multimodal_image_resize",
    """
    WITH m AS (
      SELECT doc_id, length(text) AS n,
             (length(text) + 15) // 16 AS h,
             greatest(((length(text) + 15) // 16) // 2, 1) AS oh,
             text
      FROM documents),
    s AS (
      SELECT doc_id, oh,
        list_sum(list_transform(range(0, oh * 8),
          i -> CASE WHEN ((((i // 8) * h) // oh) * 16 + (i % 8) * 2 + 1) <= n
                    THEN unicode(text[((((i // 8) * h) // oh) * 16 + (i % 8) * 2 + 1)
                                    : ((((i // 8) * h) // oh) * 16 + (i % 8) * 2 + 1)])
                    ELSE 32 END)) AS sum_codes
      FROM m)
    SELECT doc_id, CAST(8 AS INT) AS width, CAST(oh AS INT) AS height,
           CAST((1000 * sum_codes) // (8 * oh) AS BIGINT) AS mean_pixel_milli
    FROM s
    """,
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE round trip: text -> PGM(P5) -> nearest-neighbor 8×(h/2)
    downsample in an Arrow batch -> integer-exact raster mean. The oracle
    recomputes the exact selected-pixel sum from codepoints (nearest-
    neighbor integer indexing is reproducible in SQL; padding is 0x20)."""
    docs = load_table(spark, sf_dir, "documents")
    resized = _mm.resize_image(_mm.attach_pgm_image(docs), out_w=8)
    return resized.select("doc_id", "width", "height", "mean_pixel_milli")


@query(
    "stream_quality_gate",
    """
    SELECT doc_id, quality FROM (
      SELECT doc_id,
        0.4*(len(list_distinct(string_split(text,' '))) / len(string_split(text,' ')))
      + 0.3*(len(list_filter(string_split(text,' '),
            x -> x IN ('the','a','and','of','to','is','in'))) / len(string_split(text,' ')))
      + 0.3*least(len(string_split(text,' '))/100.0, 1.0) AS quality
      FROM documents)
    WHERE quality >= 0.36
    """,
)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality gate run as a STREAM: the same quality_score operator is
    a stateless narrow map, so it composes with readStream unchanged —
    batch backfill and streaming ingest share one curation codepath (no
    state, no watermark, no shuffle per micro-batch)."""
    stream = _stream.read_stream(spark, sf_dir, "documents")
    scored = _text.quality_score(stream)
    gated = scored.filter(F.col("quality") >= 0.36).select("doc_id", "quality")
    return _stream.run_to_memory(gated, "append")


@query(
    "corpus_medallion_e2e",
    None,  # oracle injected at module bottom (reuses the repetition oracle)
)
def corpus_medallion_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The medallion pipeline applied to a TRAINING CORPUS instead of a
    fact table: documents arrive in two incremental batches under a
    doc_id high-water mark (the watermark store is orderable-key generic —
    same (last, current] semantics as the timestamp CDC), bronze is the
    replay-safe append layer, silver is the curation transform (exact
    dedup + Gopher repetition gate), gold is per-language corpus stats.
    One operator set, two domains — the reference's car-sales flow and an
    LLM data pipeline are the same engine."""

    from incremental_data_pipeline_spark.operators.text import gopher_repetition_filter
    from incremental_data_pipeline_spark.plans.medallion import MedallionPipeline

    base = scratch_dir("corpus_medallion_")
    pipe = MedallionPipeline(spark, base)
    docs = load_table(spark, sf_dir, "documents")

    for current in (250, None):  # batch 1: (-1, 250]; batch 2: (250, max]
        pipe.ingest_bronze(
            docs, "documents", "doc_id", ["doc_id"], -1, current
        )

        def curate(bronze: DataFrame) -> DataFrame:
            deduped = _dedup.exact_dedup(bronze, "text", "doc_id")
            keep = gopher_repetition_filter(deduped).filter(F.col("keep"))
            return deduped.join(keep.select("doc_id"), "doc_id", "left_semi")

        pipe.build_silver("documents", curate)
        # The stored table, not build_silver's result: that is the batch's
        # change set whenever silver can append one.
        gold = pipe.read("silver", "documents").groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("total_tokens"),
        )
        from incremental_data_pipeline_spark.sources.sinks import atomic_overwrite

        atomic_overwrite(gold, pipe.path("gold", "corpus_stats"))
    return pipe.read("gold", "corpus_stats")


def _corpus_medallion_oracle() -> str:
    return f"""
    WITH rep AS (SELECT doc_id, keep FROM ({ORACLE["text_repetition_filter"]})),
    exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    silver AS (
      SELECT d.* FROM documents d
      JOIN exact_keep USING (doc_id) JOIN rep USING (doc_id)
      WHERE rep.keep)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM silver GROUP BY lang
    """


@query(
    "compact_roundtrip_events",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def compact_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round trip (the reference inherits this from
    Delta OPTIMIZE on Databricks; a parquet lake must do it itself):
    fragment the events table into 64 small files — the shape incremental
    ingest produces — bin-pack it back with ``compact_table``, and return
    an aggregate over the COMPACTED table. The oracle aggregates the
    original fixture, so a hash match proves the rewrite is lossless; the
    file-count drop itself is asserted here and in tests/test_sinks.py."""

    from incremental_data_pipeline_spark.sources import maintenance

    base = scratch_dir("compact_e2e_")
    path = os.path.join(base, "events")
    load_table(spark, sf_dir, "events").repartition(64).write.parquet(path)
    stats = maintenance.compact_table(spark, path)
    if stats["files_after"] >= stats["files_before"]:
        raise RuntimeError(f"compaction did not reduce file count: {stats}")
    return (
        read_table(spark, path)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value", "sum_value", 4))
    )


# Data-quality expectations (Delta Live Tables CONSTRAINT semantics on
# plain Spark): named rules, monitored and enforced. Rules are defined once
# here; the Spark side evaluates them as Columns, the oracle as the same
# predicates in SQL — null counts as a FAILURE in both.
_DQ_LINEITEM_RULES_SQL = {
    "qty_in_range": "l_quantity >= 1 AND l_quantity <= 50",
    "positive_price": "l_extendedprice > 0",
    "line_number_domain": "l_linenumber >= 1 AND l_linenumber <= 7",
    "modest_discount": "l_discount <= 0.05",
}


@query(
    "dq_report_lineitem",
    "\nUNION ALL\n".join(
        f"""SELECT '{name}' AS rule,
        CAST(sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        CAST(sum(CASE WHEN {pred} THEN 0 ELSE 1 END) AS BIGINT) AS n_fail
        FROM lineitem"""
        for name, pred in _DQ_LINEITEM_RULES_SQL.items()
    ),
)
def dq_report_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation monitoring: one aggregation pass producing per-rule
    pass/fail counts over lineitem (the DLT expectations dashboard shape;
    the reference's only audit is gold_dim_branch.py:200's dup count)."""
    from incremental_data_pipeline_spark.operators import expectations as dq

    li = load_table(spark, sf_dir, "lineitem")
    rules = {name: F.expr(pred) for name, pred in _DQ_LINEITEM_RULES_SQL.items()}
    return dq.expectation_report(li, rules)


_DQ_ORDERS_RULES_SQL = {
    "price_cap": "o_totalprice < 300000",
    "known_status": "o_orderstatus IN ('O', 'F', 'P')",
    "priority_format": "o_orderpriority LIKE '%-%'",
    "pre_cutoff_date": "o_orderdate < DATE '1998-06-01'",
}


@query(
    "dq_quarantine_orders",
    f"""
    SELECT o_orderkey, o_totalprice,
      array_to_string(list_filter([{", ".join(
        f"CASE WHEN NOT coalesce(({pred}), FALSE) THEN '{name}' END"
        for name, pred in _DQ_ORDERS_RULES_SQL.items()
      )}], x -> x IS NOT NULL), ',') AS failed_rules
    FROM orders
    WHERE NOT ({" AND ".join(f"coalesce(({p}), FALSE)" for p in _DQ_ORDERS_RULES_SQL.values())})
    """,
)
def dq_quarantine_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation enforcement: the QUARANTINED side of the good/bad split,
    each row carrying the names of the rules it failed (dead-letter-table
    shape; the good side flows into the medallion unchanged)."""
    from incremental_data_pipeline_spark.operators import expectations as dq

    orders = load_table(spark, sf_dir, "orders")
    rules = {name: F.expr(pred) for name, pred in _DQ_ORDERS_RULES_SQL.items()}
    _good, bad = dq.enforce_expectations(orders, rules)
    return bad.select(
        "o_orderkey",
        "o_totalprice",
        F.array_join("failed_rules", ",").alias("failed_rules"),
    )


@query(
    "compact_zorder_events",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def compact_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction + Z-order clustering in one rewrite (Delta OPTIMIZE
    ZORDER without Delta): fragment events, rewrite range-partitioned on
    the (user_id, value) Morton curve, and return an aggregate over the
    clustered table — the oracle proves the rewrite lossless; the
    file-envelope tightening (data-skipping effect) is asserted in
    tests/test_sinks.py."""

    from incremental_data_pipeline_spark.sources import maintenance

    base = scratch_dir("zorder_e2e_")
    path = os.path.join(base, "events")
    load_table(spark, sf_dir, "events").repartition(16).write.parquet(path)
    maintenance.compact_table(spark, path, zorder_cols=["user_id", "value"])
    return (
        read_table(spark, path)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value", "sum_value", 4))
    )


# ---------------------------------------------------------------------------
# Round 3 additions: decontamination, KMV cardinality sketch, weighted /
# capped deterministic sampling, SemDeDup-style embedding dedup, batch
# interval join, GROUPING SETS, and three more TPC-H-shaped relational
# queries (Q12/Q14/Q18 analogues over the fixture schema).

from incremental_data_pipeline_spark.operators import decontaminate as _decon  # noqa: E402
from incremental_data_pipeline_spark.operators import sketches as _sketches  # noqa: E402


@query(
    "decontaminate_corpus",
    f"""
    WITH {_SHINGLES_CTE},
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 50),
    corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 50),
    hits AS (SELECT doc_id, count(*) AS n FROM corp JOIN bench USING (shingle)
             GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(n, 0) AS BIGINT) AS n_contaminated_grams,
           coalesce(n, 0) >= 2 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id >= 50) d
    LEFT JOIN hits USING (doc_id)
    """,
)
def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs 0-49 stand in for a held-out eval
    suite; every other document is flagged when >= 2 of its distinct
    3-gram shingles appear anywhere in the benchmark. The benchmark gram
    set broadcasts; the corpus is never shuffled on gram."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 50)
    corpus = docs.filter(F.col("doc_id") >= 50)
    return _decon.contamination_hits(corpus, bench, n=3, min_hits=2)


@query(
    "kmv_distinct_orderparts",
    _sketches.kmv_oracle_sql(
        "lineitem",
        "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR)",
        k=256,
    ),
)
def kmv_distinct_orderparts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch over (l_orderkey, l_partkey)
    pairs — a cardinality estimator whose estimate (not just row count) is
    reproduced bit-for-bit by the SQL oracle, unlike HyperLogLog."""
    li = load_table(spark, sf_dir, "lineitem")
    return _sketches.kmv_distinct(li, ["l_orderkey", "l_partkey"], k=256)


@query(
    "kmv_setops_partkeys",
    _sketches.kmv_set_ops_oracle_sql(
        "SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'",
        "SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'",
        "l_partkey",
        k=256,
    ),
)
def kmv_setops_partkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set algebra: estimated union / intersection / Jaccard between
    the distinct parts returned ('R') and those accepted ('A') — the
    mergeable-sketch answer to "how much do these two key universes
    overlap" without ever shuffling either full key set to one place.
    Every estimate (not just the row count) is reproduced bit-for-bit by
    the DuckDB oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    return _sketches.kmv_set_ops(
        li.filter(F.col("l_returnflag") == "R"),
        li.filter(F.col("l_returnflag") == "A"),
        ["l_partkey"],
        k=256,
    )


@query(
    "sample_weighted_docs",
    """
    SELECT doc_id, lang, source, n_chars FROM documents
    ORDER BY power(
        ((('0x' || substring(md5('w1' || '|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 1000000) + 1) / 1000000.0,
        1.0 / n_chars) DESC, doc_id ASC
    LIMIT 50
    """,
)
def sample_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES keyed on
    the content hash): 50 documents drawn proportional to length."""
    from incremental_data_pipeline_spark.operators import sampling as _sampling

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return _sampling.weighted_sample(
        docs, ["doc_id"], "n_chars", 50, "doc_id", salt="w1"
    )


@query(
    "sample_capped_sources",
    """
    WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source)
    SELECT doc_id, source FROM documents JOIN c USING (source)
    WHERE ('0x' || substring(md5('cap1' || '|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 1000000
      < CAST(floor(least(1.0, 15.0 / cnt) * 1000000) AS BIGINT)
    """,
)
def sample_capped_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing: every source downsampled to ~15 expected
    docs via a per-stratum keep-rate — broadcast count dim + narrow hash
    filter, no shuffle of the corpus."""
    from incremental_data_pipeline_spark.operators import sampling as _sampling

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return _sampling.cap_per_stratum(docs, "source", 15, ["doc_id"], salt="cap1")


def _semantic_dedup_lsh_oracle(target_occupancy: int, threshold: float) -> str:
    """Hyperplane-bucket SemDeDup twin: B re-derived from count(*) with
    the auto_planes integer rule, cell = B-char prefix of the max-width
    bit string (prefix-stable planes), dropped = lower-id within-cell
    neighbor at cosine >= threshold."""
    bits = _bucket_sql(_sim.MAX_AUTO_PLANES)
    cos_ab = (
        f"CAST({_dot('a.v', 'b.v')} AS DOUBLE) / "
        f"(sqrt(CAST({_dot('a.v', 'a.v')} AS DOUBLE)) * sqrt(CAST({_dot('b.v', 'b.v')} AS DOUBLE)))"
    )
    return f"""
    WITH vecs AS (SELECT vec_id, {_QV2} AS v FROM embeddings),
    params AS (
      SELECT GREATEST(4, LEAST({_sim.MAX_AUTO_PLANES},
        CASE WHEN q <= 1 THEN 0 ELSE length(bin(q - 1)) END)) AS b
      FROM (SELECT (count(*) + {target_occupancy} - 1) // {target_occupancy} AS q
            FROM vecs)),
    cells AS (
      SELECT vec_id, v, substr({bits}, 1, (SELECT b FROM params)) AS cell
      FROM vecs),
    dropped AS (
      SELECT DISTINCT b.vec_id AS vec_id
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {cos_ab} >= {threshold})
    SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS kept
    FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
    """


@query(
    "semantic_dedup_emb",
    _semantic_dedup_lsh_oracle(target_occupancy=256, threshold=0.8),
)
def semantic_dedup_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over HYPERPLANE-BUCKET cells
    (B = auto_planes(N), oracle re-derives it from count(*)): bucket
    occupancy — and with it the quadratic within-cell pair scan — stays
    ~target as the corpus grows, while assignment costs B ≈ log2(N/m)
    dots per row instead of the codebook's nlist = N/target dots. The
    codebook variant this replaced measured 19.8x wall for 10x data at
    the sf10 point purely on assignment cost; bucket assignment is
    ~N·log N. Codebook/IVF cells remain the right shape when the index
    is PERSISTED (`ann_ivf_index_persisted`) and assignment amortizes."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _sim.semantic_dedup_lsh(
        emb, threshold=0.8, target_occupancy=256
    )


@query(
    "purchase_click_window",
    """
    WITH purch AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    hits AS (
      SELECT p.event_id, count(*) AS n_in_window
      FROM purch p JOIN clicks c
        ON c.user_id = p.user_id
       AND c.ts > p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
      GROUP BY p.event_id)
    SELECT p.event_id, p.user_id, p.ts,
           CAST(coalesce(h.n_in_window, 0) AS BIGINT) AS n_in_window
    FROM purch p LEFT JOIN hits h USING (event_id)
    """,
)
def purchase_click_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch interval join: clicks within the hour after each purchase,
    bucketed to an equi-join (2 buckets per anchor) instead of a per-key
    quadratic theta-join — the batch twin of the streaming interval join."""
    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    return relational.interval_count_join(
        purch, clicks, ["user_id"], "ts", 3600, "event_id"
    )


@query(
    "agg_grouping_sets",
    """
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT) AS gid
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube) with a
    grouping_id disambiguator — one shuffle produces all three groupings."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gsets")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT) AS gid
        FROM orders_gsets
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


@query(
    "priority_line_counts",
    """
    SELECT l_returnflag,
      CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
        AS high_count,
      CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
        AS low_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analogue: conditional counts of high/low-priority orders
    per return flag for a one-year ship window — the shipdate filter is
    pushdown-eligible, the join shuffles once on orderkey."""
    import datetime

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime.datetime(1996, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime.datetime(1997, 1, 1)))
    ).select("l_orderkey", "l_returnflag")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_count"),
        )
    )


@query(
    "promo_revenue_share",
    """
    SELECT
      CAST(SUM(CASE WHEN p_type = 'PROMO'
        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        AS total_revenue,
      CAST(SUM(CASE WHEN p_type = 'PROMO'
        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        * 100.0 AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analogue: promo-part revenue share over a ship window.
    Part broadcasts into the fact scan; both sums are decimal-exact so the
    one double division at the end is engine-identical."""
    import datetime

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime.datetime(1996, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime.datetime(1996, 7, 1)))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    zero = F.lit(0).cast("decimal(18,4)")
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
    total = F.sum(rev)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            promo.cast("double").alias("promo_revenue"),
            total.cast("double").alias("total_revenue"),
            # double-div then double-mul, mirrored in the oracle: one more
            # decimal op on either side drifts the last ulp.
            (promo.cast("double") / total.cast("double") * F.lit(100.0)).alias(
                "promo_share_pct"
            ),
        )
    )


@query(
    "large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
    SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
    FROM big JOIN orders ON o_orderkey = l_orderkey
             JOIN customer ON c_custkey = o_custkey
    """,
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 analogue: orders whose total quantity exceeds 300, joined
    back to customer. The HAVING survivor set is tiny and broadcasts into
    orders; quantity sums are decimal-exact for the threshold compare."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    qty = F.sum(F.col("l_quantity").cast("decimal(18,2)"))
    big = (
        li.groupBy("l_orderkey")
        .agg(qty.alias("__q"))
        .filter(F.col("__q") > 300)
        .select("l_orderkey", F.col("__q").cast("double").alias("sum_qty"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        F.broadcast(big)
        .join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


@query(
    "tfidf_top_terms",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(*) AS df
              FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
    n AS (SELECT count(*) AS __n FROM documents),
    scored AS (
      SELECT doc_id, token, tf, df,
             CAST(tf AS DOUBLE) * ln(CAST(__n AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
      FROM tf JOIN dfreq USING (token) CROSS JOIN n)
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rnk
          FROM scored)
    WHERE rnk <= 5
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 characteristic terms by tf-idf: two combinable
    aggregations (term freq, doc freq) + a vocabulary-sized join back and a
    WindowGroupLimit top-k — no corpus-sized shuffle beyond the counts.
    The double score ranks but is not emitted (cross-engine ln ulp)."""
    docs = load_table(spark, sf_dir, "documents")
    return _text.tfidf_top_terms(docs, k=5)


@query(
    "stream_contamination_hits",
    f"""
    WITH {_SHINGLES_CTE},
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 50)
    SELECT doc_id, shingle FROM sh JOIN bench USING (shingle)
    WHERE doc_id >= 50
    """,
)
def stream_contamination_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination at ingest as a STREAM-STATIC join (stateless: the
    static benchmark gram set broadcasts per micro-batch, no watermark or
    join state) — every (doc_id, shingle) contamination hit emits the
    moment the document arrives."""
    stream = _stream.read_stream(spark, sf_dir, "documents").filter(
        F.col("doc_id") >= 50
    )
    bench = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    hits = _stream.stream_static_contamination(stream, bench, n=3)
    return _stream.run_to_memory(hits, "append")


@query(
    "incremental_agg_merge",
    """
    SELECT user_id, event_type,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id, event_type
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the gold rollup is built from
    pre-watermark history, then the post-watermark batch is folded in via
    merge_partial_aggs — O(batch) work, no history rescan. The oracle is
    the FULL-table aggregate: the merged result must be indistinguishable
    from a from-scratch rebuild (the invariant that makes incremental
    maintenance trustworthy). Values quantized to integer cents so sums
    are order-free."""
    import datetime

    w = datetime.datetime(2024, 1, 20)
    ev = load_table(spark, sf_dir, "events")
    cents = F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint")
    cnt = F.count(F.lit(1)).cast("bigint")
    sums = {"sum_cents": cents, "n_events": cnt}
    gold = (
        ev.filter(F.col("ts") <= F.lit(w))
        .groupBy("user_id", "event_type")
        .agg(*[c.alias(nm) for nm, c in sums.items()])
    )
    batch = ev.filter(F.col("ts") > F.lit(w))
    merged = cdc.merge_partial_aggs(gold, batch, ["user_id", "event_type"], sums)
    return merged.select(
        "user_id",
        "event_type",
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


@query(
    "snapshot_diff_orders",
    """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 7 != 0),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 5 != 0)
    SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'insert'
                WHEN new.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS op,
           new.o_orderstatus, new.o_totalprice
    FROM old FULL OUTER JOIN new USING (o_orderkey)
    WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
       OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
       OR old.o_totalprice IS DISTINCT FROM new.o_totalprice
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed generation between two snapshots (Delta CDF emulation):
    derived old/new versions of orders (keys dropped on each side + a
    price touch-up) diffed into insert/update/delete rows with post-image
    values — one full-outer key join, unchanged keys drop out."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 7 != 0)
    new = orders.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    return cdc.snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


@query(
    "small_quantity_revenue",
    """
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
           AS DOUBLE) AS avg_yearly
    FROM lineitem l
    WHERE l_quantity < (
      SELECT 0.5 * avg(l_quantity) FROM lineitem i WHERE i.l_partkey = l.l_partkey)
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 analogue: revenue of below-half-average-quantity line
    items, the CORRELATED scalar subquery shape — Catalyst decorrelates
    it into a per-part average aggregate joined back to the fact (one
    shuffle on partkey), never a per-row subquery execution. The 0.5*avg
    threshold is engine-exact because quantities are integral (sums of
    small integers are exact in double; verified on the fixtures)."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_q17")
    return spark.sql(
        """
        SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
               AS DOUBLE) AS avg_yearly
        FROM lineitem_q17 l
        WHERE l_quantity < (
          SELECT 0.5 * avg(l_quantity) FROM lineitem_q17 i
          WHERE i.l_partkey = l.l_partkey)
        """
    )


@query(
    "top_revenue_suppliers",
    """
    WITH srev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
      FROM lineitem GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
    FROM supplier JOIN srev ON s_suppkey = l_suppkey
    WHERE rev = (SELECT max(rev) FROM srev)
    """,
)
def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 analogue: the supplier(s) hitting the maximum total
    revenue — an uncorrelated scalar subquery over a reused aggregate
    (Catalyst evaluates the max once as a subquery broadcast, the
    decimal-exact revenue makes the equality compare safe)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    srev = li.groupBy("l_suppkey").agg(F.sum(rev).alias("rev"))
    max_rev = srev.agg(F.max("rev").alias("mx"))
    return (
        srev.join(F.broadcast(max_rev), srev.rev == max_rev.mx)
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("rev").cast("double").alias("total_revenue"))
    )


@query(
    "rich_customers_no_orders",
    """
    SELECT c_custkey, c_acctbal FROM customer c
    WHERE c_acctbal > (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def rich_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analogue: above-average-balance customers who never
    ordered — an uncorrelated scalar subquery (one broadcast scalar)
    plus NOT EXISTS, which Catalyst plans as a left-anti join against
    the orders key set."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    # decimal-sum-then-divide: a plain double avg is fold-order-dependent
    # and the > threshold could flip a boundary row between engines
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__avg")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_acctbal")
    )


@query(
    "scd2_customer_history",
    """
    SELECT c_custkey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
           DATE '2024-01-01' AS valid_from,
           CAST(NULL AS DATE) AS valid_to,
           TRUE AS is_current
    FROM customer WHERE c_custkey % 3 != 0
    UNION ALL
    SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT),
           DATE '2024-01-01', DATE '2024-02-01', FALSE
    FROM customer WHERE c_custkey % 3 = 0
    UNION ALL
    SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) + 1000,
           DATE '2024-02-01', CAST(NULL AS DATE), TRUE
    FROM customer WHERE c_custkey % 3 = 0
    """,
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE 2: a customer-balance dim initialized on 2024-01-01, then
    a batch effective 2024-02-01 changes every third customer's balance —
    the changed rows' old versions are CLOSED (valid_to set, is_current
    false) and new current versions open, unchanged rows pass untouched.
    The oracle reconstructs the exact expected history, so a lost
    closure, duplicated version, or wrong validity window breaks the
    hash."""
    import datetime

    d0, d1 = datetime.date(2024, 1, 1), datetime.date(2024, 2, 1)
    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    dim0 = c.select(
        "c_custkey",
        cents.alias("bal_cents"),
        F.lit(d0).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    batch = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", (cents + F.lit(1000)).alias("bal_cents")
    )
    return scd.upsert_scd2(dim0, batch, ["c_custkey"], ["bal_cents"], d1)


@query(
    "missing_event_days",
    """
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events),
    spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds),
    actual AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT s.day FROM spine s LEFT JOIN actual a ON s.day = a.day
    WHERE a.day IS NULL
    """,
)
def missing_event_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap detection over a GENERATED calendar spine:
    sequence(min_day, max_day) explodes into one row per day (row
    generation, not transformation), anti-joined with observed days —
    the densification/completeness-audit primitive. The spine generates
    from a 1-row bounds aggregate, so cost is days-in-range, not table
    size."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    actual = ev.select(F.to_date("ts").alias("day")).distinct()
    return spine.join(actual, "day", "left_anti")


@query(
    "dedup_keep_best_copy",
    """
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY md5(text)
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents)
    WHERE rn = 1
    """,
)
def dedup_keep_best_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the BEST copy per content group (longest, ties
    to lowest id) — the cross-shard dedup rule that preserves the highest
    -quality duplicate instead of an arbitrary one. One shuffle on the
    content hash; survivor choice is a max-by struct aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.exact_dedup_keep_best(docs, "text", "doc_id", "n_chars").select(
        "doc_id", "source", "n_chars"
    )


@query(
    "status_csv_per_priority",
    """
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
             AS status_csv
    FROM orders GROUP BY o_orderpriority
    """,
)
def status_csv_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (listagg): distinct statuses per priority joined
    into one ordered CSV string — deterministic because the join order is
    pinned (sorted distinct set), the export-friendly cousin of the
    collect_set array."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias(
            "status_csv"
        )
    )


@query(
    "doc_token_positions",
    """
    SELECT doc_id, CAST(i - 1 AS INT) AS pos, t[i] AS token
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         unnest(range(1, least(len(t), 3) + 1)) AS u(i)
    """,
)
def doc_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (posexplode): each document's first three tokens
    with their ordinal — the position-aware flattening used for prefix
    features and n-gram windows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.slice(F.split(F.col("text"), " "), 1, 3)
    return docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "token")
    ).select("doc_id", F.col("pos").cast("int").alias("pos"), "token")


@query(
    "parse_brand_numbers",
    """
    SELECT CAST(regexp_extract(p_brand, '[0-9]+') AS INT) AS brand_num,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT p_type) AS BIGINT) AS n_types
    FROM part GROUP BY 1
    """,
)
def parse_brand_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured extraction from semi-structured strings: the numeric id
    inside 'Brand#NN' pulled with regexp_extract and aggregated — the
    parse-then-group shape for log/identifier columns."""
    p = load_table(spark, sf_dir, "part")
    return p.groupBy(
        F.regexp_extract("p_brand", "[0-9]+", 0).cast("int").alias("brand_num")
    ).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.countDistinct("p_type").alias("n_types"),
    )


@query(
    "value_stddev_by_type",
    """
    WITH s AS (
      SELECT event_type,
             count(*) AS n,
             SUM(CAST(round(value * 100) AS BIGINT)) AS sx,
             SUM(CAST(round(value * 100) AS BIGINT)
                 * CAST(round(value * 100) AS BIGINT)) AS sxx
      FROM events GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
                - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)
                AS DECIMAL(38,0)) AS var_numerator,
           sqrt(CAST(CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
                     - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)
                     AS DOUBLE)) / n AS stddev_cents
    FROM s
    """,
)
def value_stddev_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-exact dispersion: population stddev from INTEGER moments
    (n*Σx² − (Σx)² over quantized cents) with exactly one sqrt + one
    division in double — built-in stddev uses Welford double accumulation
    and is never bit-comparable across engines; the explicit-moments form
    is. The moment combination runs in DECIMAL(38,0) (HUGEINT in the
    oracle): n·Σx² and (Σx)² exceed BIGINT once groups reach ~10⁷ rows of
    ~10⁵-cent values — the sf10 extended mirror caught the r7 BIGINT
    version overflowing at exactly that point (ANSI long-overflow error,
    queries would have silently wrapped pre-Spark-4)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    dec = "decimal(38,0)"
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("sx"),
        F.sum(cents * cents).alias("sxx"),
    )
    var_num = (
        F.col("n").cast(dec) * F.col("sxx").cast(dec)
        - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    ).cast(dec)
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        var_num.alias("var_numerator"),
        (F.sqrt(var_num.cast("double")) / F.col("n")).alias("stddev_cents"),
    )


@query(
    "forward_fill_last_purchase",
    """
    SELECT event_id, user_id, ts,
           last_value(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value * 100) AS BIGINT) END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_cents
    FROM events
    """,
)
def forward_fill_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill (forward fill / LOCF): every event annotated
    with the user's most recent purchase amount — last-non-null over an
    ordered running frame (`F.last(ignorenulls=True)`), the standard
    sensor/price-carry operator. One shuffle on the key; (ts, event_id)
    gives a total order so the carried value is deterministic."""
    ev = load_table(spark, sf_dir, "events")
    purchase_cents = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 100).cast("bigint"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.last(purchase_cents, ignorenulls=True).over(w).alias(
            "last_purchase_cents"
        ),
    )


@query(
    "monthly_revenue_momentum",
    """
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
      FROM orders GROUP BY 1)
    SELECT month,
           CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(rev_cents - lag(rev_cents) OVER (ORDER BY month) AS BIGINT)
             AS delta_cents,
           CAST(rev_cents - lag(rev_cents) OVER (ORDER BY month) AS DOUBLE)
             / lag(rev_cents) OVER (ORDER BY month) AS pct_change
    FROM m
    """,
)
def monthly_revenue_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue momentum: integer-cent monthly sums, lag
    delta, and a single-division percent change — the KPI-trend shape
    (agg to a tiny series, then an ordered window over it)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.sum(cents).alias("rev_cents"))
    w = Window.orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return m.select(
        "month",
        F.col("rev_cents").cast("bigint").alias("rev_cents"),
        (F.col("rev_cents") - prev).cast("bigint").alias("delta_cents"),
        ((F.col("rev_cents") - prev).cast("double") / prev).alias("pct_change"),
    )


@query(
    "latest_record_per_key",
    """
    SELECT user_id, event_id, ts, event_type FROM (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def latest_record_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-log compaction: the latest record per key (ts desc, id desc
    for a total order) — how a CDC event stream collapses to current
    state. WindowGroupLimit keeps one row per key alive per stage; at
    scale this is the standard pre-merge compaction before an SCD upsert."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    return relational.topk_per_group(
        ev,
        ["user_id"],
        [F.col("ts").desc(), F.col("event_id").desc()],
        k=1,
        rank_col="rn",
    ).drop("rn")


@query(
    "supplier_counts_excluding_flagged",
    """
    SELECT p_type, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_type
    """,
)
def supplier_counts_excluding_flagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analogue: distinct suppliers per part type, excluding a
    flagged supplier set via NOT IN (subquery) — Spark plans this as a
    NULL-AWARE anti join (BroadcastNestedLoop fallback only when the build
    side may contain nulls), the one anti-join variant plain left_anti
    does not cover."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_q16")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q16")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_q16")
    return spark.sql(
        """
        SELECT p_type, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM part_q16 JOIN lineitem_q16 ON p_partkey = l_partkey
        WHERE l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier_q16 WHERE s_acctbal < 0)
        GROUP BY p_type
        """
    )


@query(
    "waiting_last_shipper",
    """
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
                  JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey != l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey != l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    """,
)
def waiting_last_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analogue: per supplier, finished orders where the
    supplier's line shipped last among multiple suppliers — stacked
    EXISTS + NOT EXISTS over the same fact, which Catalyst turns into a
    semi join and an anti join on orderkey (no per-row subquery)."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_q21")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q21")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_q21")
    return spark.sql(
        """
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM supplier_q21 JOIN lineitem_q21 l1 ON s_suppkey = l1.l_suppkey
                          JOIN orders_q21 ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND EXISTS (SELECT 1 FROM lineitem_q21 l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey != l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem_q21 l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey != l1.l_suppkey
                            AND l3.l_shipdate > l1.l_shipdate)
        GROUP BY s_name
        """
    )


@query(
    "agg_collect_status_sets",
    """
    SELECT o_orderpriority,
           array_agg(DISTINCT o_orderstatus ORDER BY o_orderstatus) AS statuses,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_collect_status_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection aggregate: the distinct status values per priority as a
    SORTED array (collect_set is unordered by contract; sort_array makes
    the result deterministic and hash-comparable)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sort_array(F.collect_set("o_orderstatus")).alias("statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "fuzzy_part_name_pairs",
    """
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage: near-identical part names (edit distance <= 3)
    within a brand — the MDM/entity-resolution shape, candidate-bounded
    by `dedup.qgram_edit_pairs` (lossless ED-Join q-gram prefix filter +
    length filter). The brand alone is NOT a usable block: its
    cardinality is constant (~25), so within-brand pairs grow
    quadratically with the table — at the 100x point the naive
    brand-join heap-OOMed. The rare-gram prefix join's bucket population
    tracks true near-duplicate cliques instead, and the oracle stays the
    quadratic reference definition, so every mirrored SF certifies the
    filter lost nothing."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    pairs = _dedup.qgram_edit_pairs(
        p, "p_partkey", "p_name", max_dist=3, q=3, group_cols=("p_brand",)
    )
    return pairs.select(
        F.col("id_a").alias("part_a"),
        F.col("id_b").alias("part_b"),
        "edit_dist",
    )


@query(
    "unpivot_nation_counts",
    """
    WITH wide AS (
      SELECT n.n_name AS nation,
             (SELECT count(*) FROM customer c WHERE c.c_nationkey = n.n_nationkey)
               AS customers,
             (SELECT count(*) FROM supplier s WHERE s.s_nationkey = n.n_nationkey)
               AS suppliers
      FROM nation n)
    SELECT nation, 'customers' AS metric, CAST(customers AS BIGINT) AS value FROM wide
    UNION ALL
    SELECT nation, 'suppliers', CAST(suppliers AS BIGINT) FROM wide
    """,
)
def unpivot_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): a wide per-nation metric table flipped to long
    (nation, metric, value) form — the inverse of pivot, one narrow
    generate per row, no shuffle beyond the source aggregation."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("suppliers"))
    )
    wide = (
        n.join(c, n.n_nationkey == c.c_nationkey, "left")
        .join(s, n.n_nationkey == s.s_nationkey, "left")
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce("customers", F.lit(0)).cast("long").alias("customers"),
            F.coalesce("suppliers", F.lit(0)).cast("long").alias("suppliers"),
        )
    )
    return wide.unpivot(["nation"], ["customers", "suppliers"], "metric", "value")


# NULL-injective column encoding (matches reconcile_checksums): value ->
# 'v'||value, NULL -> 'n', so a NULL can never alias a neighboring column.
_RECON_ENC_K = "coalesce('v' || CAST(k AS VARCHAR), 'n')"
_RECON_DIGEST = (
    f"('0x' || substring(md5({_RECON_ENC_K} || '|' "
    "|| coalesce('v' || status, 'n') || '|' "
    "|| coalesce('v' || CAST(cents AS VARCHAR), 'n')), 1, 8))::BIGINT"
)
_RECON_BUCKET = f"('0x' || substring(md5({_RECON_ENC_K}), 1, 8))::BIGINT % 64"


@query(
    "reconcile_orders_copies",
    f"""
    WITH lft AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    rgt AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 101 = 0 THEN 100 ELSE 0 END AS cents
      FROM orders WHERE o_orderkey % 97 != 0),
    dl AS (SELECT {_RECON_BUCKET} AS bucket, count(*) AS n_left,
                  bit_xor({_RECON_DIGEST}) AS xor_left
           FROM lft GROUP BY 1),
    dr AS (SELECT {_RECON_BUCKET} AS bucket, count(*) AS n_right,
                  bit_xor({_RECON_DIGEST}) AS xor_right
           FROM rgt GROUP BY 1)
    SELECT bucket,
           CAST(coalesce(n_left, 0) AS BIGINT) AS n_left,
           CAST(coalesce(n_right, 0) AS BIGINT) AS n_right,
           CAST(coalesce(xor_left, 0) AS BIGINT) AS xor_left,
           CAST(coalesce(xor_right, 0) AS BIGINT) AS xor_right
    FROM dl FULL OUTER JOIN dr USING (bucket)
    WHERE coalesce(n_left, 0) != coalesce(n_right, 0)
       OR coalesce(xor_left, 0) != coalesce(xor_right, 0)
    """,
)
def reconcile_orders_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy reconciliation: orders vs a corrupted replica (~1% of
    keys dropped, ~1% of prices perturbed) compared by per-bucket counts +
    order-free XOR checksums — the mismatched buckets localize every
    divergence without a row-level join of the two tables. Value columns
    are string/integer typed (double->string casts are not
    engine-portable)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    left = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        cents.alias("cents"),
    )
    right = (
        orders.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            (
                cents
                + F.when(F.col("o_orderkey") % 101 == 0, F.lit(100)).otherwise(
                    F.lit(0)
                )
            ).alias("cents"),
        )
    )
    rec = cdc.reconcile_checksums(left, right, ["k"], ["status", "cents"], 64)
    return rec.filter(~F.col("match")).drop("match")


@query(
    "hybrid_backfill_stream",
    """
    SELECT user_id, event_type,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id, event_type
    """,
)
def hybrid_backfill_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill -> streaming handoff (the lambda-architecture unification):
    a BATCH backfill aggregates history up to the handoff watermark and
    primes the gold rollup; the STREAM processes only rows after the
    watermark, folding micro-batches into the same gold via the same
    merge_partial_aggs. One merge implementation, one result — the oracle
    is the from-scratch full aggregate, so any seam at the handoff
    boundary (row lost, row double-counted) breaks the hash. The sum fold
    is not idempotent, so each micro-batch commits its epoch with the gold
    swap and a replayed batch is skipped; the backfill-primed gold carries
    no epoch, so epoch 0 applies."""
    import datetime

    from incremental_data_pipeline_spark.sources.sinks import atomic_overwrite

    w = datetime.datetime(2024, 1, 20)
    keys = ["user_id", "event_type"]
    sums = {
        "sum_cents": F.sum(F.round(F.col("value") * 100).cast("bigint")).cast(
            "bigint"
        ),
        "n_events": F.count(F.lit(1)).cast("bigint"),
    }
    base = scratch_dir("hybrid_")
    gold_path = os.path.join(base, "gold")

    # batch backfill primes gold with everything at or before the watermark
    ev = load_table(spark, sf_dir, "events")
    backfill = (
        ev.filter(F.col("ts") <= F.lit(w))
        .groupBy(*keys)
        .agg(*[c.alias(nm) for nm, c in sums.items()])
    )
    atomic_overwrite(backfill, gold_path)

    # the stream owns everything after the watermark
    stream = (
        _stream.read_stream(spark, sf_dir, "events")
        .filter(F.col("ts") > F.lit(w))
        .select("user_id", "event_type", "value", "ts")
    )
    gold = _stream.fold_stream(
        stream,
        gold_path,
        lambda batch, g: cdc.merge_partial_aggs(g, batch, keys, sums),
        os.path.join(base, "ckpt"),
    )
    return gold.select(
        "user_id",
        "event_type",
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


@query(
    "orc_roundtrip_events",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY event_type
    """,
)
def orc_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as a source/sink format (Spark-native columnar alternative to
    parquet — same vectorized reader, predicate pushdown, and column
    pruning): events round-trip through an ORC copy and aggregate
    identically to the parquet original (the oracle reads parquet, so any
    loss or type drift in the ORC path breaks the hash)."""

    base = scratch_dir("orc_rt_")
    path = os.path.join(base, "events_orc")
    load_table(spark, sf_dir, "events").write.mode("overwrite").orc(path)
    return (
        spark.read.orc(path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
    )


@query(
    "stream_incremental_gold",
    """
    SELECT user_id, event_type,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id, event_type
    """,
)
def stream_incremental_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental-aggregate maintenance: each micro-batch folds
    into the persisted gold rollup via foreachBatch + merge_partial_aggs —
    the streaming twin of incremental_agg_merge, sharing ONE merge
    implementation across both execution modes. The oracle is the
    from-scratch full-table aggregate. Delivery is at-least-once
    (checkpointed offsets), and the merge is NOT idempotent — so the
    applied epoch id is committed atomically WITH the gold swap (the
    ``sinks.fold_into`` epoch, inside the same rename); a replayed batch
    sees its own epoch already recorded in the current gold and skips,
    making the composed system exactly-once with no window between data
    commit and epoch commit."""

    base = scratch_dir("stream_gold_")
    keys = ["user_id", "event_type"]
    sums = {
        "sum_cents": F.sum(F.round(F.col("value") * 100).cast("bigint")).cast(
            "bigint"
        ),
        "n_events": F.count(F.lit(1)).cast("bigint"),
    }

    gold = _stream.fold_stream(
        _stream.read_stream(spark, sf_dir, "events").select(
            "user_id", "event_type", "value", "ts"
        ),
        os.path.join(base, "gold_user_type"),
        lambda batch, g: cdc.merge_partial_aggs(g, batch, keys, sums),
        os.path.join(base, "ckpt"),
    )
    return gold.select(
        "user_id",
        "event_type",
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


from incremental_data_pipeline_spark.operators import graph as _graph  # noqa: E402

_PAGERANK_EDGES_SQL = (
    "SELECT DISTINCT user_id AS src, "
    "100000 + CAST(json_extract(props, '$.k') AS BIGINT) AS dst FROM events"
)


@query(
    "pagerank_user_items",
    _graph.pagerank_oracle_sql(_PAGERANK_EDGES_SQL, iterations=3),
)
def pagerank_user_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (3 synchronous iterations, damping 85/100)
    over the user -> interacted-item graph from events.props. BIGINT
    micro-unit ranks make every iteration's sums order-free, so the
    unrolled-CTE oracle reproduces ranks bit-for-bit — the iterative-
    algorithm pattern beyond the CC fixpoint."""
    ev = load_table(spark, sf_dir, "events")
    edges = ev.withColumn("p", F.from_json("props", "k INT")).select(
        F.col("user_id").alias("src"),
        (F.lit(100000) + F.col("p.k").cast("long")).alias("dst"),
    )
    return _graph.pagerank_int(edges, iterations=3)


@query(
    "triangle_count_parts",
    """
    WITH pairs AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM pairs e1
      JOIN pairs e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b),
    per_node AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
      FROM (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node),
    nodes AS (SELECT a AS node FROM pairs UNION SELECT b FROM pairs)
    SELECT nodes.node AS part_node,
           CAST(coalesce(per_node.n_triangles, 0) AS BIGINT) AS n_triangles
    FROM nodes LEFT JOIN per_node ON nodes.node = per_node.node
    """,
)
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph (parts sharing an
    order are adjacent) via degree orientation — the wedge join is bounded
    by O(sqrt(m)) out-degree per node even on power-law graphs, so the
    plan survives hub products that co-occur with everything. The oracle
    counts the same triangles by id-ordered 3-way join."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    co = li.alias("l1").join(
        li.alias("l2"),
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
    )
    edges = co.select(
        F.col("l1.l_partkey").alias("src"), F.col("l2.l_partkey").alias("dst")
    )
    return _graph.triangle_count(edges).select(
        F.col("node").alias("part_node"), "n_triangles"
    )


@query(
    "schema_evolution_read",
    """
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
    FROM orders
    """,
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on an at-rest table (bronze schema drift): batch 1
    lands two columns, batch 2 appends with a NEW third column; a
    mergeSchema read reconciles both file schemas, null-filling the old
    files — the additive-evolution contract a long-lived ingest layer
    needs. The oracle rebuilds the same null pattern from the source."""

    base = scratch_dir("schema_evo_")
    path = os.path.join(base, "orders_evolving")
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v1.write.parquet(path)
    v2.write.mode("append").parquet(path)
    return spark.read.option("mergeSchema", "true").parquet(path)


@query(
    "text_bigram_coverage",
    """
    WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
    bg AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
            THEN list_transform(range(1, len(t)), i -> t[i]||' '||t[i+1])
            ELSE [array_to_string(t, ' ')] END) AS g FROM toks),
    ref AS (SELECT g FROM bg WHERE doc_id < 100 GROUP BY g HAVING count(*) >= 2),
    d AS (SELECT doc_id, g FROM bg WHERE doc_id >= 100),
    s AS (SELECT d.doc_id, count(*) AS n_bigrams,
                 sum(CASE WHEN ref.g IS NOT NULL THEN 1 ELSE 0 END) AS n_known
          FROM d LEFT JOIN ref ON d.g = ref.g GROUP BY d.doc_id)
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(n_known AS BIGINT) AS n_known,
           CAST((1000 * n_known) // n_bigrams AS BIGINT) AS coverage_milli
    FROM s
    """,
)
def text_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-free fluency proxy: per-doc fraction of word bigrams attested
    >= 2 times in a reference corpus (docs 0-99), as an integer-exact
    coverage_milli — the deterministic stand-in for perplexity filtering."""
    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") < 100)
    scored = docs.filter(F.col("doc_id") >= 100)
    return _text.bigram_coverage(scored, ref, min_ref_count=2)


@query(
    "window_frame_stats",
    """
    SELECT o_orderkey, o_custkey,
      first_value(o_orderkey) OVER w AS first_key_in_frame,
      last_value(o_orderkey) OVER w AS last_key_in_frame,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT)
        AS frame_cents
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
    """,
)
def window_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit sliding ROWS frame (1 preceding..1 following) with
    first_value/last_value — the window-frame surface beyond running
    totals and lag. Total order inside each partition (date + key) keeps
    frame membership deterministic; money quantized to cents keeps the
    frame sum exact."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-1, 1)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_key_in_frame"),
        F.last("o_orderkey").over(w).alias("last_key_in_frame"),
        F.sum(cents).over(w).cast("bigint").alias("frame_cents"),
    )


@query(
    "nation_volume_shipping",
    """
    SELECT supp_nation, cust_nation, ship_year,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        AS revenue
    FROM (
      SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS ship_year,
             l_extendedprice, l_discount
      FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation ns ON ns.n_nationkey = s_nationkey
        JOIN nation nc ON nc.n_nationkey = c_nationkey
      WHERE ns.n_name IN ('FRANCE', 'GERMANY') AND nc.n_name IN ('FRANCE', 'GERMANY')
        AND ns.n_name != nc.n_name)
    GROUP BY supp_nation, cust_nation, ship_year
    """,
)
def nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analogue: bilateral shipping volume between two nations by
    year. The nation filters reach the supplier/customer scans before the
    fact joins; every dim side broadcasts, the fact shuffles once for the
    final aggregation."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nat = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("FRANCE", "GERMANY")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "supplier_nation_profit",
    """
    SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS ship_year,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        AS profit
    FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_type = 'ECONOMY'
    GROUP BY n_name, CAST(year(l_shipdate) AS INT)
    """,
)
def supplier_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analogue: revenue from one part family attributed to the
    supplier's nation by ship year. The part-type filter prunes the fact
    via a broadcast semi-shaped join before any shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(F.sum(rev).cast("double").alias("profit"))
    )


# corpus_curation's oracle composes stage oracles registered above, so it is
# injected once the whole registry exists (module bottom, import-order-safe).
ORACLE["corpus_curation"] = _curation_oracle()
ORACLE["corpus_medallion_e2e"] = _corpus_medallion_oracle()


# --------------------------------------------------------------------------
# Round-4 additions: temporal warehouse joins, behavioral funnels, and
# association analysis — the gold-layer analytics a medallion warehouse
# serves once the incremental plumbing (SURVEY §2) is in place.
# --------------------------------------------------------------------------


@query(
    "pit_join_scd2",
    """
    WITH versions AS (
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
             DATE '1995-01-01' AS valid_from
      FROM customer
      UNION ALL
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) + 1000,
             DATE '1998-01-01'
      FROM customer WHERE c_custkey % 3 = 0)
    SELECT o.o_orderkey, v.c_custkey, v.bal_cents
    FROM orders o JOIN versions v
      ON o.o_custkey = v.c_custkey
     AND v.valid_from <= CAST(o.o_orderdate AS DATE)
    QUALIFY row_number() OVER (PARTITION BY o.o_orderkey
                               ORDER BY v.valid_from DESC) = 1
    """,
)
def pit_join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join: resolve every fact row against the SCD2 dim
    version that was current AT THE FACT'S OWN event time (not today's
    version) — the lookup that makes SCD2 history useful downstream
    (reference keeps only is_current semantics; this is the read side a
    versioned dim exists for). Customers get a balance version effective
    1995-01-01 and every third customer a +1000 re-version effective
    1998-01-01, so orders straddling the change date resolve to different
    versions of the same customer.

    Scale shape: the naive formulation is a theta-join (key equal AND
    valid_from <= event_date, pick latest) — quadratic per key in version
    count. This routes through ``relational.asof_join``: union both sides,
    ONE shuffle on the key, and a running last-non-null over the
    event-time order — linear in rows regardless of how many versions a
    key accumulates. The oracle does the theta-join + QUALIFY directly,
    so a wrong version pick (off-by-one at the boundary, ties broken
    wrong) breaks the hash."""
    import datetime

    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    v1 = c.select(
        "c_custkey",
        cents.alias("bal_cents"),
        F.lit(datetime.date(1995, 1, 1)).alias("valid_from"),
    )
    v2 = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        (cents + F.lit(1000)).alias("bal_cents"),
        F.lit(datetime.date(1998, 1, 1)).alias("valid_from"),
    )
    versions = v1.unionByName(v2)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        F.to_date("o_orderdate").alias("order_day"),
    )
    res = relational.asof_join(
        o, versions, ["c_custkey"], "order_day", "valid_from", ["bal_cents"]
    )
    return res.select("o_orderkey", "c_custkey", "bal_cents")


@query(
    "funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 1 HOUR
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 24 HOUR
      GROUP BY e.user_id)
    SELECT CAST(1 AS INT) AS stage, 'view' AS name,
           CAST(count(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT CAST(2 AS INT), 'click_within_1h', CAST(count(*) AS BIGINT) FROM c
    UNION ALL
    SELECT CAST(3 AS INT), 'purchase_within_24h', CAST(count(*) AS BIGINT) FROM p
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered multi-stage funnel with per-stage conversion windows: first
    view -> first click within 1h of it -> first purchase within 24h of
    the click, counted per stage. Stage N's anchor time depends on stage
    N-1's RESULT (not just its existence), so this is inherently
    multi-pass — three aggregations, each joined to the previous stage's
    per-user anchor.

    Scale shape: every stage is a groupBy/join keyed on user_id, so all
    three passes share one partitioning; the stage frames shrink
    monotonically (funnel property), so passes get cheaper, and each
    per-user anchor frame carries exactly one row per surviving user.
    Time-window comparisons stay on full-precision timestamps (µs) in
    both engines."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def _stage(df: DataFrame, stage: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(stage).cast("int").alias("stage"),
            F.lit(name).alias("name"),
            F.count(F.lit(1)).alias("n_users"),
        )

    return (
        _stage(v, 1, "view")
        .unionByName(_stage(c, 2, "click_within_1h"))
        .unionByName(_stage(p, 3, "purchase_within_24h"))
    )


@query(
    "basket_lift",
    """
    WITH pf AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cnt AS (SELECT l_partkey, count(*) AS n FROM pf GROUP BY l_partkey),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM pf),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS support
      FROM pf a JOIN pf b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2)
    SELECT part_a, part_b, CAST(support AS BIGINT) AS support,
           CAST(support * tot.n_orders AS DOUBLE)
             / CAST(ca.n * cb.n AS DOUBLE) AS lift
    FROM pairs
    JOIN cnt ca ON part_a = ca.l_partkey
    JOIN cnt cb ON part_b = cb.l_partkey
    CROSS JOIN tot
    WHERE support >= 3
    ORDER BY support DESC, part_a, part_b
    LIMIT 20
    """,
)
def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association: co-purchase pair support and lift
    (P(a,b) / P(a)P(b)) over order baskets, top-20 by support with a
    deterministic total-order tie-break. The recommender/affinity
    primitive over transactional facts.

    Scale shape: baskets are assembled ONCE (collect_set per order — one
    shuffle on the order key) and pairs explode NARROWLY from the sorted
    basket array via nested array transforms, so pair generation costs
    C(basket_size, 2) per order with NO self-join and no second shuffle
    of the facts — the max basket (13 here) bounds the fan-out, never
    corpus². Per-part counts re-derive from the exploded baskets. Lift is
    computed exactly: integer numerator (support × n_orders) and integer
    denominator (n_a × n_b) with ONE double division — IEEE-identical in
    both engines.

    Pair-aggregate memory (the r9 lesson, BASKET_LIFT_SCALE.md): the
    pair keys are NEARLY UNIQUE (at sf30, ~360M keys of which 600 reach
    support ≥ 3), so a map-side partial aggregate combines almost
    nothing while its hash state grows with the DATA on a fixed heap —
    past the fit point, spill cost turned the 3× step into 3.5–4.6×.
    Restructured: the exploded pairs are hash-REPARTITIONED on the pair
    key to an adaptively-sized partition count (Σ C(sz,2) is computed
    exactly from the basket-size histogram in the same cheap pass that
    counts orders, ~1.5M keys per partition) BEFORE the aggregate, so
    both aggregate operators run post-shuffle on bounded slices and no
    hash map ever holds more than partition-sized state. Combining
    wasn't helping; the shuffle moves the same ~nearly-unique pairs it
    always moved, now into right-sized reducers — the cluster version
    of "executor memory scales with the corpus"."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .localCheckpoint(eager=True)  # feeds pair explode, counts, and total
    )
    cnt = baskets.select(F.explode("parts").alias("l_partkey")).groupBy(
        "l_partkey"
    ).agg(F.count(F.lit(1)).alias("n"))
    # One control-plane pass: order total (exact, embedded as a literal)
    # and the exact pair volume Σ C(sz,2) that sizes the pair shuffle.
    sz = F.size("parts").cast("long")
    totals = baskets.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(sz * (sz - F.lit(1)) / F.lit(2)).cast("long").alias("n_pairs"),
    ).collect()[0]
    n_orders, n_pairs = totals["n_orders"], totals["n_pairs"] or 0
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    agg_parts = max(default_parts, min(4096, int(n_pairs // 1_500_000) + 1))
    pair_structs = F.flatten(
        F.transform(
            "parts",
            lambda x, i: F.transform(
                F.slice("parts", i + 2, F.size("parts")),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select("p.part_a", "p.part_b")
        .repartition(agg_parts, "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )
    ca = cnt.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .select(
            "part_a",
            "part_b",
            "support",
            (
                (F.col("support") * F.lit(n_orders)).cast("double")
                / (F.col("na") * F.col("nb")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(20)
    )


@query(
    "dedup_prefix_jaccard",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, i / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE i / (sa.sz + sb.sz - i) >= 0.6
    """,
)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS near-dup pairs via prefix filtering (PPJoin-style): the
    oracle computes textbook all-pairs Jaccard with NO cap and NO
    sketch, so the hash match proves the prefix filter drops zero
    qualifying pairs — the guarantee neither ``max_df``-capped Jaccard
    (lossy on frequent shingles) nor MinHash-LSH (probabilistic recall)
    can make. See ``dedup.prefix_filter_jaccard_pairs`` for the
    pigeonhole argument and the candidate-bounded scale shape."""
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.prefix_filter_jaccard_pairs(docs, "doc_id", "text", 3, 0.6)


@query(
    "ivm_join_delta",
    """
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view, by the delta rule:
    with V = (O ⋈ C) aggregated per nation, O = O_old ∪ ΔO and
    C = C_old ∪ ΔC,

        V = agg(O_old ⋈ C_old)  ∪+  agg(ΔO ⋈ C)  ∪+  agg(O_old ⋈ ΔC)

    (∪+ = merge of additive partials; ΔO ⋈ C covers both ΔO⋈C_old and
    ΔO⋈ΔC). The query materializes the base view from the OLD sides only
    (orders before 2000-01-01, customers not divisible by 10), computes
    the two delta terms, and folds them in with ``cdc.merge_partial_aggs``
    — never rejoining O_old with C_old. The oracle aggregates the FULL
    join directly, so the hash match proves the delta algebra is exact.

    Scale shape: at 100 TB the base view is a stored per-key rollup; each
    refresh costs O(|ΔO| + |ΔC| + matched history of ΔC), not a history
    rescan. Partial sums stay DECIMAL through the merge (associative,
    order-free) and cast to double only at the end."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    is_new_o = F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    o_old, o_new = o.filter(~is_new_o), o.filter(is_new_o)
    is_new_c = F.col("c_custkey") % 10 == 0
    c_old, c_new = c.filter(~is_new_c), c.filter(is_new_c)

    price_d = F.col("o_totalprice").cast("decimal(18,2)")
    sums = {
        "n_orders": F.count(F.lit(1)),
        "revenue": F.sum(price_d),
    }

    def view_agg(orders_side: DataFrame, cust_side: DataFrame) -> DataFrame:
        j = orders_side.join(cust_side, F.col("o_custkey") == F.col("c_custkey"))
        return j.groupBy("c_nationkey").agg(
            *[e.alias(name) for name, e in sums.items()]
        )

    base = view_agg(o_old, c_old)
    delta = o_new.join(c, F.col("o_custkey") == F.col("c_custkey")).unionByName(
        o_old.join(c_new, F.col("o_custkey") == F.col("c_custkey"))
    )
    merged = cdc.merge_partial_aggs(
        base, delta, ["c_nationkey"], sums
    )
    return merged.select(
        "c_nationkey",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("revenue").cast("double").alias("revenue"),
    )


@query(
    "gapfill_interpolate",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, CAST(ts AS DATE)),
    bounds AS (SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
               FROM events),
    spine AS (
      SELECT u.user_id,
             CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN bounds),
    joined AS (
      SELECT s.user_id, s.day, d.cents FROM spine s
      LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day),
    ctx AS (
      SELECT user_id, day, cents,
        last_value(cents IGNORE NULLS) OVER wb AS prev_v,
        last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
          OVER wb AS prev_d,
        first_value(cents IGNORE NULLS) OVER wf AS next_v,
        first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
          OVER wf AS next_d
      FROM joined
      WINDOW
        wb AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, day,
      CASE
        WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
        WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
          CAST(prev_v AS DOUBLE)
          + CAST(next_v - prev_v AS DOUBLE)
            * (CAST(date_diff('day', prev_d, day) AS DOUBLE)
               / CAST(date_diff('day', prev_d, next_d) AS DOUBLE))
        ELSE NULL
      END AS cents_filled
    FROM ctx
    """,
)
def gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification with LINEAR INTERPOLATION: per-user daily
    purchase totals on a generated calendar spine; days with no
    observation get prev + (next-prev) · elapsed/span between their
    bracketing observations (edges stay NULL — no extrapolation). The
    sensor/metric gap-repair primitive, one step past carry-forward
    (``forward_fill_last_purchase``).

    Scale shape: the spine is users × days-in-range (generated from a
    1-row bounds aggregate, never joined wide); the bracketing
    observations come from two running windows (last/first ignorenulls)
    over the same user_id partitioning as the spine join — no self-join,
    no per-gap search. Interpolation arithmetic performs the identical
    IEEE op sequence in both engines (double cast, one divide, one
    multiply, one add), so even the float column hash-matches."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    users = ev.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(bounds)).select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("day")
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    ctx = joined.select(
        "user_id",
        "day",
        "cents",
        F.last("cents", ignorenulls=True).over(wb).alias("prev_v"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("prev_d"),
        F.first("cents", ignorenulls=True).over(wf).alias("next_v"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("next_d"),
    )
    frac = F.datediff(F.col("day"), F.col("prev_d")).cast("double") / F.datediff(
        F.col("next_d"), F.col("prev_d")
    ).cast("double")
    filled = (
        F.when(F.col("cents").isNotNull(), F.col("cents").cast("double"))
        .when(
            F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(),
            F.col("prev_v").cast("double")
            + (F.col("next_v") - F.col("prev_v")).cast("double") * frac,
        )
        .otherwise(F.lit(None).cast("double"))
    )
    return ctx.select("user_id", "day", filled.alias("cents_filled"))


def _cms_hash_sql(expr: str, j: int, width: int) -> str:
    # One md5 digest per key; depth-j cell = the j-th disjoint 8-hex window
    # (sketches._cms_cells twin).
    return (
        f"('0x' || substring(md5(CAST({expr} AS VARCHAR)), {1 + 8 * j}, 8))"
        f"::BIGINT % {width}"
    )


def _cms_oracle(width: int = 1024, depth: int = 3, k: int = 20) -> str:
    hash_cols = ", ".join(
        f"{_cms_hash_sql('l_partkey', j, width)} AS c{j}" for j in range(depth)
    )
    counter_ctes = ",\n    ".join(
        f"counters{j} AS (SELECT c{j} AS cell, count(*) AS n FROM h GROUP BY c{j})"
        for j in range(depth)
    )
    least = ", ".join(f"x{j}.n" for j in range(depth))
    joins = " ".join(
        f"JOIN counters{j} x{j} ON t.c{j} = x{j}.cell" for j in range(depth)
    )
    return f"""
    WITH h AS (SELECT l_partkey, {hash_cols} FROM lineitem),
    {counter_ctes},
    exact AS (SELECT l_partkey, count(*) AS exact_n FROM lineitem
              GROUP BY l_partkey),
    top AS (SELECT l_partkey, exact_n FROM exact
            ORDER BY exact_n DESC, l_partkey LIMIT {k}),
    topc AS (SELECT l_partkey, exact_n,
                    {", ".join(f"{_cms_hash_sql('l_partkey', j, width)} AS c{j}" for j in range(depth))}
             FROM top)
    SELECT t.l_partkey, CAST(t.exact_n AS BIGINT) AS exact_n,
           CAST(least({least}) AS BIGINT) AS cms_est,
           CAST(least({least}) - t.exact_n AS BIGINT) AS overcount
    FROM topc t {joins}
    """


@query("cms_heavy_hitters", _cms_oracle())
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter frequency estimation with a COUNT-MIN SKETCH: build a
    3×1024 deterministic counter table over lineitem part keys, then
    point-query the true top-20 parts and report estimate vs exact (the
    overcount column is the CMS error — never negative, bounded by cell
    collisions). The oracle rebuilds the identical counters from the
    same salted md5 hashes, so sketch construction, cell assignment, AND
    the min-over-rows estimator are all hash-checked cross-engine —
    the same oracle-reproducible-sketch discipline as KMV
    (``operators/sketches.py``).

    Scale shape: the sketch is one map-side-combined shuffle collapsing
    to ≤ 3072 counters — a fixed-size, MERGEABLE summary (fold per-batch
    counters by summing cells) that replaces a 100 TB groupBy when only
    approximate frequencies of probe keys are needed; estimation joins
    the broadcast-sized counter table, shuffling nothing."""
    from incremental_data_pipeline_spark.operators import sketches as _sk

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    counters = _sk.cms_counters(li, ["l_partkey"], 1024, 3)
    exact = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("exact_n"))
    top = exact.orderBy(F.col("exact_n").desc(), "l_partkey").limit(20)
    est = _sk.cms_estimate(counters, top.select("l_partkey"), ["l_partkey"], 1024, 3)
    return top.join(est, "l_partkey").select(
        "l_partkey",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).cast("bigint").alias("overcount"),
    )


@query(
    "stream_click_purchase_timeout",
    """
    WITH clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    purch AS (SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
    j AS (
      SELECT c.user_id, c.ts, p.p_ts
      FROM clicks c LEFT JOIN purch p
        ON p.user_id = c.user_id
       AND p.p_ts >= c.ts AND p.p_ts <= c.ts + INTERVAL 1 HOUR),
    wm AS (SELECT least(
        (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
         WHERE event_type = 'click'),
        (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
         WHERE event_type = 'purchase')) AS w_us)
    SELECT user_id,
           CAST(count(p_ts) AS BIGINT) AS n_matched,
           CAST(sum(CASE WHEN p_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_expired
    FROM j CROSS JOIN wm
    WHERE p_ts IS NOT NULL
       OR epoch_us(ts + INTERVAL 1 HOUR) < w_us
    GROUP BY user_id
    """,
)
def stream_click_purchase_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join with watermark timeout: the
    abandoned-funnel detector. Matched (click, purchase-within-1h) pairs
    emit as both sides arrive; a click whose hour expires unmatched emits
    ONCE, null-padded, when the event-time watermark passes click_ts + 1h
    — the semantics an inner join cannot express (absence is the signal).

    Determinism contract with the oracle: outer emission is
    watermark-driven, and the query-global watermark is the MIN over both
    sides' watermark operators, each millisecond-truncated (Spark tracks
    watermarks in ms) — here clicks stop hours before purchases, so the
    click side's max pins the watermark. After the drain the final
    no-data micro-batch holds it at least(floor_ms(max click ts),
    floor_ms(max purchase ts)), and an unmatched click emits only where
    click_ts + 1h < that value; the oracle reproduces the cutoff exactly.
    State stays bounded by the same eviction (a left row leaves the
    buffer when its window expires), which is what lets the join run
    forever on unbounded streams."""
    ev = _stream.read_stream(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    joined = _stream.stream_interval_join(
        clicks,
        purchases,
        "user_id",
        "ts",
        "p_ts",
        within="1 hour",
        delay="0 seconds",
        how="left_outer",
    )
    pairs = _stream.run_to_memory(
        joined,
        "append",
        state_partitions=_stream.adaptive_state_partitions(sf_dir, "events"),
    )
    return pairs.groupBy("user_id").agg(
        F.count("p_ts").alias("n_matched"),
        F.sum(F.col("p_ts").isNull().cast("long")).alias("n_expired"),
    )


@query(
    "profile_drift_orders",
    """
    WITH olds AS (
      SELECT CAST(floor(o_totalprice / 50000) AS INT) AS bucket FROM orders
      WHERE o_orderdate < TIMESTAMP '2000-01-01'),
    news AS (
      SELECT CAST(floor(o_totalprice / 50000) AS INT) AS bucket FROM orders
      WHERE o_orderdate >= TIMESTAMP '2000-01-01'),
    ob AS (SELECT bucket, count(*) AS n_old FROM olds GROUP BY bucket),
    nb AS (SELECT bucket, count(*) AS n_new FROM news GROUP BY bucket),
    tot AS (SELECT (SELECT count(*) FROM olds) AS t_old,
                   (SELECT count(*) FROM news) AS t_new)
    SELECT COALESCE(ob.bucket, nb.bucket) AS bucket,
           CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
           CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
           CAST(COALESCE(n_old, 0) AS DOUBLE) / t_old AS rate_old,
           CAST(COALESCE(n_new, 0) AS DOUBLE) / t_new AS rate_new,
           abs(CAST(COALESCE(n_new, 0) AS DOUBLE) / t_new
               - CAST(COALESCE(n_old, 0) AS DOUBLE) / t_old) AS rate_shift
    FROM ob FULL JOIN nb ON ob.bucket = nb.bucket
    CROSS JOIN tot
    """,
)
def profile_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit between two snapshots of the same table
    (orders before vs since 2000-01-01): per price-bucket row counts and
    rates on both sides, full-outer-joined so a bucket that exists in only
    one snapshot (mass appearing or vanishing — the classic drift signal)
    still surfaces, with the absolute rate shift per bucket. The
    monitoring gate that catches upstream schema/unit changes before they
    poison a trained model or a gold rollup.

    Scale shape: two filtered bucket aggregations (map-side combined, one
    shuffle each over ≤ bucket-count groups), a bucket-keyed full outer
    join over tiny aggregates, and broadcast 1-row totals. History is
    scanned once per side with the date filter pushed to parquet. All
    rates are single IEEE divisions of exact integers; the shift is one
    subtraction of identically-computed doubles — deterministic in both
    engines."""
    o = load_table(spark, sf_dir, "orders")
    split = F.lit("2000-01-01").cast("timestamp")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("int").alias("bucket")
    olds = o.filter(F.col("o_orderdate") < split).select(bucket)
    news = o.filter(F.col("o_orderdate") >= split).select(bucket)
    ob = olds.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_old"))
    nb = news.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_new"))
    tot = olds.agg(F.count(F.lit(1)).alias("t_old")).crossJoin(
        news.agg(F.count(F.lit(1)).alias("t_new"))
    )
    j = (
        ob.join(nb, "bucket", "full")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.coalesce("n_old", F.lit(0)).cast("bigint").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
            (
                F.coalesce("n_old", F.lit(0)).cast("double") / F.col("t_old")
            ).alias("rate_old"),
            (
                F.coalesce("n_new", F.lit(0)).cast("double") / F.col("t_new")
            ).alias("rate_new"),
            F.abs(
                F.coalesce("n_new", F.lit(0)).cast("double") / F.col("t_new")
                - F.coalesce("n_old", F.lit(0)).cast("double") / F.col("t_old")
            ).alias("rate_shift"),
        )
    )
    return j


def _ann_recall_oracle(num_planes: int = 8, k: int = 3) -> str:
    return f"""
    WITH vecs AS (SELECT vec_id, {_QV} AS v FROM embeddings),
    bucketed AS (SELECT vec_id, v, {_bucket_sql(num_planes)} AS bucket FROM vecs),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bucketed
          WHERE vec_id < 20),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT)
            AS rank
        FROM (
          SELECT query_id, c.vec_id AS neighbor_id, {_COSINE_SQL} AS cosine
          FROM vecs c CROSS JOIN q
          CROSS JOIN LATERAL (SELECT c.v AS cv) t
          WHERE c.vec_id != query_id))
      WHERE rank <= {k}),
    lshr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT)
            AS rank
        FROM (
          SELECT query_id, c.vec_id AS neighbor_id, {_COSINE_SQL} AS cosine
          FROM bucketed c JOIN q USING (bucket)
          CROSS JOIN LATERAL (SELECT c.v AS cv) t
          WHERE c.vec_id != query_id))
      WHERE rank <= {k}),
    hits AS (SELECT e.query_id, e.neighbor_id
             FROM exact e JOIN lshr l
               ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id)
    SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
           CAST((SELECT count(*) FROM hits) AS DOUBLE)
             / (SELECT count(*) FROM exact) AS recall
    """


@query("ann_lsh_recall", _ann_recall_oracle())
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall of the hyperplane-LSH ANN path against the exact
    brute-force ranking, as a query: |LSH top-k ∩ exact top-k| / |exact
    top-k| over the 20-query probe set. Approximate search is only
    shippable with its accuracy measured, not guessed — this turns the
    recall audit into a first-class, oracle-checked operator (both
    engines rebuild both rankings and must agree on the hit set AND the
    ratio).

    Scale shape: the exact side is the brute-force verifier (broadcast
    query side — affordable precisely because the probe set is small);
    the LSH side is the bucket-bounded production path. The audit runs on
    a sampled probe set at 100 TB, which is exactly what this query
    models."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = _sim.brute_force_topk(emb, queries, k=3).select(
        "query_id", "neighbor_id"
    )
    lsh = _sim.lsh_topk(emb, queries, k=3, num_planes=8, dim=64).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(lsh, ["query_id", "neighbor_id"], "left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_hits = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return n_exact.crossJoin(n_hits).select(
        "n_exact",
        "n_hits",
        (F.col("n_hits").cast("double") / F.col("n_exact").cast("double")).alias(
            "recall"
        ),
    )


@query(
    "shard_balance_report",
    """
    WITH sharded AS (
      SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16
               AS shard,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents),
    tot AS (SELECT count(*) AS n_total FROM sharded)
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(count(*) * 16 AS DOUBLE) / n_total AS balance_ratio
    FROM sharded CROSS JOIN tot
    GROUP BY shard, n_total
    """,
)
def shard_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-sharding for training-data export: every document
    lands in one of 16 shards by public md5 hash (stable across engines,
    sessions, and re-runs — a re-export reproduces byte-identical shard
    membership), with a per-shard balance audit (doc count, token mass,
    and the ratio to perfect balance) so a skewed shard is caught BEFORE
    a data loader starves on it.

    Scale shape: one map-side-combined shuffle over 16 groups; the 1-row
    total broadcasts. At 100 TB the same query audits thousands of
    shards; the hash assignment itself is the partitioner used to WRITE
    the export (repartition on shard), so audit and layout agree by
    construction."""
    from incremental_data_pipeline_spark.operators import sketches as _sk

    docs = load_table(spark, sf_dir, "documents")
    sharded = docs.select(
        (_sk.hash64(["doc_id"]) % 16).alias("shard"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    tot = sharded.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        sharded.crossJoin(F.broadcast(tot))
        .groupBy("shard", "n_total")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            ((F.col("n_docs") * 16).cast("double") / F.col("n_total")).alias(
                "balance_ratio"
            ),
        )
    )


@query(
    "gdpr_erasure_audit",
    """
    WITH erase AS (SELECT DISTINCT user_id FROM events WHERE user_id % 37 = 0),
    after AS (
      SELECT e.* FROM events e
      WHERE NOT EXISTS (SELECT 1 FROM erase x WHERE x.user_id = e.user_id)),
    b AS (SELECT event_type, count(*) AS n_before FROM events GROUP BY 1),
    a AS (SELECT event_type, count(*) AS n_after FROM after GROUP BY 1),
    leftover AS (
      SELECT count(*) AS n_leftover FROM after
      WHERE user_id % 37 = 0)
    SELECT b.event_type,
           CAST(b.n_before AS BIGINT) AS n_before,
           CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_after,
           CAST(b.n_before - COALESCE(a.n_after, 0) AS BIGINT) AS n_erased,
           CAST(leftover.n_leftover AS BIGINT) AS n_leftover
    FROM b LEFT JOIN a ON b.event_type = a.event_type
    CROSS JOIN leftover
    """,
)
def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure cascade with a verifiable audit: a deletion
    request set (here every 37th user) is anti-joined out of the events
    history, and the result is a per-event-type before/after/erased
    ledger PLUS an n_leftover column that must be zero — the compliance
    proof a regulator audit asks for, produced by the same job that does
    the erase.

    Scale shape: the request set is small by nature — broadcast (or
    bloom-prefilter, ``relational.bloom_prefilter``) the anti-join so the
    100 TB history never shuffles; the physical rewrite rides the
    partition-overwrite sink (``sources/sinks.py``) touching only
    partitions that contain matches. Before/after ledgers are two
    map-side-combined aggregations over ≤ |event_type| groups."""
    ev = load_table(spark, sf_dir, "events")
    erase = ev.filter(F.col("user_id") % 37 == 0).select("user_id").distinct()
    after = ev.join(F.broadcast(erase), "user_id", "left_anti")
    before_agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_before"))
    after_agg = after.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_after"))
    leftover = after.filter(F.col("user_id") % 37 == 0).agg(
        F.count(F.lit(1)).alias("n_leftover")
    )
    return (
        before_agg.join(after_agg, "event_type", "left")
        .crossJoin(F.broadcast(leftover))
        .select(
            "event_type",
            "n_before",
            F.coalesce("n_after", F.lit(0)).cast("bigint").alias("n_after"),
            (F.col("n_before") - F.coalesce("n_after", F.lit(0)))
            .cast("bigint")
            .alias("n_erased"),
            "n_leftover",
        )
    )


@query(
    "bfs_khop_parts",
    """
    WITH pairs AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
    edges AS (SELECT a AS src, b AS dst FROM pairs
              UNION ALL SELECT b, a FROM pairs),
    h0 AS (SELECT p_partkey AS node FROM part WHERE p_partkey < 10),
    h1 AS (
      SELECT DISTINCT e.dst AS node FROM edges e JOIN h0 ON e.src = h0.node
      WHERE e.dst NOT IN (SELECT node FROM h0)),
    h2 AS (
      SELECT DISTINCT e.dst AS node FROM edges e JOIN h1 ON e.src = h1.node
      WHERE e.dst NOT IN (SELECT node FROM h0)
        AND e.dst NOT IN (SELECT node FROM h1)),
    h3 AS (
      SELECT DISTINCT e.dst AS node FROM edges e JOIN h2 ON e.src = h2.node
      WHERE e.dst NOT IN (SELECT node FROM h0)
        AND e.dst NOT IN (SELECT node FROM h1)
        AND e.dst NOT IN (SELECT node FROM h2))
    SELECT node, CAST(0 AS INT) AS hop FROM h0
    UNION ALL SELECT node, CAST(1 AS INT) FROM h1
    UNION ALL SELECT node, CAST(2 AS INT) FROM h2
    UNION ALL SELECT node, CAST(3 AS INT) FROM h3
    """,
)
def bfs_khop_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop reachability (BFS, radius 3) from a seed set over the
    undirected part co-purchase graph — the blast-radius query
    (recall/contamination spread, related-item discovery). Every reached
    node is labeled with its MINIMUM hop distance; the oracle unrolls
    the same three frontier expansions as chained anti-joined CTEs, so a
    node labeled at the wrong depth (frontier leak, missed dedup) breaks
    the hash. See ``graph.bfs_hops`` for the per-round checkpointing and
    the fixed-budget loop discipline."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    co = (
        li.alias("l1")
        .join(
            li.alias("l2"),
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .select(
            F.col("l1.l_partkey").alias("a"), F.col("l2.l_partkey").alias("b")
        )
        .distinct()
    )
    edges = co.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        co.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    seeds = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 10)
        .select(F.col("p_partkey").alias("node"))
    )
    return _graph.bfs_hops(edges, seeds, max_hops=3)


@query(
    "interleave_sources",
    """
    WITH srcs AS (
      SELECT source,
             CAST(row_number() OVER (ORDER BY source) AS BIGINT) - 1 AS sidx
      FROM (SELECT DISTINCT source FROM documents)),
    stot AS (SELECT CAST(count(*) AS BIGINT) AS s FROM srcs),
    ranked AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
                  AS BIGINT) AS rn
      FROM documents)
    SELECT r.doc_id, r.source, r.rn,
           (r.rn - 1) * stot.s + srcs.sidx AS position
    FROM ranked r JOIN srcs USING (source) CROSS JOIN stot
    """,
)
def interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic round-robin interleaving across corpus sources — the
    training-data ORDER itself as an operator: position
    (rank_within_source − 1) × n_sources + source_index gives source-
    alternating order (doc k of every source before doc k+1 of any), so
    a data loader streaming by position never sees a long single-source
    run, and a re-export reproduces the identical order.

    Scale shape: deliberately NO global row_number (a single-partition
    sort at 100 TB); the position is a CLOSED FORM from the per-source
    rank (partitioned window, scalable) and a broadcast source-index
    table. Positions have gaps once smaller sources exhaust — harmless
    for ordering, and the price of staying shuffle-free. Writing sorted
    output is then a rangepartition-by-position write, Spark's normal
    distributed sort."""
    docs = load_table(spark, sf_dir, "documents")
    srcs = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            (F.row_number().over(Window.orderBy("source")) - 1)
            .cast("bigint")
            .alias("sidx"),
        )
    )
    stot = srcs.agg(F.count(F.lit(1)).alias("s"))
    ranked = docs.select(
        "doc_id",
        "source",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("doc_id"))
        .cast("bigint")
        .alias("rn"),
    )
    return (
        ranked.join(F.broadcast(srcs), "source")
        .crossJoin(F.broadcast(stot))
        .select(
            "doc_id",
            "source",
            "rn",
            ((F.col("rn") - 1) * F.col("s") + F.col("sidx")).alias("position"),
        )
    )


def _join_est_oracle(width: int = 2048, depth: int = 3) -> str:
    hash_cols = ", ".join(
        f"{_cms_hash_sql('user_id', j, width)} AS c{j}" for j in range(depth)
    )
    counter_ctes = ",\n    ".join(
        f"counters{j} AS (SELECT c{j} AS cell, count(*) AS n FROM h GROUP BY c{j})"
        for j in range(depth)
    )
    est_rows = " UNION ALL ".join(
        f"SELECT CAST(sum(n * n) AS BIGINT) AS est FROM counters{j}"
        for j in range(depth)
    )
    return f"""
    WITH h AS (SELECT user_id, {hash_cols} FROM events),
    {counter_ctes},
    ests AS ({est_rows}),
    exact AS (
      SELECT CAST(sum(n * n) AS BIGINT) AS exact_size
      FROM (SELECT count(*) AS n FROM events GROUP BY user_id))
    SELECT exact.exact_size,
           (SELECT min(est) FROM ests) AS cms_est,
           CAST((SELECT min(est) FROM ests) - exact.exact_size AS DOUBLE)
             / exact.exact_size AS rel_overcount
    FROM exact
    """


@query("join_size_estimate", _join_est_oracle())
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN CARDINALITY ESTIMATION from sketches — the optimizer-statistics
    primitive: |A ⋈_k B| = Σ_v f_A(v)·f_B(v), estimated per CMS depth row
    as the inner product of the two counter rows and min-ed across depths
    [AMS/CMS join-size estimation, Alon-Matias-Szegedy 1996; Cormode-
    Muthukrishnan 2005]. Here the skew-heavy case: the events self-join
    on user_id (Σ n_u² — exactly what a naive optimizer underestimates
    and a shuffle planner needs before committing to a strategy).

    The estimate is an overcount by construction (cell collisions add
    non-negative cross terms); the oracle rebuilds identical counters
    from the same md5-window hashes and must agree on exact size,
    estimate, AND relative error.

    Scale shape: the answer comes from two fixed-size sketches (one
    map-side-combined shuffle each at build, mergeable incrementally) —
    the 100 TB join never runs; estimation cost is O(width·depth)."""
    from incremental_data_pipeline_spark.operators import sketches as _sk

    ev = load_table(spark, sf_dir, "events").select("user_id")
    counters = _sk.cms_counters(ev, ["user_id"], 2048, 3)
    ests = counters.groupBy("d").agg(F.sum(F.col("n") * F.col("n")).alias("est"))
    est_min = ests.agg(F.min("est").cast("bigint").alias("cms_est"))
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * F.col("n")).cast("bigint").alias("exact_size"))
    )
    return exact.crossJoin(est_min).select(
        "exact_size",
        "cms_est",
        (
            (F.col("cms_est") - F.col("exact_size")).cast("double")
            / F.col("exact_size")
        ).alias("rel_overcount"),
    )


@query(
    "skew_advisor_events",
    """
    WITH freq AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(n) AS BIGINT) AS n_rows FROM freq)
    SELECT f.user_id, CAST(f.n AS BIGINT) AS n,
           CAST(f.n * stats.n_keys AS DOUBLE) / stats.n_rows AS skew_factor,
           CAST(CASE WHEN f.n * stats.n_keys <= stats.n_rows THEN 1
                     ELSE CAST(ceil(CAST(f.n * stats.n_keys AS DOUBLE)
                                    / stats.n_rows) AS BIGINT)
                END AS BIGINT) AS suggested_salts
    FROM freq f CROSS JOIN stats
    ORDER BY f.n DESC, f.user_id LIMIT 10
    """,
)
def skew_advisor_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key SKEW ADVISOR: per-key frequency of the hottest join keys,
    each with its skew factor (count ÷ mean count) and a suggested salt
    fan-out for ``relational.salted_join`` (ceil of the skew factor —
    enough salts to bring the hot key's per-reducer share back to the
    mean). The diagnosis step that decides between a plain shuffle join,
    AQE skew splitting, and explicit salting BEFORE a 100 TB shuffle
    commits to the wrong strategy.

    Scale shape: one map-side-combined frequency aggregation, a 1-row
    stats broadcast, and a top-k (TakeOrdered) — the advisor never
    shuffles the fact table it advises about. skew_factor is one double
    division of exact integers; suggested_salts applies ceil to that same
    division (integer-guarded at exactly-mean)."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    freq = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    stats = freq.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
    )
    out = (
        freq.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n"),
            (
                (F.col("n") * F.col("n_keys")).cast("double") / F.col("n_rows")
            ).alias("skew_factor"),
            F.when(F.col("n") * F.col("n_keys") <= F.col("n_rows"), F.lit(1))
            .otherwise(
                F.ceil(
                    (F.col("n") * F.col("n_keys")).cast("double") / F.col("n_rows")
                )
            )
            .cast("bigint")
            .alias("suggested_salts"),
        )
        .orderBy(F.col("n").desc(), "user_id")
        .limit(10)
    )
    return out


@query(
    "min_cost_supplier",
    """
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey)
    SELECT l_partkey, l_suppkey, unit_cost FROM (
      SELECT *, row_number() OVER (PARTITION BY l_partkey
        ORDER BY unit_cost ASC, l_suppkey ASC) AS rn
      FROM unit)
    WHERE rn = 1
    """,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest supplier per part (the TPC-H Q2 shape: argmin per group
    over an aggregated relation, derived here from observed lineitem unit
    prices since the fixtures carry no partsupp). The correlated-subquery
    formulation (`WHERE cost = (SELECT min ...)`) rescans per group; this
    is the scalable rewrite — aggregate once, ONE partitioned window with
    a deterministic tie-break, and Catalyst's WindowGroupLimit keeps only
    the per-group minimum ahead of the final filter.

    Unit cost is a single division of two exact decimal sums, identical
    in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
        ).alias("unit_cost")
    )
    return relational.topk_per_group(
        unit, ["l_partkey"], [F.col("unit_cost").asc(), F.col("l_suppkey").asc()], 1
    ).select("l_partkey", "l_suppkey", "unit_cost")


@query(
    "important_parts_threshold",
    """
    WITH value_by_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS part_value
      FROM lineitem GROUP BY l_partkey),
    total AS (
      SELECT CAST(SUM(CAST(part_value AS DECIMAL(18,2))) AS DOUBLE)
               AS total_value,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM value_by_part)
    SELECT l_partkey, part_value
    FROM value_by_part CROSS JOIN total
    WHERE part_value * n_parts > total_value * 1.5
    """,
)
def important_parts_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts carrying more than 1.5x the MEAN per-part traded value (the
    TPC-H Q11 shape: a HAVING clause against a GLOBAL scalar aggregate,
    with the threshold adaptive to the corpus rather than a magic
    fraction that degenerates as part count scales). The correlated form
    re-aggregates the table inside the predicate; here the global stats
    are ONE extra 1-row aggregate over the already-grouped relation,
    broadcast into the filter — nothing recomputes per group, and the
    detail table is scanned and shuffled once. Sums are exact decimals;
    the compare multiplies identically on both engines (value × n_parts
    vs total × 2)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    by_part = li.groupBy("l_partkey").agg(
        dec_sum("l_extendedprice", "part_value")
    )
    total = by_part.agg(
        F.sum(F.col("part_value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        by_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("part_value") * F.col("n_parts") > F.col("total_value") * 1.5
        )
        .select("l_partkey", "part_value")
    )


@query(
    "hard_negative_mining",
    f"""
    WITH vecs AS (SELECT vec_id, label, {_QV} AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv
          FROM vecs WHERE vec_id < 20),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id, c.label AS neg_label,
             {_COSINE_SQL} AS cosine
      FROM vecs c CROSS JOIN q
      CROSS JOIN LATERAL (SELECT c.v AS cv) t
      WHERE c.label != query_label)
    SELECT query_id, neighbor_id, neg_label, cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER)
          AS rank
      FROM scored)
    WHERE rank <= 2
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 hardest negatives (most-similar different-label vectors) per
    probe embedding — the contrastive-training miner. See
    ``similarity.hard_negatives`` for semantics and the broadcast/fan-out
    scale shape; the oracle re-ranks the label-filtered candidates
    exactly, so a positive leaking into the negative set or a rank
    computed before the label filter breaks the hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _sim.hard_negatives(emb, emb.filter(F.col("vec_id") < 20), k=2)


@query(
    "train_val_test_split",
    """
    WITH assigned AS (
      SELECT lang,
        CASE
          WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               < 429496729 THEN 'val'
          WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               < 858993459 THEN 'test'
          ELSE 'train'
        END AS split
      FROM documents),
    per_lang AS (SELECT lang, count(*) AS n_lang FROM assigned GROUP BY lang)
    SELECT a.lang, a.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) AS DOUBLE) / p.n_lang AS frac_of_lang
    FROM assigned a JOIN per_lang p ON a.lang = p.lang
    GROUP BY a.lang, a.split, p.n_lang
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by public content
    hash, with a per-language leakage/balance audit (every (lang, split)
    cell's count and its share of the language). Hash-split beats random
    split for training pipelines because membership is a PURE FUNCTION of
    the document id: re-runs, backfills, and incremental batches can
    never migrate a document across splits (the subtle leak when
    rand()-split pipelines re-execute).

    Scale shape: the assignment is a narrow expression in the scan stage;
    the audit is one map-side-combined aggregation over |lang|×3 groups
    plus a broadcast per-language total. The same hash thresholds shard
    any future table identically — cross-table split consistency for
    free."""
    from incremental_data_pipeline_spark.operators import sketches as _sk

    docs = load_table(spark, sf_dir, "documents")
    hv = _sk.hash64(["doc_id"])
    assigned = docs.select(
        "lang",
        F.when(hv < int(0.1 * _sk.HASH_SPACE), F.lit("val"))
        .when(hv < int(0.2 * _sk.HASH_SPACE), F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    per_lang = assigned.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    return (
        assigned.groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(F.broadcast(per_lang), "lang")
        .select(
            "lang",
            "split",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("n_lang")).alias(
                "frac_of_lang"
            ),
        )
    )


@query(
    "rolling_active_users",
    """
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    bounds AS (SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
               FROM events),
    cover AS (
      SELECT user_id,
             CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM ud)
    SELECT c.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS active_7d
    FROM cover c CROSS JOIN bounds
    WHERE c.day BETWEEN bounds.lo AND bounds.hi
    GROUP BY c.day
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day — the engagement KPI that's
    quadratic if done naively (per-day distinct over a sliding self-join).
    Scalable formulation: each (user, active-day) fact is exploded
    NARROWLY to the ≤7 window days it contributes to, then ONE
    count-distinct aggregation keyed by day — fan-out bounded by the
    window length, no range join, no per-day rescan. The generated cover
    days are clipped to the observed calendar so edge windows match the
    oracle exactly."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    cover = ud.select(
        "user_id",
        F.explode(F.sequence("day", F.date_add("day", 6))).alias("day"),
    )
    return (
        cover.crossJoin(F.broadcast(bounds))
        .filter(F.col("day").between(F.col("lo"), F.col("hi")))
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("active_7d"))
    )


@query(
    "pit_feature_join",
    """
    WITH labels AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT l.event_id, l.user_id,
           CAST(count(c.ts) AS BIGINT) AS n_clicks_1h_before
    FROM labels l LEFT JOIN clicks c
      ON c.user_id = l.user_id
     AND c.ts < l.ts AND c.ts >= l.ts - INTERVAL 1 HOUR
    GROUP BY l.event_id, l.user_id
    """,
)
def pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE point-in-time feature join: for every training label
    (a purchase), count the same user's clicks STRICTLY BEFORE the label
    time within a 1-hour lookback — the feature-store correctness
    primitive. A plain window join that includes t itself (or anything
    after) trains on the future; the strict < and the 'before' window
    direction are the whole point, and the oracle's explicit inequality
    pair breaks the hash on any off-by-one at either window edge.

    Scale shape: routes through ``relational.interval_count_join(
    direction='before')`` — the bucketed equi-join (each anchor probes
    its own and the PREVIOUS bucket), so cost is per-key window density,
    never a per-key quadratic theta join; zero-history labels survive
    with count 0 via the final left join. Comparisons run on integer
    microsecond epochs in both engines."""
    ev = load_table(spark, sf_dir, "events")
    labels = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    out = relational.interval_count_join(
        labels,
        clicks,
        ["user_id"],
        "ts",
        3600,
        "event_id",
        count_alias="n_clicks_1h_before",
        direction="before",
    )
    return out.select("event_id", "user_id", "n_clicks_1h_before")


@query(
    "user_feature_snapshot",
    """
    WITH anchor AS (SELECT max(ts) AS t0 FROM events),
    feats AS (
      SELECT user_id,
        sum(CASE WHEN event_type = 'purchase'
                  AND ts >= t0 - INTERVAL 7 DAY THEN 1 ELSE 0 END) AS n_purch_7d,
        sum(CASE WHEN event_type = 'click'
                  AND ts >= t0 - INTERVAL 7 DAY THEN 1 ELSE 0 END) AS n_clicks_7d,
        sum(CASE WHEN event_type = 'purchase'
                  AND ts >= t0 - INTERVAL 7 DAY
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
          AS purch_cents_7d,
        min(epoch_us(t0) - epoch_us(ts)) AS us_since_last_event
      FROM events CROSS JOIN anchor
      GROUP BY user_id)
    SELECT user_id,
           CAST(n_purch_7d AS BIGINT) AS n_purch_7d,
           CAST(n_clicks_7d AS BIGINT) AS n_clicks_7d,
           CAST(purch_cents_7d AS BIGINT) AS purch_cents_7d,
           CAST(us_since_last_event AS BIGINT) AS us_since_last_event
    FROM feats
    """,
)
def user_feature_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store materialization: one behavioral feature row per user
    as of the corpus anchor time (trailing-7-day purchase/click counts,
    spend in integer cents, and recency in exact microseconds) — the
    batch-computed snapshot a serving layer would look up at inference.

    Scale shape: ONE pass over the history with conditional aggregation
    (every feature is a CASE inside the same map-side-combined groupBy
    — adding features adds columns, not scans or joins) and a broadcast
    1-row anchor. Recency and windows use integer µs arithmetic, exact
    in both engines."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("t0"))
    week_ago = F.col("t0") - F.expr("INTERVAL 7 DAY")
    in_7d = F.col("ts") >= week_ago
    is_purch = F.col("event_type") == "purchase"
    is_click = F.col("event_type") == "click"
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.sum((is_purch & in_7d).cast("long")).alias("n_purch_7d"),
            F.sum((is_click & in_7d).cast("long")).alias("n_clicks_7d"),
            F.sum(F.when(is_purch & in_7d, cents).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("purch_cents_7d"),
            F.min(F.unix_micros(F.col("t0")) - F.unix_micros(F.col("ts")))
            .cast("bigint")
            .alias("us_since_last_event"),
        )
    )


@query(
    "winsorize_values",
    """
    WITH fences AS (
      SELECT quantile_cont(value, 0.01) AS p01,
             quantile_cont(value, 0.99) AS p99
      FROM events)
    SELECT event_id,
           CAST(round(CASE WHEN value < p01 THEN p01
                           WHEN value > p99 THEN p99
                           ELSE value END * 100) AS BIGINT) AS capped_cents,
           CAST(value < p01 OR value > p99 AS BOOLEAN) AS was_capped
    FROM events CROSS JOIN fences
    """,
)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile capping) of a numeric feature: values
    outside the exact [p1, p99] fences are clamped to the fence, with a
    flag recording which rows were touched — the standard tail-taming
    step before a scale-sensitive model consumes the column. Exact
    (interpolated) percentiles, not approx sketches, so both engines
    derive identical fences; capped output is quantized to integer cents
    for an order-free hash.

    Scale shape: one exact-percentile aggregation (single shuffle with
    sorted-run partials) producing a 1-row fence table broadcast into a
    narrow map over the detail — the detail never shuffles. At extreme
    scale swap percentile for approx_percentile and lose oracle
    exactness, not the plan shape."""
    ev = load_table(spark, sf_dir, "events")
    q = F.expr("percentile(value, array(0.01D, 0.99D))")
    fences = ev.agg(q[0].alias("p01"), q[1].alias("p99"))
    capped = (
        F.when(F.col("value") < F.col("p01"), F.col("p01"))
        .when(F.col("value") > F.col("p99"), F.col("p99"))
        .otherwise(F.col("value"))
    )
    return ev.crossJoin(F.broadcast(fences)).select(
        "event_id",
        F.round(capped * 100).cast("bigint").alias("capped_cents"),
        ((F.col("value") < F.col("p01")) | (F.col("value") > F.col("p99"))).alias(
            "was_capped"
        ),
    )


@query(
    "mad_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    mad AS (
      SELECT e.event_type, med.med,
             quantile_cont(abs(e.value - med.med), 0.5) AS mad
      FROM events e JOIN med ON e.event_type = med.event_type
      GROUP BY e.event_type, med.med)
    SELECT e.event_id, e.event_type,
           CAST(round(e.value * 100) AS BIGINT) AS value_cents
    FROM events e JOIN mad ON e.event_type = mad.event_type
    WHERE abs(e.value - mad.med) > 3 * mad.mad
    """,
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by MEDIAN ABSOLUTE DEVIATION per group:
    rows farther than 3×MAD from their group median. Unlike the z-score
    (events_value_outliers) and the Tukey fence (iqr family), MAD's
    breakdown point is 50% — the estimator itself survives a
    contaminated column, which is the realistic data-quality setting.

    Scale shape: two exact-percentile passes (median, then median of
    absolute deviations — MAD is inherently two-pass), each one shuffle
    with the tiny per-group stats broadcast back; the detail table never
    shuffles. Both engines interpolate percentiles identically and apply
    the same |x−med| > 3·mad comparison."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type", "med").agg(
        F.expr("percentile(abs(value - med), 0.5D)").alias("mad")
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .filter(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
        )
    )


@query(
    "encoding_advisor",
    """
    WITH stats AS (
      SELECT 'l_returnflag' AS col_name,
             CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_distinct,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(octet_length(encode(l_returnflag))) AS BIGINT) AS n_bytes
      FROM lineitem
      UNION ALL
      SELECT 'l_shipinstruct_like', count(DISTINCT l_linestatus), count(*),
             sum(octet_length(encode(l_linestatus)))
      FROM lineitem
      UNION ALL
      SELECT 'l_orderkey', count(DISTINCT l_orderkey), count(*),
             count(*) * 8
      FROM lineitem)
    SELECT col_name, n_distinct, n_rows, n_bytes,
           CAST(n_distinct AS DOUBLE) / n_rows AS distinct_ratio,
           CASE WHEN n_distinct * 20 <= n_rows THEN 'dictionary'
                ELSE 'plain' END AS advice
    FROM stats
    """,
)
def encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout advisor: per-column cardinality, row count, and byte
    mass with a dictionary-vs-plain encoding recommendation (dictionary
    pays when a column repeats ≥20×) — the profiling step behind parquet
    encoding and Z-order column choices (``compact_zorder_events``
    consumes exactly this kind of signal).

    Scale shape: each column's profile is one aggregation; Spark computes
    all three in a single pass here (unioned single-column aggregates
    over one cached scan — at 100 TB you'd run one multi-aggregate pass
    with approx_count_distinct instead, same plan shape, sketched
    cardinality)."""
    li = load_table(spark, sf_dir, "lineitem")

    def prof(col_name_out: str, col: str, fixed_bytes: int | None = None) -> DataFrame:
        nbytes = (
            (F.count(F.lit(1)) * fixed_bytes).cast("bigint")
            if fixed_bytes is not None
            else F.sum(F.octet_length(F.encode(F.col(col), "UTF-8"))).cast("bigint")
        )
        return li.agg(
            F.lit(col_name_out).alias("col_name"),
            F.countDistinct(col).alias("n_distinct"),
            F.count(F.lit(1)).alias("n_rows"),
            nbytes.alias("n_bytes"),
        )

    stats = (
        prof("l_returnflag", "l_returnflag")
        .unionByName(prof("l_shipinstruct_like", "l_linestatus"))
        .unionByName(prof("l_orderkey", "l_orderkey", fixed_bytes=8))
    )
    return stats.select(
        "col_name",
        "n_distinct",
        "n_rows",
        "n_bytes",
        (F.col("n_distinct").cast("double") / F.col("n_rows")).alias(
            "distinct_ratio"
        ),
        F.when(F.col("n_distinct") * 20 <= F.col("n_rows"), F.lit("dictionary"))
        .otherwise(F.lit("plain"))
        .alias("advice"),
    )


@query(
    "aqp_sample_revenue",
    """
    WITH sampled AS (
      SELECT o_totalprice FROM orders
      WHERE ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
            < 429496729),
    est AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sampled,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) * 10
               AS est_revenue
      FROM sampled),
    exact AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS exact_revenue
      FROM orders)
    SELECT n_sampled, est_revenue, exact_revenue,
           (est_revenue - exact_revenue) / exact_revenue AS rel_err
    FROM est CROSS JOIN exact
    """,
)
def aqp_sample_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing on a DETERMINISTIC 10% hash sample:
    total revenue estimated as 10× the sample sum, reported next to the
    exact answer and the realized relative error — the AQP pattern
    (sample once, answer many aggregates fast) with the same
    hash-Bernoulli determinism as the sampling operators, so the
    'approximate' answer is still bit-reproducible and oracle-checkable.

    Scale shape: the sample predicate is a narrow expression AT THE SCAN
    (only sampled rows survive into the aggregate), so the estimate costs
    ~10% of the exact pass; the exact side here exists only to measure
    the error. Decimal sums keep both engines' arithmetic identical; the
    scale-up and error are single IEEE ops."""
    from incremental_data_pipeline_spark.operators import sketches as _sk

    o = load_table(spark, sf_dir, "orders")
    hv = _sk.hash64(["o_orderkey"])
    sampled = o.filter(hv < int(0.1 * _sk.HASH_SPACE))
    est = sampled.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double") * 10
        ).alias("est_revenue"),
    )
    exact = o.agg(dec_sum("o_totalprice", "exact_revenue"))
    return est.crossJoin(F.broadcast(exact)).select(
        "n_sampled",
        "est_revenue",
        "exact_revenue",
        (
            (F.col("est_revenue") - F.col("exact_revenue")) / F.col("exact_revenue")
        ).alias("rel_err"),
    )


@query(
    "file_provenance_counts",
    """
    SELECT 'events.parquet' AS file_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id
    FROM events
    """,
)
def file_provenance_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row provenance down to the SOURCE FILE: per-file row counts and id
    ranges via ``input_file_name()`` — the audit that answers "which
    upload produced these rows" (bad-batch blame, re-ingest scoping,
    min/max pruning stats per file). Provenance rolls up to the LOGICAL
    dataset: a Spark-written table is a directory of ``part-*`` files,
    so those group under their parent dataset name, while a single-file
    upload keeps its basename — the same query and the same oracle hold
    at both layouts (the driver's flat one-file fixtures AND the
    Spark-written directory fixtures of the big-SF sweeps, where the
    per-physical-file grouping used to fan out to 32 rows the
    view-bound oracle cannot see). In production the per-file min/max
    are exactly what a file-skipping reader prunes on.

    Scale shape: input_file_name is a zero-cost scan-stage expression;
    the aggregate is one map-side-combined shuffle over #files groups."""
    ev = load_table(spark, sf_dir, "events")
    parts = F.split(F.input_file_name(), "/")
    base = F.element_at(parts, -1)
    dataset = F.when(
        base.startswith("part-"), F.element_at(parts, -2)
    ).otherwise(base)
    return ev.groupBy(dataset.alias("file_name")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("event_id").cast("bigint").alias("min_id"),
        F.max("event_id").cast("bigint").alias("max_id"),
    )


@query(
    "revenue_share_window",
    """
    SELECT n_name, order_year, revenue,
           revenue / CAST(sum(CAST(revenue AS DECIMAL(18,2)))
                          OVER (PARTITION BY order_year) AS DOUBLE)
             AS share_of_year
    FROM (
      SELECT n.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS INT)
               AS order_year,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS INT))
    """,
)
def revenue_share_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total window (the RATIO_TO_REPORT shape): each nation's
    share of its year's revenue — aggregate once, then a window sum over
    the ALREADY-AGGREGATED relation, so the window runs over ~|nations|×
    |years| rows, not the fact table.

    Determinism: a window sum over DOUBLES is partition-order-sensitive
    (surfaced immediately by the oracle gate), so the window total
    re-casts the 2-dp revenues to DECIMAL — associative, order-free —
    and the share is ONE double division of identical operands. The same
    decimal-through-the-aggregate discipline as every money sum in this
    registry."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    agg = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(dec_sum("o_totalprice", "revenue"))
    )
    w = Window.partitionBy("order_year")
    return agg.select(
        "n_name",
        "order_year",
        "revenue",
        (
            F.col("revenue")
            / F.sum(F.col("revenue").cast("decimal(18,2)")).over(w).cast("double")
        ).alias("share_of_year"),
    )


@query(
    "user_trend_slopes",
    """
    WITH pts AS (
      SELECT user_id,
             epoch_us(ts) // 1000000
               - min(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id) AS x,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events WHERE event_type = 'purchase'),
    sums AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts GROUP BY user_id)
    SELECT user_id, n,
           CASE WHEN n * sxx - sx * sx != 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
           END AS slope_cents_per_sec
    FROM sums
    """,
)
def user_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity TREND DETECTION as exact SQL: the OLS slope of purchase
    value over time for every user, via the closed form
    (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) — regression WITHOUT a UDF, a
    Python loop, or an ML library. x is seconds since the user's first
    purchase (bounding every product inside BIGINT), y is integer cents;
    all five sufficient statistics come from ONE map-side-combined
    aggregation, and the slope is a single division of exact integers —
    bit-identical across engines. Degenerate users (single point or zero
    x-variance) yield NULL, not a crash.

    Scale shape: this is the feature-extraction pattern for millions of
    entities — one shuffle on the entity key, five sums per group; adding
    intercept/R² adds expressions, not passes."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    sec = (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1_000_000)).cast(
        "long"
    )
    w = Window.partitionBy("user_id")
    pts = ev.select(
        "user_id",
        (sec - F.min(sec).over(w)).alias("x"),
        F.round(F.col("value") * 100).cast("bigint").alias("y"),
    )
    sums = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return sums.select(
        "user_id",
        "n",
        F.when(den != 0, num.cast("double") / den.cast("double")).alias(
            "slope_cents_per_sec"
        ),
    )


@query(
    "time_weighted_avg",
    """
    WITH seq AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             epoch_us(ts) AS t,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS t_next
      FROM events),
    held AS (
      SELECT user_id, cents, t_next - t AS dt_us
      FROM seq WHERE t_next IS NOT NULL)
    SELECT user_id,
           CAST(sum(cents * dt_us) AS BIGINT) AS weighted_sum,
           CAST(sum(dt_us) AS BIGINT) AS span_us,
           CAST(sum(cents * dt_us) AS DOUBLE) / sum(dt_us) AS twap_cents
    FROM held GROUP BY user_id
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED average (TWAP) per user: each observation's value is
    weighted by how long it was the latest one (lead(ts) − ts), the
    correct mean for irregularly-sampled state — a plain AVG over-weights
    bursts (the financial/sensor staple). Weights are exact integer
    microseconds, values integer cents, so the weighted sum is an exact
    BIGINT and the final TWAP is one IEEE division — hash-stable.

    Scale shape: one window pass for the holding interval (shuffle on the
    entity key) and one aggregation reusing the same partitioning; a
    deterministic (ts, event_id) tie-break keeps lead() reproducible
    under concurrent-timestamp events."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        t.alias("t"),
        F.lead(t).over(w).alias("t_next"),
    )
    held = seq.filter(F.col("t_next").isNotNull()).select(
        "user_id", "cents", (F.col("t_next") - F.col("t")).alias("dt_us")
    )
    return held.groupBy("user_id").agg(
        F.sum(F.col("cents") * F.col("dt_us")).cast("bigint").alias("weighted_sum"),
        F.sum("dt_us").cast("bigint").alias("span_us"),
        (
            F.sum(F.col("cents") * F.col("dt_us")).cast("double") / F.sum("dt_us")
        ).alias("twap_cents"),
    )


@query(
    "cohort_ltv",
    """
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id),
    purchases AS (
      SELECT e.user_id, f.cohort_week,
             CAST(floor(date_diff('day', f.cohort_week, CAST(e.ts AS DATE)) / 7)
                  AS INT) AS week_n,
             CAST(round(e.value * 100) AS BIGINT) AS cents
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'),
    weekly AS (
      SELECT cohort_week, week_n,
             CAST(sum(cents) AS BIGINT) AS rev_cents,
             CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
      FROM purchases GROUP BY cohort_week, week_n)
    SELECT cohort_week, week_n, rev_cents, active_users,
           CAST(sum(rev_cents) OVER (PARTITION BY cohort_week ORDER BY week_n
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_rev_cents
    FROM weekly
    """,
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LIFETIME-VALUE curves: users grouped by first-seen week,
    revenue accumulated per weeks-since-signup — the running total whose
    trajectory per cohort is the LTV curve a growth model fits
    (complements ``retention_cohorts``, which tracks presence, not
    value). Revenue stays integer cents end-to-end, so even the running
    window sum is exact.

    Scale shape: first-seen is one min-aggregation; the cohort tag joins
    back broadcast; weekly rollup is one shuffle on (cohort, week); the
    cumulative window runs over the tiny rolled-up relation, not the
    events."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(first_seen), "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(F.to_date("ts"), F.col("cohort_week")) / 7
            )
            .cast("int")
            .alias("week_n"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    weekly = purchases.groupBy("cohort_week", "week_n").agg(
        F.sum("cents").cast("bigint").alias("rev_cents"),
        F.countDistinct("user_id").alias("active_users"),
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_n")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return weekly.select(
        "cohort_week",
        "week_n",
        "rev_cents",
        "active_users",
        F.sum("rev_cents").over(w).cast("bigint").alias("cum_rev_cents"),
    )


@query(
    "active_day_streaks",
    """
    WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    grouped AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                        AS INT) AS grp
      FROM days),
    streaks AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS streak_len,
             min(day) AS streak_start
      FROM grouped GROUP BY user_id, grp)
    SELECT user_id, streak_len, streak_start FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
        ORDER BY streak_len DESC, streak_start ASC) AS rn
      FROM streaks)
    WHERE rn = 1
    """,
)
def active_day_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the classic
    GAPS-AND-ISLANDS: consecutive days share the constant (day −
    row_number) island key, so streaks fall out of one window plus one
    aggregation, no self-join and no iteration. Ties resolve to the
    earliest streak for determinism.

    Scale shape: everything is keyed on user_id — the distinct, the
    window, the island aggregation, and the final per-user argmax share
    one partitioning; Catalyst collapses them into a single shuffle's
    worth of exchanges."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grouped = days.withColumn(
        "grp", F.date_sub("day", F.row_number().over(w))
    )
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.min("day").alias("streak_start"),
    )
    return relational.topk_per_group(
        streaks,
        ["user_id"],
        [F.col("streak_len").desc(), F.col("streak_start").asc()],
        1,
    ).select("user_id", "streak_len", "streak_start")


@query(
    "disorder_report",
    """
    WITH seq AS (
      SELECT event_type,
             greatest(CAST(max(epoch_us(ts)) OVER (PARTITION BY user_id
                 ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING) - epoch_us(ts) AS BIGINT), 0) AS late_us
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_out_of_order,
           CAST(max(late_us) AS BIGINT) AS max_late_us,
           quantile_cont(CAST(late_us AS DOUBLE), 0.99) AS p99_late_us
    FROM seq GROUP BY event_type
    """,
)
def disorder_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile of an event stream IN ARRIVAL ORDER
    (event_id): per event type, how many events arrived with a timestamp
    behind the running maximum, and how far behind (max and exact p99
    lateness in µs). This is the measurement that TUNES every
    ``withWatermark`` delay in the streaming layer — a delay below the
    real p99 silently drops data, one far above it bloats state; guessing
    is how both happen.

    Scale shape: one running-max window per arrival key and one
    aggregation; lateness stays integer µs, and the single float output
    (p99) is the same interpolated percentile in both engines."""
    ev = load_table(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = F.greatest(
        (F.max(t).over(w) - t).cast("bigint"), F.lit(0).cast("bigint")
    )
    seq = ev.select("event_type", late.alias("late_us"))
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("late_us") > 0).cast("long")).cast("bigint").alias(
            "n_out_of_order"
        ),
        F.max("late_us").cast("bigint").alias("max_late_us"),
        F.expr("percentile(CAST(late_us AS DOUBLE), 0.99D)").alias("p99_late_us"),
    )


@query(
    "market_share_brand",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
      CAST(SUM(CASE WHEN p_brand = 'Brand#13'
        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS brand_revenue,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        AS DOUBLE) AS total_revenue,
      CAST(SUM(CASE WHEN p_brand = 'Brand#13'
        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part ON l_partkey = p_partkey
    GROUP BY order_year
    """,
)
def market_share_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one brand's share of total revenue per order year —
    the nested-aggregation-with-CASE market-share pattern, collapsed to a
    single conditional aggregate (no second grouping pass).

    Scale shape: part broadcasts into the fact join; the only shuffles are
    the fact-to-orders equi-join and one tiny per-year aggregation. Both
    sums are decimal-exact, so the final double divide is the single
    IEEE-deterministic float op."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    brand_vol = F.when(F.col("p_brand") == "Brand#13", vol).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    joined = li.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    res = joined.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year")
    ).agg(
        F.sum(brand_vol).cast("double").alias("brand_revenue"),
        F.sum(vol).cast("double").alias("total_revenue"),
    )
    return res.withColumn(
        "mkt_share", F.col("brand_revenue") / F.col("total_revenue")
    )


@query(
    "custdist_orders",
    """
    WITH c_orders AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def custdist_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts, with a
    predicate INSIDE the outer-join condition (excluded orders must not
    drop the customer — a WHERE would). Customers with no qualifying
    orders land in the c_count = 0 bucket via count(col)'s null-skipping.

    Scale shape: one equi-join shuffle on custkey feeding a same-keyed
    aggregation (no extra exchange), then a tiny second aggregation over
    at most a few hundred distinct counts."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = cust.join(
        orders,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderpriority") != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@query(
    "embedding_quantize_int8",
    """
    WITH ex AS (
      SELECT vec_id, unnest(range(len(embedding))) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    dims AS (SELECT i, min(v) AS lo, max(v) AS hi FROM ex GROUP BY i),
    codes AS (
      SELECT vec_id,
        CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
          ELSE CAST(floor((v - lo) * 255 / (hi - lo)) AS BIGINT) END AS code
      FROM ex JOIN dims USING (i))
    SELECT vec_id, CAST(sum(code) AS BIGINT) AS code_sum,
           CAST(min(code) AS BIGINT) AS code_min,
           CAST(max(code) AS BIGINT) AS code_max
    FROM codes GROUP BY vec_id
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding corpus: per-dimension
    min/max over the whole corpus defines the affine scale, each value
    maps to floor((v - lo) * 255 / (hi - lo)) — the calibration+encode
    pass every vector store / ANN index build runs before serving.
    Returned as per-vector code aggregates so the check stays compact.

    Scale shape: the calibration aggregate reduces to ONE tiny row per
    dimension (64 rows) regardless of corpus size and broadcasts back
    into the encode pass, so the corpus is scanned twice and shuffled
    once (on vec_id for the final rollup). Every code is integer-exact:
    float32 values promote to double exactly and both engines run the
    identical IEEE op sequence before floor."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "val")
    ).select("vec_id", "i", F.col("val").cast("double").alias("v"))
    dims = ex.groupBy("i").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    codes = ex.join(F.broadcast(dims), "i").select(
        "vec_id",
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("bigint"))
        .otherwise(
            F.floor(
                (F.col("v") - F.col("lo")) * 255 / (F.col("hi") - F.col("lo"))
            )
        )
        .alias("code"),
    )
    return codes.groupBy("vec_id").agg(
        F.sum("code").cast("bigint").alias("code_sum"),
        F.min("code").cast("bigint").alias("code_min"),
        F.max("code").cast("bigint").alias("code_max"),
    )


@query(
    "price_band_pairs",
    """
    SELECT a.p_type AS p_type, CAST(count(*) AS BIGINT) AS n_pairs,
      CAST(SUM(CAST(abs(a.p_retailprice - b.p_retailprice)
        AS DECIMAL(18,4))) AS DOUBLE) AS gap_sum
    FROM part a JOIN part b
      ON a.p_type = b.p_type AND a.p_partkey < b.p_partkey
      AND abs(a.p_retailprice - b.p_retailprice) <= 1.0
    GROUP BY a.p_type
    """,
)
def price_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded theta-join: pairs of same-type parts whose prices differ by
    at most 1.0. The oracle states it as the naive all-pairs theta join;
    the engine (a) converts it to an EQUI-join by flooring prices into
    unit-width bands and probing each cell against its own band ±1 — a
    bound of |Δprice| ≤ w means band ids differ by at most 1, so the
    3-way band fan-out loses no pair and finds each exactly once — and
    (b) COLLAPSES the join to the distinct-(type, price) grid first:
    every member of a grid cell participates identically, so a cell pair
    contributes m_a·m_b pairs and m_a·m_b·|Δ| gap mass, and a cell's
    internal pairs contribute C(m,2) with gap 0. The factorization is
    exact — |Δ| and the ≤ predicate are evaluated on the very same
    doubles the per-row join would see, and the per-pair
    DECIMAL(18,4)-rounded gap is constant within a cell pair, so
    multiplying it by the integer m_a·m_b is bit-identical to summing it
    m_a·m_b times.

    Scale shape (the sf10 point exposed the row-level form as sharply
    superlinear — its per-bucket pair enumeration grows with the square
    of duplicate-price multiplicity):
    row-level banding confines the blowup to (type, band) buckets, but
    duplicate PRICES make bucket population — and the pair count itself —
    grow with corpus size, so enumerating pairs is inherently
    superlinear. The grid collapse does the only O(distinct) work:
    one map-side-combinable count shuffle builds the grid, the banded
    self-join runs on the grid (bounded by |types| × price range, NOT by
    row count), and multiplicities multiply out."""
    part = load_table(spark, sf_dir, "part")
    g = (
        part.select(
            "p_type", F.col("p_retailprice").cast("double").alias("price")
        )
        .groupBy("p_type", "price")
        .agg(F.count(F.lit(1)).alias("m"))
        .withColumn("band", F.floor("price").cast("long"))
    )
    probe = g.withColumn(
        "nb",
        F.explode(F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)),
    )
    a, b = probe.alias("a"), g.alias("b")
    # cross-cell pairs, each unordered cell pair once (price_a < price_b);
    # the gap predicate/value uses the identical double arithmetic the
    # row-level join would
    gap = F.abs(F.col("a.price") - F.col("b.price"))
    cross = (
        a.join(
            b,
            (F.col("a.p_type") == F.col("b.p_type"))
            & (F.col("a.nb") == F.col("b.band"))
            & (F.col("a.price") < F.col("b.price"))
            & (F.abs(F.col("a.price") - F.col("b.price")) <= 1.0),
        )
        .select(
            F.col("a.p_type").alias("p_type"),
            (F.col("a.m") * F.col("b.m")).alias("pairs"),
            (
                gap.cast("decimal(18,4)")
                * (F.col("a.m") * F.col("b.m")).cast("decimal(18,0)")
            ).alias("gap_mass"),
        )
    )
    # within-cell pairs: C(m,2) identical-price pairs, gap exactly 0
    within = g.filter(F.col("m") >= 2).select(
        "p_type",
        F.expr("m * (m - 1) div 2").alias("pairs"),
        F.lit(0).cast("decimal(18,4)").alias("gap_mass"),
    )
    return (
        cross.unionByName(within)
        .groupBy("p_type")
        .agg(
            F.sum("pairs").cast("bigint").alias("n_pairs"),
            F.sum("gap_mass").cast("double").alias("gap_sum"),
        )
    )


@query(
    "session_path_bigrams",
    """
    WITH seq AS (
      SELECT event_type AS src,
        lead(event_type) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) AS dst
      FROM events)
    SELECT src, dst, CAST(count(*) AS BIGINT) AS n_trans
    FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    """,
)
def session_path_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining: the event-type transition matrix
    (bigram counts over each user's time-ordered event stream) — the
    input to Markov-chain attribution and next-event models. Ordering is
    (ts, event_id) so replays are deterministic even with equal
    timestamps.

    Scale shape: one window shuffle on user_id, then a 25-cell (|types|²)
    aggregation — the transition matrix never grows with data volume."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    return (
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )


@query(
    "kmv_users_by_event_type",
    _sketches.kmv_grouped_oracle_sql(
        "events", "event_type", "event_type", "user_id", k=128
    ),
)
def kmv_users_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimates from one KMV sketch per
    type — the per-dimension-cell cardinality rollup a metrics store
    keeps, bit-reproduced by the oracle (unlike HLL).

    Scale shape: one (type, hash) distinct shuffle with map-side
    partials, then a bottom-k window that keeps ≤ k rows per type; the
    final aggregation is |types| × k rows regardless of event volume."""
    from incremental_data_pipeline_spark.operators import sketches as _sk

    ev = load_table(spark, sf_dir, "events")
    return _sk.kmv_distinct_by_group(ev, ["event_type"], ["user_id"], k=128)


@query(
    "customer_balance_rank_profile",
    """
    SELECT c_custkey, c_nationkey,
      CAST(rank() OVER wv AS BIGINT) AS bal_rank,
      CAST(dense_rank() OVER wv AS BIGINT) AS bal_dense_rank,
      percent_rank() OVER wv AS bal_pct_rank,
      cume_dist() OVER wv AS bal_cume_dist,
      CAST(ntile(4) OVER wu AS INT) AS bal_quartile
    FROM customer
    WINDOW wv AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC),
           wu AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def customer_balance_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function surface in one pass: rank, dense_rank,
    percent_rank and cume_dist over the VALUE ordering (peer groups =
    equal balances, so ties are engine-independent by definition), plus
    ntile over a TIEBROKEN ordering — ntile splits peer groups by
    position, so it is only deterministic with a unique sort key.

    Scale shape: both windows share the c_nationkey partitioning — one
    shuffle, two sorts, zero joins."""
    cust = load_table(spark, sf_dir, "customer")
    wv = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    wu = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(wv).cast("bigint").alias("bal_rank"),
        F.dense_rank().over(wv).cast("bigint").alias("bal_dense_rank"),
        F.percent_rank().over(wv).alias("bal_pct_rank"),
        F.cume_dist().over(wv).alias("bal_cume_dist"),
        F.ntile(4).over(wu).cast("int").alias("bal_quartile"),
    )


@query(
    "order_span_overlap_pairs",
    """
    WITH spans AS (
      SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS s,
             CAST(max(l_shipdate) AS DATE) AS e
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderkey, o_custkey, o_orderdate)
    SELECT a.o_custkey AS custkey,
           CAST(count(*) AS BIGINT) AS n_overlaps,
           CAST(sum(date_diff('day',
               greatest(a.s, b.s), least(a.e, b.e)) + 1) AS BIGINT)
             AS overlap_days_sum
    FROM spans a JOIN spans b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
      AND a.s <= b.e AND b.s <= a.e
    GROUP BY a.o_custkey
    """,
)
def order_span_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP self-join, per entity: each order's fulfillment
    span is [orderdate, last shipdate]; count pairs of the same
    customer's orders whose spans overlap and total the shared days —
    the concurrency measure behind in-flight-work and overlapping-session
    analyses. Distinct from the point-in-interval joins
    (`interval_count_join`): both sides are intervals.

    Scale shape: spans build with one orderkey-grouped aggregation; the
    overlap join is an equi-join on the entity key, so the quadratic
    step is confined to one customer's orders per key — the same
    bucket-bounding contract as the band/LSH joins. Day arithmetic stays
    integer-exact."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_custkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("e_ts"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.to_date("o_orderdate").alias("s"),
            F.to_date("e_ts").alias("e"),
        )
    )
    a, b = spans.alias("a"), spans.alias("b")
    pairs = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e")),
    )
    overlap_days = (
        F.datediff(
            F.least(F.col("a.e"), F.col("b.e")),
            F.greatest(F.col("a.s"), F.col("b.s")),
        )
        + 1
    )
    return pairs.groupBy(F.col("a.o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_overlaps"),
        F.sum(overlap_days.cast("bigint")).cast("bigint").alias(
            "overlap_days_sum"
        ),
    )


@query(
    "measure_correlations",
    """
    WITH m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sq,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sp,
        CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sd,
        CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4)))
          AS VARCHAR) AS DOUBLE) AS sqq,
        CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,4)))
          AS VARCHAR) AS DOUBLE) AS spp,
        CAST(CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(18,4)))
          AS VARCHAR) AS DOUBLE) AS sdd,
        CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4)))
          AS VARCHAR) AS DOUBLE) AS sqp,
        CAST(CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(18,4)))
          AS VARCHAR) AS DOUBLE) AS sqd,
        CAST(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
          AS VARCHAR) AS DOUBLE) AS spd
      FROM lineitem)
    SELECT CAST(n AS BIGINT) AS n_rows,
      (n * sqp - sq * sp) / sqrt((n * sqq - sq * sq) * (n * spp - sp * sp))
        AS corr_qty_price,
      (n * sqd - sq * sd) / sqrt((n * sqq - sq * sq) * (n * sdd - sd * sd))
        AS corr_qty_disc,
      (n * spd - sp * sd) / sqrt((n * spp - sp * sp) * (n * sdd - sd * sd))
        AS corr_price_disc
    FROM m
    """,
)
def measure_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over the lineitem measures via EXACT
    MOMENTS: each product is ONE exact double multiply (all products carry
    ≤ 4 decimal digits, inside double's 53-bit mantissa) and every sum
    accumulates in decimal, so the moments are exact and
    shuffle-order-independent, and the correlation formula is then a
    fixed IEEE double op sequence — bit-identical across engines, unlike
    a built-in ``corr`` whose streaming update order is engine-specific.

    Scale shape: ONE map-side-combinable aggregation pass produces all
    nine moments; the correlations are computed on a single reduced
    row."""
    li = load_table(spark, sf_dir, "lineitem")
    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")

    def dsum(col):
        # double multiply first (exact: all products carry <= 4 decimal
        # digits, well inside double's 53-bit mantissa), THEN the decimal
        # cast — decimal x decimal overflows DuckDB's int64 fast path.
        # The decimal -> double hop goes THROUGH A STRING: once a moment
        # exceeds 2^53 the direct cast rounds, and Spark's BigDecimal
        # path and DuckDB's divide-by-10^scale path can disagree by one
        # ulp (observed at sf0.1). decimal -> varchar is exact in both
        # engines and varchar -> double is correctly rounded in both, so
        # the string hop pins the identical double.
        return F.sum(col.cast("decimal(18,4)")).cast("string").cast("double")

    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(q).alias("sq"),
        dsum(p).alias("sp"),
        dsum(d).alias("sd"),
        dsum(q * q).alias("sqq"),
        dsum(p * p).alias("spp"),
        dsum(d * d).alias("sdd"),
        dsum(q * p).alias("sqp"),
        dsum(q * d).alias("sqd"),
        dsum(p * d).alias("spd"),
    )

    def corr(sxy, sx, sy, sxx, syy):
        n = F.col("n")
        return (n * F.col(sxy) - F.col(sx) * F.col(sy)) / F.sqrt(
            (n * F.col(sxx) - F.col(sx) * F.col(sx))
            * (n * F.col(syy) - F.col(sy) * F.col(sy))
        )

    return m.select(
        F.col("n").cast("bigint").alias("n_rows"),
        corr("sqp", "sq", "sp", "sqq", "spp").alias("corr_qty_price"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("corr_qty_disc"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("corr_price_disc"),
    )


@query(
    "source_lang_entropy",
    """
    WITH c AS (
      SELECT source, lang, CAST(count(*) AS DOUBLE) AS c
      FROM documents GROUP BY source, lang),
    t AS (
      SELECT source, lang, c,
             sum(c) OVER (PARTITION BY source) AS tot
      FROM c)
    SELECT source,
      CAST(count(*) AS BIGINT) AS n_langs,
      CAST(SUM(CAST(-((c / tot) * ln(c / tot)) AS DECIMAL(18,12)))
        AS DOUBLE) AS entropy_nats
    FROM t GROUP BY source
    """,
)
def source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each source's language distribution —
    the corpus-mixture diversity measure a training-data recipe monitors
    (a source collapsing to one language is a data-quality drift signal).

    Scale shape: the per-(source, lang) count is the only data-sized
    aggregation; the entropy runs over the tiny |sources| × |langs|
    grid. Each -p·ln p term is one deterministic IEEE sequence on exact
    count ratios; terms pass through a scale-12 decimal so the final sum
    is order-independent."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    tot = F.sum("c").over(Window.partitionBy("source"))
    terms = counts.withColumn("tot", tot).select(
        "source",
        (
            -((F.col("c") / F.col("tot")) * F.log(F.col("c") / F.col("tot")))
        ).alias("term"),
    )
    return terms.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.sum(F.col("term").cast("decimal(18,12)")).cast("double").alias(
            "entropy_nats"
        ),
    )


@query(
    "scd2_delete_closeout",
    """
    WITH hist AS (
      SELECT c_custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
             DATE '2024-01-01' AS valid_from,
             CAST(NULL AS DATE) AS valid_to,
             TRUE AS is_current
      FROM customer WHERE c_custkey % 3 != 0
      UNION ALL
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT),
             DATE '2024-01-01', DATE '2024-02-01', FALSE
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) + 1000,
             DATE '2024-02-01', CAST(NULL AS DATE), TRUE
      FROM customer WHERE c_custkey % 3 = 0)
    SELECT c_custkey, bal_cents, valid_from,
      CASE WHEN is_current AND c_custkey % 10 = 0
           THEN DATE '2024-03-01' ELSE valid_to END AS valid_to,
      CASE WHEN is_current AND c_custkey % 10 = 0
           THEN FALSE ELSE is_current END AS is_current
    FROM hist
    """,
)
def scd2_delete_closeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 under HARD DELETES: after the same two-batch history as
    `scd2_customer_history`, every tenth customer is deleted from the
    source (erasure cascade) effective 2024-03-01 — their open versions
    close, their history stays. The oracle rebuilds the exact expected
    table, so a dropped history row or an unclosed version breaks the
    hash; replaying the delete is a no-op (asserted in unit tests).

    Scale shape: one key equi-join of the dim against the distinct
    delete-key set on top of the SCD2 build's join geometry."""
    import datetime

    d0, d1, d2 = (
        datetime.date(2024, 1, 1),
        datetime.date(2024, 2, 1),
        datetime.date(2024, 3, 1),
    )
    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    dim0 = c.select(
        "c_custkey",
        cents.alias("bal_cents"),
        F.lit(d0).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    batch = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", (cents + F.lit(1000)).alias("bal_cents")
    )
    hist = scd.upsert_scd2(dim0, batch, ["c_custkey"], ["bal_cents"], d1)
    deletes = c.filter(F.col("c_custkey") % 10 == 0).select("c_custkey")
    return scd.close_deleted(hist, deletes, ["c_custkey"], d2)


@query(
    "ivm_agg_retract",
    """
    SELECT o_orderpriority,
      CAST(count(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE NOT (o_orderkey % 5 != 0 AND o_orderkey % 3 = 0
               AND o_orderpriority = '1-URGENT')
    GROUP BY o_orderpriority
    """,
)
def ivm_agg_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance with RETRACTIONS: the stored
    per-priority rollup absorbs one CDC batch carrying both inserts and
    deletes as SIGNED partials (sign = +1 / −1; count += Σsign,
    sum += Σ sign·value) — the retract stream model (Flink-style) that
    plain append-only IVM can't express. The oracle aggregates the final
    state directly, so the hash proves base ∪+ Δ⁺ ∪− Δ⁻ lands exactly on
    agg(final); keys whose maintained count reaches zero drop out of the
    view.

    Scale shape: the batch collapses to per-key signed partials
    map-side; the stored rollup shuffles only its |keys| rows. Partial
    sums stay decimal through the merge."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base_rows = o.filter(F.col("o_orderkey") % 5 != 0)
    inserts = o.filter(F.col("o_orderkey") % 5 == 0)
    deletes = base_rows.filter(
        (F.col("o_orderkey") % 3 == 0)
        & (F.col("o_orderpriority") == "1-URGENT")
    )
    price_d = F.col("o_totalprice").cast("decimal(18,2)")
    base = base_rows.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum(price_d).alias("revenue")
    )
    delta = inserts.withColumn("sign", F.lit(1)).unionByName(
        deletes.withColumn("sign", F.lit(-1))
    )
    merged = cdc.merge_partial_aggs(
        base,
        delta,
        ["o_orderpriority"],
        {
            "n_orders": F.sum("sign"),
            "revenue": F.sum(F.col("sign") * price_d),
        },
    )
    return merged.filter(F.col("n_orders") > 0).select(
        "o_orderpriority",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("revenue").cast("double").alias("revenue"),
    )


@query(
    "multimodal_audio_decode",
    """
    WITH m AS (SELECT doc_id, length(text) AS n, text FROM documents)
    SELECT doc_id,
      CAST(n AS BIGINT) AS n_samples,
      CAST(8000 AS INT) AS sample_rate,
      CAST(list_max(list_transform(range(1, n + 1),
           i -> abs((unicode(text[i:i]) - 79) * 256))) AS INT) AS peak_abs,
      CAST((1000 * list_sum(list_transform(range(1, n + 1),
           i -> ((CAST(unicode(text[i:i]) AS BIGINT) - 79) * 256)
              * ((CAST(unicode(text[i:i]) AS BIGINT) - 79) * 256)))) // n
        AS BIGINT) AS mean_square_milli,
      CAST(coalesce(list_sum(list_transform(range(1, n),
           i -> CASE WHEN sign(unicode(text[i:i]) - 79)
                        * sign(unicode(text[i+1:i+1]) - 79) < 0
                     THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
    FROM m
    """,
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio round trip: each document rendered as a RIFF/WAVE mono
    PCM16 payload (one sample per sanitized byte), then DECODED by the
    pure-Python WAV parser in an Arrow batch — peak amplitude,
    mean-square energy, zero-crossing count, all integer-exact so the
    oracle recomputes them from the codepoints (ASCII corpus: byte ==
    codepoint == sample/256 + 79)."""
    docs = load_table(spark, sf_dir, "documents")
    return _mm.decode_wav_audio(_mm.attach_wav_audio(docs))


@query(
    "multimodal_audio_resample",
    """
    WITH m AS (SELECT doc_id, length(text) AS n,
                      (length(text) + 1) // 2 AS n2, text
               FROM documents)
    SELECT doc_id,
      CAST(n2 AS BIGINT) AS n_samples,
      CAST(4000 AS INT) AS sample_rate,
      CAST(list_max(list_transform(range(1, n2 + 1),
           j -> abs((unicode(text[2*j-1:2*j-1]) - 79) * 256))) AS INT)
        AS peak_abs,
      CAST((1000 * list_sum(list_transform(range(1, n2 + 1),
           j -> ((CAST(unicode(text[2*j-1:2*j-1]) AS BIGINT) - 79) * 256)
              * ((CAST(unicode(text[2*j-1:2*j-1]) AS BIGINT) - 79) * 256))))
        // n2 AS BIGINT) AS mean_square_milli,
      CAST(coalesce(list_sum(list_transform(range(1, n2),
           j -> CASE WHEN sign(unicode(text[2*j-1:2*j-1]) - 79)
                        * sign(unicode(text[2*j+1:2*j+1]) - 79) < 0
                     THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
    FROM m
    """,
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio DECIMATION (8 kHz → 4 kHz, every 2nd sample) inside the same
    Arrow decode pass, then the same integer-exact stats — the audio twin
    of `multimodal_image_resize`; the oracle re-derives the strided
    sample positions from the text."""
    docs = load_table(spark, sf_dir, "documents")
    return _mm.decode_wav_audio(_mm.attach_wav_audio(docs), stride=2)


@query(
    "late_order_priority_check",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
)
def late_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of orders having AT LEAST ONE
    late line (shipped > 90 days after ordering) — the correlated-EXISTS
    pattern, planned as a LEFT SEMI join so each order counts once no
    matter how many lines are late.

    Scale shape: one semi-join shuffle on orderkey (the semi side
    reduces before the per-priority rollup); no fan-out, no distinct."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "null_safe_join_counts",
    """
    WITH a AS (SELECT nullif(o_orderstatus, 'O') AS k, count(*) AS na
               FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
         b AS (SELECT nullif(o_orderstatus, 'O') AS k, count(*) AS nb
               FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1)
    SELECT a.k AS status_key, CAST(a.na * b.nb AS BIGINT) AS n_pairs
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of silently dropping — the semantics CDC
    key reconciliation needs when natural keys are nullable. Plain
    equality would lose the NULL bucket entirely.

    Scale shape: both sides pre-aggregate to |keys| rows BEFORE the
    null-safe join, so the pair count is computed as na·nb per key — the
    join never materializes the cross product."""
    o = load_table(spark, sf_dir, "orders")
    k = F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("k")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(k).groupBy("k").agg(
        F.count(F.lit(1)).alias("na")
    )
    b = o.filter(F.col("o_orderkey") % 3 == 0).select(k).groupBy("k").agg(
        F.count(F.lit(1)).alias("nb")
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("status_key"),
        (F.col("na") * F.col("nb")).cast("bigint").alias("n_pairs"),
    )


@query(
    "not_in_null_semantics",
    """
    WITH probe AS (SELECT nullif(c_custkey % 50, 0) AS bad
                   FROM customer WHERE c_custkey % 7 = 0)
    SELECT
      CAST((SELECT count(*) FROM orders
            WHERE o_custkey % 50 NOT IN (SELECT bad FROM probe)) AS BIGINT)
        AS n_not_in_with_null,
      CAST((SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM probe p
                              WHERE p.bad = o.o_custkey % 50)) AS BIGINT)
        AS n_not_exists,
      CAST((SELECT count(*) FROM orders
            WHERE o_custkey % 50 NOT IN
              (SELECT bad FROM probe WHERE bad IS NOT NULL)) AS BIGINT)
        AS n_not_in_filtered
    """,
)
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN / NULL trap, exercised as a first-class query: a NOT IN
    whose subquery contains a NULL matches NOTHING (ANSI three-valued
    logic — Spark plans it as a null-aware anti join), while NOT EXISTS
    and a null-filtered NOT IN return the real complement. Both engines
    agree on all three counts, pinning the semantics an engine port most
    often gets wrong.

    Scale shape: the probe side is tiny and broadcasts; each count is
    one anti-join pass over orders."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    o.createOrReplaceTempView("__nin_orders")
    c.createOrReplaceTempView("__nin_customer")
    return spark.sql(
        """
        WITH probe AS (SELECT nullif(c_custkey % 50, 0) AS bad
                       FROM __nin_customer WHERE c_custkey % 7 = 0)
        SELECT
          CAST((SELECT count(*) FROM __nin_orders
                WHERE o_custkey % 50 NOT IN (SELECT bad FROM probe)) AS BIGINT)
            AS n_not_in_with_null,
          CAST((SELECT count(*) FROM __nin_orders o
                WHERE NOT EXISTS (SELECT 1 FROM probe p
                                  WHERE p.bad = o.o_custkey % 50)) AS BIGINT)
            AS n_not_exists,
          CAST((SELECT count(*) FROM __nin_orders
                WHERE o_custkey % 50 NOT IN
                  (SELECT bad FROM probe WHERE bad IS NOT NULL)) AS BIGINT)
            AS n_not_in_filtered
        """
    )


@query(
    "stream_ivm_retract",
    """
    SELECT event_type,
      CAST(sum(CASE WHEN event_id % 11 = 0 THEN -1 ELSE 1 END) AS BIGINT)
        AS n_events,
      CAST(sum((CASE WHEN event_id % 11 = 0 THEN -1 ELSE 1 END)
               * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY event_type
    """,
)
def stream_ivm_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregate maintenance under a RETRACT stream: each
    micro-batch carries inserts AND deletes (sign −1 for every 11th
    event id — the CDC delete op), folded into the persisted rollup as
    signed partials via the same exactly-once epoch-ledger swap as
    `stream_incremental_gold`. The oracle is the signed aggregate over
    the full table, so the hash proves delete folding across arbitrary
    micro-batch cuts lands exactly on the final state.

    Scale shape: per-batch signed partials collapse map-side; the gold
    table shuffles only its |keys| rows per epoch."""
    base = scratch_dir("stream_retract_")
    keys = ["event_type"]
    sign = F.when(F.col("event_id") % 11 == 0, F.lit(-1)).otherwise(F.lit(1))
    cents = F.round(F.col("value") * 100).cast("bigint")
    sums = {
        "n_events": F.sum(sign).cast("bigint"),
        "sum_cents": F.sum(sign * cents).cast("bigint"),
    }

    gold = _stream.fold_stream(
        _stream.read_stream(spark, sf_dir, "events").select("event_id", "event_type", "value"),
        os.path.join(base, "gold_retract"),
        lambda batch, g: cdc.merge_partial_aggs(g, batch, keys, sums),
        os.path.join(base, "ckpt"),
    )
    return gold.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
    )


@query(
    "quantile_normalize_balance",
    """
    WITH d AS (
      SELECT c_custkey, c_nationkey, c_acctbal,
        row_number() OVER (PARTITION BY c_nationkey
                           ORDER BY c_acctbal, c_custkey) AS rn,
        count(*) OVER (PARTITION BY c_nationkey) AS n
      FROM customer),
    g AS (
      SELECT c_acctbal AS gv,
        row_number() OVER (ORDER BY c_acctbal, c_custkey) AS gidx
      FROM customer),
    tot AS (SELECT count(*) AS big_n FROM customer),
    probe AS (
      SELECT c_custkey, c_nationkey, c_acctbal,
        CAST(floor((CASE WHEN n > 1
                         THEN CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
                         ELSE 0.5 END) * (big_n - 1)) AS BIGINT) + 1 AS gidx
      FROM d CROSS JOIN tot)
    SELECT p.c_custkey, p.c_nationkey,
           CAST(p.c_acctbal AS DOUBLE) AS acctbal,
           CAST(g.gv AS DOUBLE) AS normalized_bal
    FROM probe p JOIN g ON p.gidx = g.gidx
    """,
)
def quantile_normalize_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE NORMALIZATION across groups: each customer's balance is
    replaced by the GLOBAL value at the same within-nation rank fraction
    — the batch-effect-removal transform (map every group onto one
    reference distribution). Rank fraction p = (rn−1)/(n−1); target =
    global order statistic at index floor(p·(N−1))+1.

    Scale shape: the within-group ranks are one window on the group key;
    the GLOBAL order statistics reuse the scalable surrogate-key path
    (range-partitioned prefix-sum row numbers — no single-partition
    sort), and the lookup is a plain equi-join on the index. All rank
    arithmetic is integer/IEEE-deterministic."""
    c = load_table(spark, sf_dir, "customer")
    wn = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    d = c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(wn).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("c_nationkey")).alias("n"),
    )
    g = scd.assign_surrogate_keys(
        c.select(F.col("c_acctbal").alias("gv"), "c_custkey"),
        "gidx",
        ["gv", "c_custkey"],
        scalable=True,
    ).select("gv", "gidx")
    tot = c.agg(F.count(F.lit(1)).alias("big_n"))
    p = (
        F.when(
            F.col("n") > 1,
            (F.col("rn") - 1).cast("double") / (F.col("n") - 1).cast("double"),
        ).otherwise(F.lit(0.5))
    )
    probe = d.crossJoin(F.broadcast(tot)).select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        (F.floor(p * (F.col("big_n") - 1)).cast("bigint") + 1).alias("gidx"),
    )
    return probe.join(g, "gidx").select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("gv").cast("double").alias("normalized_bal"),
    )


@query(
    "bag_set_ops_priorities",
    """
    WITH a AS (SELECT o_orderpriority FROM orders WHERE o_orderkey % 2 = 0),
         b AS (SELECT o_orderpriority FROM orders WHERE o_orderkey % 3 = 0),
    ea AS (SELECT o_orderpriority, count(*) AS n FROM
             (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1),
    ia AS (SELECT o_orderpriority, count(*) AS n FROM
             (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1)
    SELECT coalesce(ea.o_orderpriority, ia.o_orderpriority) AS o_orderpriority,
           CAST(coalesce(ea.n, 0) AS BIGINT) AS n_except_all,
           CAST(coalesce(ia.n, 0) AS BIGINT) AS n_intersect_all
    FROM ea FULL OUTER JOIN ia ON ea.o_orderpriority = ia.o_orderpriority
    """,
)
def bag_set_ops_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG (multiset) set operations — EXCEPT ALL / INTERSECT ALL —
    which keep multiplicities: per key the results carry max(na−nb, 0)
    and min(na, nb) copies, unlike the distinct-set EXCEPT/INTERSECT
    already covered. The multiplicity arithmetic is what makes bag ops
    the right reconciliation primitive for tables WITH duplicates.

    Scale shape: Catalyst plans both ops as count-compare aggregations
    on the key (no row-by-row matching); the final full-outer join runs
    over |keys| rows."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderpriority")
    b = o.filter(F.col("o_orderkey") % 3 == 0).select("o_orderpriority")
    ea = a.exceptAll(b).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_ea")
    )
    ia = a.intersectAll(b).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_ia")
    )
    joined = ea.join(ia, "o_orderpriority", "full_outer")
    return joined.select(
        "o_orderpriority",
        F.coalesce(F.col("n_ea"), F.lit(0)).cast("bigint").alias("n_except_all"),
        F.coalesce(F.col("n_ia"), F.lit(0)).cast("bigint").alias(
            "n_intersect_all"
        ),
    )


@query(
    "inventory_clamped_balance",
    """
    WITH RECURSIVE seq AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             CASE WHEN event_type = 'purchase'
                  THEN -CAST(round(value * 100) AS BIGINT)
                  ELSE CAST(round(value * 100) AS BIGINT) END AS delta
      FROM events WHERE event_type IN ('view', 'purchase')),
    cnt AS (SELECT user_id, max(rn) AS n FROM seq GROUP BY user_id),
    walk(user_id, rn, bal, clamps) AS (
      SELECT user_id, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM cnt
      UNION ALL
      SELECT w.user_id, w.rn + 1,
             greatest(w.bal + s.delta, 0),
             w.clamps + CASE WHEN w.bal + s.delta < 0 THEN 1 ELSE 0 END
      FROM walk w JOIN seq s ON s.user_id = w.user_id AND s.rn = w.rn + 1)
    SELECT c.user_id,
           CAST(w.bal AS BIGINT) AS final_bal_cents,
           CAST(c.n AS BIGINT) AS n_steps,
           CAST(w.clamps AS BIGINT) AS n_clamps
    FROM walk w JOIN cnt c ON w.user_id = c.user_id AND w.rn = c.n
    """,
)
def inventory_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-floored per-user running balance over the event stream (views
    credit, purchases debit, balance can never go negative): the clamp
    makes each step depend on the previous CLAMPED value, so no window
    aggregate expresses it — this is the registry's showcase for the
    keyed grouped-map ``applyInPandas`` seam, and the DuckDB oracle
    replays the identical recurrence as a recursive CTE, hash-verifying
    a genuinely stateful scan."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    deltas = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", -cents)
        .otherwise(cents)
        .alias("delta"),
    )
    return relational.clamped_running_balance(
        deltas, ["user_id"], ["ts", "event_id"], "delta"
    )


@query(
    "conversion_lag_stats",
    """
    WITH fc AS (
      SELECT user_id, min(ts) AS c0 FROM events
      WHERE event_type = 'click' GROUP BY user_id),
    fp AS (
      SELECT e.user_id,
             CAST(epoch_us(min(e.ts)) - epoch_us(min(fc.c0)) AS DOUBLE)
               AS lag_us
      FROM events e JOIN fc ON e.user_id = fc.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= fc.c0
      GROUP BY e.user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           quantile_cont(lag_us, 0.5) AS p50_lag_us,
           quantile_cont(lag_us, 0.9) AS p90_lag_us
    FROM fp
    """,
)
def conversion_lag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: per user, the lag from FIRST click to the first
    purchase at-or-after it, summarized as exact interpolated p50/p90 —
    the latency profile behind funnel SLAs. Users who never purchase
    after clicking drop out (conversion set only).

    Scale shape: two user-keyed aggregations sharing one partitioning
    plus a broadcast-sized percentile over |converted users| lags."""
    ev = load_table(spark, sf_dir, "events")
    fc = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("c0"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(F.col("ts") >= F.col("c0"))
        .groupBy("user_id")
        .agg(
            (
                F.unix_micros(F.min("ts")) - F.unix_micros(F.min("c0"))
            ).cast("double").alias("lag_us")
        )
    )
    return fp.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile(lag_us, 0.5D)").alias("p50_lag_us"),
        F.expr("percentile(lag_us, 0.9D)").alias("p90_lag_us"),
    )


@query(
    "attribution_last_touch",
    """
    WITH clicks AS (
      SELECT user_id, ts AS cts, CAST(extract(hour FROM ts) AS INT) AS h
      FROM events WHERE event_type = 'click'),
    purch AS (
      SELECT user_id, ts AS pts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    last_click AS (
      SELECT p.user_id, p.pts, p.cents, max(c.cts) AS cts
      FROM purch p JOIN clicks c
        ON c.user_id = p.user_id AND c.cts <= p.pts
      GROUP BY p.user_id, p.pts, p.cents)
    SELECT CAST(extract(hour FROM cts) AS INT) AS click_hour,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS attributed_cents
    FROM last_click GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH ATTRIBUTION: each purchase credits the latest click at
    or before it (same user), rolled up by the attributing click's hour
    of day — the marketing-attribution primitive, built on the engine's
    scalable as-of join (tagged-union + running last: ONE shuffle on the
    user key, no per-key theta fan-out; the oracle states the naive
    greatest-prior-click join directly)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts").alias("cts"),
            F.hour("ts").cast("int").alias("h"),
        )
        .groupBy("user_id", "cts")
        .agg(F.max("h").alias("h"))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("pts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    att = relational.asof_join(
        purch, clicks, ["user_id"], "pts", "cts", ["h"]
    )
    return (
        att.filter(F.col("h").isNotNull())
        .groupBy(F.col("h").alias("click_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("attributed_cents"),
        )
    )


@query(
    "cdc_apply_tombstones",
    """
    WITH feed AS (
      SELECT user_id,
        CASE WHEN event_type = 'error' THEN 'D'
             WHEN event_type = 'signup' THEN 'I' ELSE 'U' END AS op,
        CAST(round(value * 100) AS BIGINT) AS cents,
        row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, op AS last_op, cents AS bal_cents
    FROM feed WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC feed APPLICATION with DELETE TOMBSTONES: replay an ordered
    insert/update/delete change feed to its final table — latest change
    wins per key, and a key whose latest change is a tombstone is ABSENT
    from the result (not null-valued) — the Debezium-style materialize
    step that `latest_record_per_key` (no deletes) can't express.

    Scale shape: one window shuffle on the key; the tombstone filter is
    applied AFTER the latest-wins rank, so a delete followed by a
    re-insert correctly resurrects the key."""
    ev = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    feed = ev.select(
        "user_id",
        op.alias("op"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.row_number().over(w).alias("rn"),
    )
    return feed.filter((F.col("rn") == 1) & (F.col("op") != "D")).select(
        "user_id",
        F.col("op").alias("last_op"),
        F.col("cents").alias("bal_cents"),
    )


@query(
    "oov_rate_by_source",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS r
        FROM tok GROUP BY tok) WHERE r <= 500),
    flagged AS (
      SELECT source,
             CASE WHEN tok IN (SELECT tok FROM vocab) THEN 0 ELSE 1 END AS oov
      FROM tok)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           CAST(sum(oov) AS DOUBLE) / count(*) AS oov_rate
    FROM flagged GROUP BY source
    """,
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus's own top-500
    token vocabulary (ties broken lexically for determinism) — the
    tokenizer-fit signal a training recipe watches per source: a source
    whose OOV rate spikes is drifting away from the tokenizer.

    Scale shape: the vocabulary reduces to 500 rows regardless of corpus
    size and broadcasts into the flagging pass (left-semi membership);
    data-sized work is one token-count aggregation plus one per-source
    rollup."""
    from incremental_data_pipeline_spark.functions.util import fan_out

    docs = load_table(spark, sf_dir, "documents")
    tok = fan_out(docs).select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 500)
        .select("tok")
    )
    flagged = tok.join(
        F.broadcast(vocab.withColumn("__in", F.lit(1))), "tok", "left"
    ).select(
        "source",
        F.when(F.col("__in").isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias("oov"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").cast("bigint").alias("n_oov"),
        (F.sum("oov").cast("double") / F.count(F.lit(1))).alias("oov_rate"),
    )


@query(
    "semi_additive_week_end_balance",
    """
    WITH sgn AS (
      SELECT user_id, ts, event_id,
        CASE WHEN event_type = 'purchase'
             THEN -CAST(round(value * 100) AS BIGINT)
             ELSE CAST(round(value * 100) AS BIGINT) END AS delta
      FROM events WHERE event_type IN ('view', 'purchase')),
    bal AS (
      SELECT user_id, ts, event_id,
        sum(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS running,
        row_number() OVER (PARTITION BY user_id, date_trunc('week', ts)
                           ORDER BY ts DESC, event_id DESC) AS rn,
        CAST(date_trunc('week', ts) AS DATE) AS week
      FROM sgn)
    SELECT week,
           CAST(count(*) AS BIGINT) AS n_accounts,
           CAST(sum(running) AS BIGINT) AS total_week_end_cents
    FROM bal WHERE rn = 1 GROUP BY week
    """,
)
def semi_additive_week_end_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMI-ADDITIVE measure rollup (Kimball): balances sum across
    ACCOUNTS but not across TIME — each week takes every account's LAST
    balance in that week (running signed total at its latest event),
    then sums across accounts. A plain SUM over the period would
    double-count every intra-month movement.

    Scale shape: the running balance and the per-(account, month)
    latest-pick share the user partitioning — one shuffle — and the
    final per-week rollup is |weeks| rows. Integer cents throughout."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    sgn = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", -cents)
        .otherwise(cents)
        .alias("delta"),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    week = F.date_trunc("week", F.col("ts")).cast("date")
    wlast = Window.partitionBy("user_id", week).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    bal = sgn.select(
        week.alias("week"),
        F.sum("delta").over(wrun).alias("running"),
        F.row_number().over(wlast).alias("rn"),
    )
    return bal.filter(F.col("rn") == 1).groupBy("week").agg(
        F.count(F.lit(1)).alias("n_accounts"),
        F.sum("running").cast("bigint").alias("total_week_end_cents"),
    )


ORACLE_CROSS_SRC = f"""
    WITH pairs AS ({_minhash_oracle()}),
    lab AS (
      SELECT least(da.source, db.source) AS src_a,
             greatest(da.source, db.source) AS src_b
      FROM pairs p
      JOIN documents da ON p.doc_a = da.doc_id
      JOIN documents db ON p.doc_b = db.doc_id
      WHERE da.source <> db.source)
    SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
    FROM lab GROUP BY src_a, src_b
    """


@query("cross_source_contamination", ORACLE_CROSS_SRC)
def cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE contamination matrix: MinHash-LSH near-dup candidate
    pairs whose two documents come from DIFFERENT sources, rolled up per
    (source, source) cell — the governance view that tells you which
    feeds are plagiarizing / mirroring each other, as opposed to
    intra-source duplication (which `dedup_minhash_lsh` measures).

    Scale shape: inherits the banded-LSH bucket bound (candidates from
    band-signature equi-joins, never corpus²); the two source lookups
    broadcast the (doc_id, source) projection; the matrix is
    |sources|²-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _dedup.lsh_candidate_pairs(docs, "doc_id", "text", 12, 3, 3)
    src = docs.select("doc_id", "source")
    j = (
        pairs.join(
            F.broadcast(
                src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                    "source", "sa"
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                    "source", "sb"
                )
            ),
            "doc_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
    )
    return j.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@query(
    "label_centroid_geometry",
    """
    WITH ex AS (
      SELECT label, unnest(range(len(embedding))) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    cent AS (
      SELECT label, i,
        CAST(round((CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
                    / count(*)) * 1000000) AS BIGINT) AS q
      FROM ex GROUP BY label, i),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
        SUM(a.q * b.q) AS dot, SUM(a.q * a.q) AS na, SUM(b.q * b.q) AS nb
      FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
      GROUP BY a.label, b.label)
    SELECT label_a, label_b,
      CAST(dot AS DOUBLE)
        / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
        AS centroid_cosine
    FROM dots
    """,
)
def label_centroid_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-geometry report: the cosine between every pair of LABEL
    CENTROIDS in embedding space — near-parallel centroids flag label
    pairs a classifier (or a semantic-dedup threshold) will confuse.
    Centroids come from exact decimal sums, are then integer-quantized
    (round(c·1e6), the `functions/vector.py` discipline) so the pairwise
    dot products and norms are exact integer sums — every cosine is
    bit-identical to the oracle. A lossy double→DECIMAL(38,18) cast is
    NOT cross-engine-safe here: DuckDB converts via a double multiply
    that loses integer precision past 2^53, Spark via exact BigDecimal
    expansion — measured last-ulp divergence on 28/45 label pairs.

    Scale shape: the corpus reduces to |labels|×|dims| centroid rows in
    one aggregation (map-side combinable); the pairwise join runs on
    that tiny frame only."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("i", "val")
    ).select("label", "i", F.col("val").cast("double").alias("v"))
    cent = ex.groupBy("label", "i").agg(
        F.round(
            (
                F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            )
            * 1000000
        )
        .cast("bigint")
        .alias("q")
    )
    a, b = cent.alias("a"), cent.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(
            F.sum(F.col("a.q") * F.col("b.q")).alias("dot"),
            F.sum(F.col("a.q") * F.col("a.q")).alias("na"),
            F.sum(F.col("b.q") * F.col("b.q")).alias("nb"),
        )
    )
    return dots.select(
        "label_a",
        "label_b",
        (
            F.col("dot").cast("double")
            / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double")))
        ).alias("centroid_cosine"),
    )


@query(
    "dynamic_partition_pruning_join",
    """
    WITH dim AS (
      SELECT DISTINCT event_type FROM events
      WHERE event_type LIKE 'p%' OR event_type LIKE 'c%')
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events e JOIN dim ON e.event_type = dim.event_type
    GROUP BY e.event_type
    """,
)
def dynamic_partition_pruning_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING: the fact table is laid out partitioned
    by join key on disk; the dim side's predicate cannot be statically
    pushed across the join, so Catalyst injects a runtime subquery filter
    into the fact SCAN — at 100 TB this is the difference between
    scanning two partitions and scanning the table. The plan carries a
    `dynamicpruning` partition filter (pinned in
    tests/test_relational_ext.py); results equal the plain filtered join
    the oracle states.

    Scale shape: with DPP the fact scan reads only dim-selected
    partitions; one shuffle for the rollup."""
    ev = load_table(spark, sf_dir, "events")
    base = scratch_dir("dpp_")
    path = os.path.join(base, "events_by_type")
    if not os.path.exists(path):
        ev.write.partitionBy("event_type").mode("overwrite").parquet(path)
    fact = read_table(spark, path)
    dim = (
        fact.select("event_type")
        .distinct()
        .filter(
            F.col("event_type").like("p%") | F.col("event_type").like("c%")
        )
    )
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
    )


_DIRTY_CSV_PATH = "/tmp/idps_static_dirty_cars.csv"
_DIRTY_CSV_BYTES = (
    'Branch_ID,BranchName,City,Revenue\n'
    'BR001,"Smith, John Motors","Austin",10.50\n'
    'BR002,"O""Brien ""Premium"" Cars","New\nYork",20.00\n'
    'BR003,Plain Deals,Dallas,7.25\n'
    'BR004,"2008 NRHP-listed",San Jose,0.75\n'
)


@query(
    "csv_dirty_parse",
    f"""
    SELECT Branch_ID, BranchName, City,
           CAST(Revenue AS DOUBLE) AS revenue
    FROM read_csv('{_DIRTY_CSV_PATH}', header=true, quote='"', escape='"',
                  columns={{'Branch_ID': 'VARCHAR', 'BranchName': 'VARCHAR',
                           'City': 'VARCHAR', 'Revenue': 'VARCHAR'}})
    """,
)
def csv_dirty_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRTY-CSV parsing parity — the reference corpus's real traits
    (SURVEY §1.3: embedded commas inside quoted names, escaped inner
    quotes, junk categories, and a quoted field containing a NEWLINE,
    which breaks any line-splitting reader). The query materializes a
    fixed byte-exact file and parses it with Spark's multiLine CSV
    reader; the oracle parses the SAME file with DuckDB's reader — both
    engines must agree on every RFC-4180 edge.

    Scale note: ``multiLine`` CSVs are not line-splittable, so Spark
    reads each such file in one task — the documented trade-off for
    quoted-newline data; splittable ingestion should pre-normalize
    newlines upstream (the quarantine path handles rejects)."""
    if not os.path.exists(_DIRTY_CSV_PATH):
        tmp = _DIRTY_CSV_PATH + ".tmp"
        with open(tmp, "w", encoding="utf-8", newline="") as f:
            f.write(_DIRTY_CSV_BYTES)
        os.replace(tmp, _DIRTY_CSV_PATH)
    df = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(_DIRTY_CSV_PATH)
    )
    return df.select(
        "Branch_ID",
        "BranchName",
        "City",
        F.col("Revenue").cast("double").alias("revenue"),
    )


@query(
    "weighted_median_price",
    """
    WITH o AS (
      SELECT l_returnflag, l_extendedprice,
        sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag
          ORDER BY l_extendedprice, l_orderkey, l_linenumber
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag)
          AS tot
      FROM lineitem)
    SELECT l_returnflag,
      CAST(min(CASE WHEN 2 * cumw >= tot THEN l_extendedprice END)
        AS DOUBLE) AS weighted_median_price,
      CAST(max(tot) AS BIGINT) AS total_weight
    FROM o GROUP BY l_returnflag
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT WEIGHTED MEDIAN per group — the price at which half the
    QUANTITY (not half the rows) sits on each side: cumulative-weight
    crossing over a deterministic total order, entirely in integer
    weight arithmetic (`2·cumw >= tot`, no float midpoint), so the
    crossing row is engine-identical.

    Scale shape: one window shuffle on the group key; the crossing pick
    is a conditional MIN in the same aggregation — no second pass, no
    percentile array on the driver."""
    li = load_table(spark, sf_dir, "lineitem")
    w = F.col("l_quantity").cast("bigint")
    wrun = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    o = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum(w).over(wrun).alias("cumw"),
        F.sum(w).over(wall).alias("tot"),
    )
    return o.groupBy("l_returnflag").agg(
        F.min(
            F.when(2 * F.col("cumw") >= F.col("tot"), F.col("l_extendedprice"))
        )
        .cast("double")
        .alias("weighted_median_price"),
        F.max("tot").cast("bigint").alias("total_weight"),
    )


@query(
    "woe_encoding_buckets",
    """
    WITH flagged AS (
      SELECT c.c_custkey, c.c_acctbal,
        CASE WHEN EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)
             THEN 1 ELSE 0 END AS good
      FROM customer c),
    bucketed AS (
      SELECT ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS bucket, good
      FROM flagged),
    agg AS (
      SELECT bucket,
             CAST(sum(good) AS BIGINT) AS n_good,
             CAST(count(*) - sum(good) AS BIGINT) AS n_bad
      FROM bucketed GROUP BY bucket),
    tot AS (SELECT sum(n_good) AS tg, sum(n_bad) AS tb FROM agg)
    SELECT CAST(bucket AS INT) AS bucket, n_good, n_bad,
      CASE WHEN n_good > 0 AND n_bad > 0
           THEN ln((CAST(n_good AS DOUBLE) * tb)
                   / (CAST(n_bad AS DOUBLE) * tg))
      END AS woe
    FROM agg CROSS JOIN tot
    """,
)
def woe_encoding_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHT-OF-EVIDENCE encoding: balance deciles scored by
    ln(good-share / bad-share) against a has-orders label — the credit-
    scoring / feature-binning transform. Degenerate buckets (all good or
    all bad) yield NULL rather than ±inf. All counts integer; the single
    ln over one exact ratio is engine-identical.

    Scale shape: the label is one semi-join flag, deciles are one
    tiebroken ntile window, and everything after runs on 10 rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    has = o.select(F.col("o_custkey").alias("c_custkey")).distinct().withColumn(
        "__has", F.lit(1)
    )
    flagged = c.join(F.broadcast(has), "c_custkey", "left").select(
        "c_acctbal",
        "c_custkey",
        F.coalesce(F.col("__has"), F.lit(0)).alias("good"),
    )
    wb = Window.orderBy("c_acctbal", "c_custkey")
    bucketed = flagged.select(
        F.ntile(10).over(wb).alias("bucket"), "good"
    )
    agg = bucketed.groupBy("bucket").agg(
        F.sum("good").cast("bigint").alias("n_good"),
        (F.count(F.lit(1)) - F.sum("good")).cast("bigint").alias("n_bad"),
    )
    tot = agg.agg(
        F.sum("n_good").alias("tg"), F.sum("n_bad").alias("tb")
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("bucket").cast("int").alias("bucket"),
        "n_good",
        "n_bad",
        F.when(
            (F.col("n_good") > 0) & (F.col("n_bad") > 0),
            F.log(
                (F.col("n_good").cast("double") * F.col("tb"))
                / (F.col("n_bad").cast("double") * F.col("tg"))
            ),
        ).alias("woe"),
    )


@query(
    "percent_of_parent_rollup",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
        SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev_d
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name)
    SELECT region, nation, CAST(rev_d AS DOUBLE) AS rev,
      CAST(rev_d AS DOUBLE)
        / CAST(sum(rev_d) OVER (PARTITION BY region) AS DOUBLE)
        AS pct_of_region,
      CAST(sum(rev_d) OVER (PARTITION BY region) AS DOUBLE)
        / CAST(sum(rev_d) OVER () AS DOUBLE) AS region_pct_of_total
    FROM rev
    """,
)
def percent_of_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT-OF-PARENT at two hierarchy levels: each nation's share of
    its region AND each region's share of the world, in one pass — the
    drill-down ratio every BI hierarchy needs, distinct from flat
    percent-of-total (`revenue_share_window`). The share windows sum the
    DECIMAL revenue (a window sum of doubles is fold-order-dependent
    even over 25 rows — measured last-ulp drift), so each divide is one
    IEEE op over exact operands.

    Scale shape: one decimal-exact rollup reduces the fact table to
    |nations| rows; both share windows run on that tiny frame."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_d"))
    )
    wr = Window.partitionBy("region")
    wall = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        F.col("rev_d").cast("double").alias("rev"),
        (
            F.col("rev_d").cast("double")
            / F.sum("rev_d").over(wr).cast("double")
        ).alias("pct_of_region"),
        (
            F.sum("rev_d").over(wr).cast("double")
            / F.sum("rev_d").over(wall).cast("double")
        ).alias("region_pct_of_total"),
    )


@query(
    "skyline_parts_pareto",
    """
    WITH pts AS (
      SELECT DISTINCT p_retailprice AS price, p_size AS sz FROM part),
    sky AS (
      SELECT price, sz FROM pts a
      WHERE NOT EXISTS (
        SELECT 1 FROM pts b
        WHERE b.price <= a.price AND b.sz <= a.sz
          AND (b.price < a.price OR b.sz < a.sz)))
    SELECT CAST(s.price AS DOUBLE) AS price, CAST(s.sz AS INT) AS sz,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM sky s JOIN part p
      ON p.p_retailprice = s.price AND p.p_size = s.sz
    GROUP BY s.price, s.sz
    """,
)
def skyline_parts_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto frontier) over (price, size): the parts no other
    part beats on BOTH dimensions — the multi-criteria shortlist
    operator. The oracle states the textbook quadratic NOT EXISTS; the
    engine computes it LINEARLY after one sort: over distinct points
    ordered (price asc, size asc), a point is dominated iff some
    earlier point has size <= its size (earlier ⇒ cheaper, or same
    price and smaller) — one running-min window, no self-join.
    Duplicate (price, size) points are collapsed first so equal pairs
    (which do not dominate each other) share one frontier decision.

    Scale shape: distinct + one global-ordered window over |distinct
    points| (bounded by the price×size grid, not row count), then a
    broadcast join back to count members."""
    part = load_table(spark, sf_dir, "part")
    pts = part.select(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("sz")
    ).distinct()
    w = (
        Window.orderBy("price", "sz")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = (
        pts.withColumn("runmin", F.min("sz").over(w))
        .filter(F.col("runmin").isNull() | (F.col("runmin") > F.col("sz")))
        .select("price", "sz")
    )
    return (
        part.join(
            F.broadcast(sky),
            (F.col("p_retailprice") == F.col("price"))
            & (F.col("p_size") == F.col("sz")),
        )
        .groupBy("price", "sz")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .select(
            F.col("price").cast("double").alias("price"),
            F.col("sz").cast("int").alias("sz"),
            "n_parts",
        )
    )


@query(
    "stream_cdc_tombstone_dim",
    """
    WITH feed AS (
      SELECT user_id,
        CASE WHEN event_type = 'error' THEN 'D'
             WHEN event_type = 'signup' THEN 'I' ELSE 'U' END AS op,
        CAST(round(value * 100) AS BIGINT) AS cents,
        row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, op AS last_op, cents AS bal_cents
    FROM feed WHERE rn = 1 AND op <> 'D'
    """,
)
def stream_cdc_tombstone_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `cdc_apply_tombstones`: each micro-batch's
    latest change per key merges into a persisted store by EVENT TIME
    (ts, event_id) — not arrival order — so cross-batch disorder and
    replays resolve identically to the batch semantics. Tombstones are
    KEPT in the store (a later-arriving older update must not resurrect
    a deleted key) and filtered only at read time; the oracle is the
    batch materialization over the full feed.

    Scale shape: per batch, one key-window over the batch plus a
    latest-wins merge against the store's |keys| rows."""
    base = scratch_dir("stream_tomb_")
    op = (
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
    )
    wlat = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(wlat))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def step(batch: DataFrame, d: DataFrame | None) -> DataFrame:
        b = latest(
            batch.select(
                "user_id",
                "ts",
                "event_id",
                op.alias("op"),
                F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            )
        )
        return b if d is None else latest(d.unionByName(b))

    stream = _stream.read_stream(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    store = _stream.fold_stream(
        stream, os.path.join(base, "dim_store"), step, os.path.join(base, "ckpt")
    )
    return (
        store.filter(F.col("op") != "D")
        .select(
            "user_id",
            F.col("op").alias("last_op"),
            F.col("cents").alias("bal_cents"),
        )
    )


_FUZZY_PAIRS_SQL = """
      SELECT a.p_partkey AS part_a, b.p_partkey AS part_b
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


@query(
    "golden_record_parts",
    f"""
    WITH RECURSIVE pairs AS ({_FUZZY_PAIRS_SQL}),
    edges AS (
      SELECT part_a AS u, part_b AS v FROM pairs
      UNION SELECT part_b, part_a FROM pairs),
    reach(node, m) AS (
      SELECT p_partkey, p_partkey FROM part
      UNION
      SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.m),
    clusters AS (
      SELECT node AS p_partkey, min(m) AS cluster_id
      FROM reach GROUP BY node)
    SELECT c.cluster_id,
      CAST(count(*) AS BIGINT) AS n_members,
      min(p.p_name) AS canonical_name,
      CAST(min(p.p_retailprice) AS DOUBLE) AS min_price,
      CAST(max(p.p_retailprice) AS DOUBLE) AS max_price,
      CAST(max(p.p_size) AS INT) AS max_size
    FROM clusters c JOIN part p ON c.p_partkey = p.p_partkey
    GROUP BY c.cluster_id
    """,
)
def golden_record_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY RESOLUTION end-to-end (the MDM golden-record build): fuzzy
    name matches (brand-blocked, edit distance ≤ 3) → transitive closure
    into entity clusters (the CC fixpoint — matches are not transitive,
    closure makes them consistent) → one merged golden record per
    entity: canonical name (deterministic min), attribute survivorship
    (min/max rules), and member count. Singletons are their own golden
    record.

    Scale shape: candidate pairs come from the LOSSLESS q-gram prefix
    join (``dedup.qgram_edit_pairs`` — value-clique collapse + ED-Join
    prefixes), NOT a brand-blocked self-join: a brand block has ~25
    values forever, so within-block pairs grow quadratically with the
    table (the r8 sf10 mirror found the old self-join version stuck at
    ~8e10 levenshtein evaluations — the same corpus-quadratic failure
    the r7 sf10 mirror caught in fuzzy_part_name_pairs). The closure is
    the checkpointed pointer-jumping fixpoint (O(log n) rounds), and
    survivorship is one key-grouped aggregation. The oracle replays the
    quadratic definition + closure as a recursive CTE."""
    p = load_table(spark, sf_dir, "part")
    pairs = _dedup.qgram_edit_pairs(
        p.select("p_partkey", "p_brand", "p_name"),
        "p_partkey",
        "p_name",
        max_dist=3,
        q=3,
        group_cols=("p_brand",),
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    clusters = _dedup.duplicate_clusters(
        p.select(F.col("p_partkey")), pairs, "p_partkey"
    ).withColumnRenamed("p_partkey", "__k")
    return (
        clusters.join(p, F.col("__k") == F.col("p_partkey"))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("p_name").alias("canonical_name"),
            F.min("p_retailprice").cast("double").alias("min_price"),
            F.max("p_retailprice").cast("double").alias("max_price"),
            F.max("p_size").cast("int").alias("max_size"),
        )
    )


@query(
    "replica_majority_repair",
    """
    WITH r AS (
      SELECT o_orderkey,
        CAST(o_totalprice AS DECIMAL(18,2)) AS va,
        CAST(o_totalprice AS DECIMAL(18,2))
          + CASE WHEN (('0x' || substring(md5('B|' ||
                CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 100) < 5
            THEN CAST(0.01 AS DECIMAL(18,2))
            ELSE CAST(0 AS DECIMAL(18,2)) END AS vb,
        CAST(o_totalprice AS DECIMAL(18,2))
          + CASE WHEN (('0x' || substring(md5('C|' ||
                CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 100) < 5
            THEN CAST(0.02 AS DECIMAL(18,2))
            ELSE CAST(0 AS DECIMAL(18,2)) END AS vc
      FROM orders),
    v AS (
      SELECT o_orderkey,
        CASE WHEN va = vb OR va = vc THEN va
             WHEN vb = vc THEN vb END AS repaired,
        (va = vb AND vb = vc) AS all_agree
      FROM r)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(CASE WHEN all_agree THEN 1 ELSE 0 END) AS BIGINT)
        AS n_all_agree,
      CAST(sum(CASE WHEN NOT all_agree AND repaired IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_majority_repaired,
      CAST(sum(CASE WHEN repaired IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_unrepairable,
      CAST(sum(repaired) AS DOUBLE) AS repaired_total
    FROM v
    """,
)
def replica_majority_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-REPLICA MAJORITY REPAIR (anti-entropy read-repair): three
    copies of a table diverge by deterministic hash-seeded corruptions;
    per key the 2-of-3 value wins, keys where all three disagree are
    UNREPAIRABLE and surfaced, never silently picked. Complements the
    checksum reconciliation (`reconcile_orders_copies`), which finds
    divergent buckets — this repairs them.

    Scale shape: replicas align on the key (here derived in one scan;
    across real tables it is a 3-way key equi-join); the vote is pure
    per-row expression work and the audit is one global aggregate."""
    o = load_table(spark, sf_dir, "orders")

    def corrupt(salt: str, delta: str):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "|"), F.col("o_orderkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return F.col("va") + F.when(
            h % 100 < 5, F.lit(delta).cast("decimal(18,2)")
        ).otherwise(F.lit("0").cast("decimal(18,2)"))

    r = o.select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("va")
    )
    r = r.withColumn("vb", corrupt("B", "0.01")).withColumn(
        "vc", corrupt("C", "0.02")
    )
    repaired = (
        F.when((F.col("va") == F.col("vb")) | (F.col("va") == F.col("vc")), F.col("va"))
        .when(F.col("vb") == F.col("vc"), F.col("vb"))
    )
    v = r.select(
        repaired.alias("repaired"),
        ((F.col("va") == F.col("vb")) & (F.col("vb") == F.col("vc"))).alias(
            "all_agree"
        ),
    )
    return v.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("all_agree").cast("int")).cast("bigint").alias("n_all_agree"),
        F.sum(
            ((~F.col("all_agree")) & F.col("repaired").isNotNull()).cast("int")
        )
        .cast("bigint")
        .alias("n_majority_repaired"),
        F.sum(F.col("repaired").isNull().cast("int"))
        .cast("bigint")
        .alias("n_unrepairable"),
        F.sum("repaired").cast("double").alias("repaired_total"),
    )


@query(
    "dow_seasonality_profile",
    """
    WITH d AS (
      SELECT event_type,
             CAST(isodow(CAST(ts AS DATE)) - 1 AS INT) AS dow
      FROM events)
    SELECT event_type, dow,
      CAST(count(*) AS BIGINT) AS n_events,
      CAST(count(*) AS DOUBLE)
        / sum(count(*)) OVER (PARTITION BY event_type) AS dow_share
    FROM d GROUP BY event_type, dow
    """,
)
def dow_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality: each event type's weekly activity shape
    (Monday=0 ISO weekday, count and share-of-type) — the profile that
    separates weekday-driven types from weekend ones and feeds
    anomaly baselines. Counts are integers; each share is one divide
    over integer window sums (window-summing COUNTs is exact, unlike
    doubles).

    Scale shape: one |types|×7-cell aggregation; the share window runs
    on that grid."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type", F.weekday("ts").cast("int").alias("dow")
    )
    agg = d.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("event_type")
    return agg.select(
        "event_type",
        "dow",
        "n_events",
        (
            F.col("n_events").cast("double") / F.sum("n_events").over(w)
        ).alias("dow_share"),
    )


@query(
    "stream_click_purchase_full_outer",
    """
    WITH clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    purch AS (SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT least(
        (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
         WHERE event_type = 'click'),
        (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
         WHERE event_type = 'purchase')) AS w_us),
    lhs AS (
      SELECT c.user_id, c.ts, p.p_ts
      FROM clicks c LEFT JOIN purch p
        ON p.user_id = c.user_id
       AND p.p_ts >= c.ts AND p.p_ts <= c.ts + INTERVAL 1 HOUR),
    rhs AS (
      SELECT p.user_id, p.p_ts FROM purch p
      WHERE NOT EXISTS (SELECT 1 FROM clicks c
                        WHERE c.user_id = p.user_id
                          AND p.p_ts >= c.ts
                          AND p.p_ts <= c.ts + INTERVAL 1 HOUR))
    SELECT user_id,
      CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      CAST(sum(CASE WHEN kind = 'L' AND NOT matched THEN 1 ELSE 0 END)
        AS BIGINT) AS n_expired_clicks,
      CAST(sum(CASE WHEN kind = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_orphan_purchases
    FROM (
      SELECT user_id, (p_ts IS NOT NULL) AS matched, 'L' AS kind
      FROM lhs CROSS JOIN wm
      WHERE p_ts IS NOT NULL OR epoch_us(ts + INTERVAL 1 HOUR) < w_us
      UNION ALL
      SELECT user_id, FALSE, 'R'
      FROM rhs CROSS JOIN wm WHERE epoch_us(p_ts) < w_us)
    GROUP BY user_id
    """,
)
def stream_click_purchase_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join: matched (click,
    purchase-within-1h) pairs, PLUS clicks whose hour expired unmatched,
    PLUS purchases no click preceded — both absence signals from one
    join (left-only was `stream_click_purchase_timeout`). Outer rows
    emit when the min-across-sides ms-floored watermark passes each
    side's eviction point: click_ts + 1h for the left buffer, p_ts
    itself for the right (no on-time click can still arrive once the
    watermark passes the purchase). The oracle models both cutoffs
    exactly.

    Scale shape: state bounded by the same interval eviction on both
    buffers; the rollup shares the user partitioning."""
    ev = _stream.read_stream(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    joined = _stream.stream_interval_join(
        clicks,
        purchases,
        "user_id",
        "ts",
        "p_ts",
        within="1 hour",
        delay="0 seconds",
        how="full_outer",
    )
    pairs = _stream.run_to_memory(
        joined,
        "append",
        state_partitions=_stream.adaptive_state_partitions(sf_dir, "events"),
    )
    return pairs.groupBy("user_id").agg(
        F.sum(
            (F.col("ts").isNotNull() & F.col("p_ts").isNotNull()).cast("long")
        )
        .cast("bigint")
        .alias("n_matched"),
        F.sum(
            (F.col("ts").isNotNull() & F.col("p_ts").isNull()).cast("long")
        )
        .cast("bigint")
        .alias("n_expired_clicks"),
        F.sum(F.col("ts").isNull().cast("long"))
        .cast("bigint")
        .alias("n_orphan_purchases"),
    )


@query(
    "grouping_id_rollup",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
      CAST(grouping(r.r_name) AS INT) AS is_grand_total,
      CAST(grouping(n.n_name) AS INT) AS is_region_subtotal,
      CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def grouping_id_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() flags: subtotal rows carry NULL grouping
    columns, indistinguishable from genuine NULL data without the
    grouping indicator — the flags are what lets a BI layer render
    "ALL" rows correctly. `agg_rollup` covers the hierarchy totals;
    this pins the DISAMBIGUATION metadata cross-engine.

    Scale shape: one rollup aggregation (Catalyst expands grouping sets
    in a single pass with partial aggregation); dims broadcast."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").cast("int").alias("is_grand_total"),
            F.grouping("n_name").cast("int").alias("is_region_subtotal"),
            dec_sum("o_totalprice", "revenue"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            "is_grand_total",
            "is_region_subtotal",
            "revenue",
        )
    )


@query(
    "dup_rate_by_source",
    """
    WITH g AS (
      SELECT source, md5(text) AS h, count(*) AS n
      FROM documents GROUP BY source, md5(text))
    SELECT source,
      CAST(sum(n) AS BIGINT) AS n_docs,
      CAST(sum(n) - count(*) AS BIGINT) AS n_redundant,
      CAST(sum(n) - count(*) AS DOUBLE) / sum(n) AS dup_rate
    FROM g GROUP BY source
    """,
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source EXACT duplicate rate: redundant copies (docs beyond the
    first of each identical-content group) over total, per feed — the
    governance number that says which source to dedupe first, the
    intra-source complement of `cross_source_contamination`.

    Scale shape: one (source, content-hash) aggregation with map-side
    combine, then a per-source rollup — the same single-shuffle
    discipline as `dedup_exact`."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source", F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return g.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        (F.sum("n") - F.count(F.lit(1))).cast("bigint").alias("n_redundant"),
        (
            (F.sum("n") - F.count(F.lit(1))).cast("double") / F.sum("n")
        ).alias("dup_rate"),
    )


@query(
    "near_dup_threshold_profile",
    """
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(sh_list)) AS shingle FROM (
        SELECT doc_id,
          CASE WHEN len(string_split(text, ' ')) >= 3
            THEN list_transform(range(len(string_split(text, ' ')) - 2),
                 i -> string_split(text, ' ')[i+1] || ' ' ||
                      string_split(text, ' ')[i+2] || ' ' ||
                      string_split(text, ' ')[i+3])
            ELSE [text] END AS sh_list
        FROM documents)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    j AS (
      SELECT CAST(i AS DOUBLE) / (za.sz + zb.sz - i) AS jac
      FROM inter
      JOIN sizes za ON inter.doc_a = za.doc_id
      JOIN sizes zb ON inter.doc_b = zb.doc_id)
    SELECT
      CAST(sum(CASE WHEN jac >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS ge_030,
      CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS ge_050,
      CAST(sum(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS ge_070,
      CAST(sum(CASE WHEN jac >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS ge_090
    FROM j
    """,
)
def near_dup_threshold_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THRESHOLD TUNING for near-dup dedup: how many pairs would each
    Jaccard cutoff catch (≥0.3/0.5/0.7/0.9), computed from ONE pairwise
    pass over shared-shingle candidates — the measurement that picks the
    dedup threshold instead of guessing it. Pairs sharing no shingle
    have Jaccard 0 and are never materialized.

    Scale shape: the candidate generator is the shared-shingle posting
    join (bounded by posting-list sizes, not corpus²; at 100 TB the
    `max_df`-capped or prefix-filtered generators stand in); the profile
    itself is one conditional aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    s = _dedup.doc_shingles(docs, "doc_id", "text", 3).localCheckpoint(
        eager=True
    )
    sizes = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sa = s.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = s.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        sa.join(sb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    j = (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            (
                F.col("i").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("i"))
            ).alias("jac")
        )
    )
    return j.agg(
        *[
            F.sum((F.col("jac") >= t).cast("long")).cast("bigint").alias(nm)
            for t, nm in [
                (0.3, "ge_030"),
                (0.5, "ge_050"),
                (0.7, "ge_070"),
                (0.9, "ge_090"),
            ]
        ]
    )


@query(
    "pivot_multi_agg_status",
    """
    SELECT o_orderpriority,
      CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
        AS F_n,
      CAST(sum(CASE WHEN o_orderstatus = 'F'
        THEN CAST(o_totalprice AS DECIMAL(18,2))
        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS F_rev,
      CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
        AS O_n,
      CAST(sum(CASE WHEN o_orderstatus = 'O'
        THEN CAST(o_totalprice AS DECIMAL(18,2))
        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS O_rev,
      CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT)
        AS P_n,
      CAST(sum(CASE WHEN o_orderstatus = 'P'
        THEN CAST(o_totalprice AS DECIMAL(18,2))
        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS P_rev
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_multi_agg_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with MULTIPLE aggregates per pivoted value: per priority,
    each order status contributes BOTH a count and a decimal-exact
    revenue column (`{status}_{measure}` naming) — the wide-report shape
    one conditional-aggregation pass produces; `pivot_orders_by_priority`
    covers the single-measure case.

    Scale shape: Catalyst compiles the pivot to exactly that single
    conditional aggregation — one shuffle, map-side partials, column
    count fixed by the pivot domain."""
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev"),
        )
    )
    # pivot emits count columns as nullable counts; absent cells are 0/0.0
    out = piv
    for s in ["F", "O", "P"]:
        out = out.withColumn(
            f"{s}_n", F.coalesce(F.col(f"{s}_n"), F.lit(0)).cast("bigint")
        ).withColumn(
            f"{s}_rev", F.coalesce(F.col(f"{s}_rev"), F.lit(0.0))
        )
    return out


@query(
    "cumulative_unique_users",
    """
    WITH first_day AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events
      GROUP BY user_id),
    daily AS (
      SELECT day, count(*) AS new_users FROM first_day GROUP BY day)
    SELECT day,
      CAST(new_users AS BIGINT) AS new_users,
      CAST(sum(new_users) OVER (ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS cumulative_users
    FROM daily
    """,
)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROWTH CURVE: cumulative distinct users over time WITHOUT a
    cumulative-distinct scan — each user collapses to a first-seen day,
    so the running total of daily new users IS the distinct-to-date
    count. The standard trick that turns an O(days × users) rolling
    distinct into one aggregation plus a |days|-row window.

    Scale shape: one user-keyed min, one tiny daily rollup, one window
    over |days| rows."""
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    daily = first_day.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


@query(
    "seasonal_anomaly_days",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(isodow(CAST(ts AS DATE)) - 1 AS INT) AS dow,
             count(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    base AS (
      SELECT event_type, dow,
        count(*) AS k, sum(n) AS s, sum(n * n) AS ss
      FROM daily GROUP BY event_type, dow)
    SELECT d.event_type, d.day, CAST(d.n AS BIGINT) AS n_events,
      CAST(b.s AS DOUBLE) / b.k AS dow_mean,
      CASE WHEN b.k > 1
             AND (CAST(b.ss AS DOUBLE) - CAST(b.s AS DOUBLE)
                  * CAST(b.s AS DOUBLE) / b.k) > 0
           THEN (CAST(d.n AS DOUBLE) - CAST(b.s AS DOUBLE) / b.k)
                / sqrt((CAST(b.ss AS DOUBLE)
                        - CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE) / b.k)
                       / (b.k - 1))
      END AS z_score
    FROM daily d JOIN base b
      ON d.event_type = b.event_type AND d.dow = b.dow
    """,
)
def seasonal_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL ANOMALY detection: each (type, day) volume scored against
    its own day-of-week baseline (same-weekday mean/stdev) — a Monday
    spike is judged against Mondays, not the whole week. All moments are
    integer sums, so the z-score is one fixed IEEE expression; baselines
    without variance (or a single sample) yield NULL, not ±inf.

    Scale shape: the fact reduces to a |types|×|days| daily grid in one
    pass; baseline join and scoring run on that grid."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.weekday("ts").cast("int").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n"))
    base = daily.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    j = daily.join(F.broadcast(base), ["event_type", "dow"])
    var_num = F.col("ss").cast("double") - F.col("s").cast("double") * F.col(
        "s"
    ).cast("double") / F.col("k")
    mean = F.col("s").cast("double") / F.col("k")
    return j.select(
        "event_type",
        "day",
        F.col("n").cast("bigint").alias("n_events"),
        mean.alias("dow_mean"),
        F.when(
            (F.col("k") > 1) & (var_num > 0),
            (F.col("n").cast("double") - mean)
            / F.sqrt(var_num / (F.col("k") - 1)),
        ).alias("z_score"),
    )


@query(
    "scd4_current_and_history",
    """
    WITH hist AS (
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
             0 AS version
      FROM customer
      UNION ALL
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) + 1000, 1
      FROM customer WHERE c_custkey % 3 = 0)
    SELECT c_custkey,
      max_by(bal_cents, version) AS current_bal_cents,
      CAST(count(*) AS BIGINT) AS n_versions
    FROM hist GROUP BY c_custkey
    """,
)
def scd4_current_and_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE 4 (current table + separate history table): the same
    two-batch customer scenario as the SCD2 queries, but modeled as an
    append-only history with a derived CURRENT snapshot — latest version
    per key plus how deep its history runs. Types 1/2/4 now all share
    one oracle-checked scenario, so the modeling trade-offs are
    directly comparable.

    Scale shape: history appends are blind writes; the current snapshot
    is one max_by aggregation on the key — no join, no window."""
    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    v0 = c.select(
        "c_custkey", cents.alias("bal_cents"), F.lit(0).alias("version")
    )
    v1 = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        (cents + F.lit(1000)).alias("bal_cents"),
        F.lit(1).alias("version"),
    )
    hist = v0.unionByName(v1)
    return hist.groupBy("c_custkey").agg(
        F.max_by("bal_cents", "version").alias("current_bal_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_versions"),
    )


@query(
    "churned_users_by_week",
    """
    WITH wk AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events),
    weeks AS (SELECT DISTINCT week FROM wk)
    SELECT w.week,
      CAST(count(p.user_id) AS BIGINT) AS n_prev_active,
      CAST(sum(CASE WHEN c.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_churned,
      CAST(sum(CASE WHEN c.user_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / count(p.user_id) AS churn_rate
    FROM weeks w
    JOIN wk p ON p.week = w.week - INTERVAL 7 DAY
    LEFT JOIN wk c ON c.user_id = p.user_id AND c.week = w.week
    GROUP BY w.week
    """,
)
def churned_users_by_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEKLY CHURN: users active the previous week who did not return
    this week, per week — the retention complement (`retention_cohorts`
    tracks who stays; this tracks who leaves, the number alerting fires
    on). Expressed as prior-week actives anti-joined against
    current-week actives.

    Scale shape: the fact collapses to distinct (user, week) once; the
    week-over-week comparison is a self-join on (user, adjacent week) —
    one shuffle each side, counts integer, rate one divide."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    weeks = wk.select("week").distinct()
    p = wk.select(F.col("user_id").alias("pu"), F.col("week").alias("pw"))
    c = wk.select(F.col("user_id").alias("cu"), F.col("week").alias("cw"))
    j = (
        weeks.join(p, F.col("pw") == F.date_sub(F.col("week"), 7))
        .join(
            c,
            (F.col("cu") == F.col("pu")) & (F.col("cw") == F.col("week")),
            "left",
        )
    )
    return j.groupBy("week").agg(
        F.count("pu").cast("bigint").alias("n_prev_active"),
        F.sum(F.col("cu").isNull().cast("long")).cast("bigint").alias(
            "n_churned"
        ),
        (
            F.sum(F.col("cu").isNull().cast("long")).cast("double")
            / F.count("pu")
        ).alias("churn_rate"),
    )


@query(
    "market_concentration_hhi",
    """
    WITH r AS (
      SELECT p.p_type, l.l_suppkey,
        CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount))
                 AS BIGINT)) AS DECIMAL(19,0)) AS dollars
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_type, l.l_suppkey)
    SELECT p_type,
      CAST(count(*) AS BIGINT) AS n_suppliers,
      CAST(sum(dollars * dollars) AS DOUBLE)
        / (CAST(sum(dollars) AS DOUBLE) * CAST(sum(dollars) AS DOUBLE))
        AS hhi
    FROM r GROUP BY p_type
    """,
)
def market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET CONCENTRATION (Herfindahl-Hirschman index) per part type:
    Σ share_i² over suppliers, computed as Σcents² / (Σcents)² so every
    sum is exact (integer cents through DECIMAL(19,0); squares stay inside
    each engine's exact decimal range and the index is one IEEE divide — a
    float Σshare² would be fold-order-dependent. HHI → 1 means one
    supplier owns the category; → 1/n means perfect competition.

    Scale shape: the fact reduces to |types|×|suppliers| revenue cells
    in one pass; the index runs on that grid."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    dollars = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("bigint")
    r = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "l_suppkey")
        # width 18 (not 19): Spark caps decimal products at precision 38,
        # so an 18x18 product (37 digits) stays exact while 19x19 would
        # round its lowest digit; DuckDB's 19-width path is hugeint-exact
        .agg(F.sum(dollars).cast("decimal(18,0)").alias("dollars"))
    )
    return r.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        (
            F.sum(F.col("dollars") * F.col("dollars")).cast("double")
            / (
                F.sum("dollars").cast("double")
                * F.sum("dollars").cast("double")
            )
        ).alias("hhi"),
    )


# --------------------------------------------------------------------------
# Round-4 session 2: remaining TPC-H analogues (Q6/Q10/Q19/Q20 shapes) and
# two LLM-curation additions (containment near-dup, unigram familiarity).
# --------------------------------------------------------------------------


@query(
    "discount_band_revenue",
    """
    SELECT
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def discount_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 analogue: the what-if revenue from eliminating a band of
    discounts on small-quantity lines in one year — a pure
    filter-and-aggregate with NO join and NO group key.

    Scale shape: the three predicates (shipdate range, discount band,
    quantity cap) all push to the parquet scan as min/max row-group
    filters; the aggregate is a single decimal partial-sum per partition
    folded on the driver side — the cheapest possible full-scan query, and
    the canonical scan-throughput probe at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col(
        "l_discount"
    ).cast("decimal(4,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "returned_item_report",
    """
    SELECT
      c.c_custkey,
      c.c_name,
      n.n_name,
      CAST(c.c_acctbal AS DOUBLE) AS c_acctbal,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 3, c.c_acctbal
    ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) DESC,
             c.c_custkey ASC
    LIMIT 20
    """,
)
def returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analogue: the 20 customers who returned the most revenue
    in one quarter — the "who should account management call" report.

    Scale shape: the quarter predicate prunes orders at the scan; the
    order->lineitem join carries only the surviving quarter (orderkey
    shuffle); customer and nation broadcast onto the aggregated result.
    Revenue sums are exact decimals, so the top-20 cut (revenue DESC,
    custkey tiebreak) is deterministic cross-engine; the global sort runs
    on the grouped relation (|customers| rows), never the fact."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    q = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    per_cust = (
        li.filter(F.col("l_returnflag") == "R")
        .join(q, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(rev).alias("rev_d"))
    )
    return (
        per_cust.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .orderBy(F.col("rev_d").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            F.col("rev_d").cast("double").alias("revenue"),
        )
    )


@query(
    "bracketed_or_revenue",
    """
    SELECT
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def bracketed_or_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analogue: revenue from three OR'd (brand, size-range,
    quantity-range) brackets — the disjunctive-predicate join that trips
    naive planners into a cross product.

    Scale shape: the disjunction splits into a part-side residual
    (brand/size — applied to the broadcast-size dim before the join) and a
    joint residual on the joined row; Spark derives `l_quantity <= 30`-ish
    bounds via constraint propagation but the load-bearing structure is
    brand IN (...) pruning the dim THEN a broadcast-hash equi-join on
    partkey with the OR as a post-join filter — never a nested loop."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    p_pruned = p.filter(F.col("p_brand").isin("Brand#11", "Brand#21", "Brand#22"))
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    bracket = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#21")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p_pruned), F.col("p_partkey") == F.col("l_partkey"))
        .filter(bracket)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "excess_supply_suppliers",
    """
    WITH w AS (SELECT p_partkey FROM part WHERE p_name LIKE '% widget'),
    sp AS (
      SELECT l_suppkey, l_partkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem JOIN w ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1, 2),
    tot AS (SELECT l_partkey AS pk, SUM(qty) AS total,
                   COUNT(*) AS n_supp
            FROM sp GROUP BY 1)
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM sp
    JOIN tot ON sp.l_partkey = tot.pk
    JOIN supplier s ON s.s_suppkey = sp.l_suppkey
    WHERE 2 * sp.qty * tot.n_supp > 3 * tot.total
    ORDER BY s.s_suppkey
    """,
)
def excess_supply_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analogue (no partsupp table in the fixture schema, so
    "availability" is re-derived from shipped volume): suppliers who moved
    more than 1.5x the per-supplier average quantity of any 'widget' part
    in 1996 — candidates for promotion stock.

    The threshold compare is kept in INTEGER form
    (2*qty*n_supp > 3*total, i.e. qty > 1.5*avg) so no float average ever
    exists to diverge between engines.

    Scale shape: the part-name predicate prunes the (broadcast) dim before
    the fact join; the per-(supplier, part) agg is map-side combinable;
    the per-part totals re-agg the ALREADY-GROUPED relation (|s×p| rows,
    not the fact), and the supplier dim broadcasts onto the final distinct."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    w = p.filter(F.col("p_name").like("% widget")).select("p_partkey")
    sp = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(w), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"))
    )
    tot = sp.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("qty").alias("total"), F.count(F.lit(1)).alias("n_supp")
    )
    return (
        # tot is |widget parts| rows (dim-sized after the two aggs) —
        # broadcast it so the sp-tot join never re-shuffles sp on partkey
        sp.join(F.broadcast(tot), F.col("l_partkey") == F.col("pk"))
        .filter(2 * F.col("qty") * F.col("n_supp") > 3 * F.col("total"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )


@query(
    "dedup_containment",
    f"""
    WITH {_SHINGLES_CTE},
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 10000),
    shc AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT
      CASE WHEN sa.sz <= sb.sz THEN doc_a ELSE doc_b END AS inner_doc,
      CASE WHEN sa.sz <= sb.sz THEN doc_b ELSE doc_a END AS outer_doc,
      i / (CASE WHEN sa.sz <= sb.sz THEN sa.sz ELSE sb.sz END) AS containment
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE i / (CASE WHEN sa.sz <= sb.sz THEN sa.sz ELSE sb.sz END) >= 0.7
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric (containment) near-dup over 3-gram shingles: the smaller
    document's set is >= 70% inside the larger's — catches sub-document
    duplication (quotes, boilerplate inclusion, page-in-page) that
    symmetric Jaccard under-scores by design. See
    `dedup.containment_pairs` for the posting-list-capped scale shape."""
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.7, max_df=10000
    )


@query(
    "doc_familiarity",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    cf AS (SELECT term, count(*) AS cf FROM toks GROUP BY term)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(cf) AS BIGINT) AS sum_cf,
           CAST(sum(cf) AS DOUBLE) / count(*) AS familiarity
    FROM toks JOIN cf USING (term)
    GROUP BY doc_id
    """,
)
def doc_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality proxy per document (CCNet-style filtering
    signal): mean corpus frequency of the document's tokens. See
    `text.token_familiarity` for why the score is an integer-sum/one-divide
    rather than a log-prob sum (cross-engine bit-exactness)."""
    docs = load_table(spark, sf_dir, "documents")
    return _text.token_familiarity(docs, "doc_id", "text")


@query(
    "bpe_pair_counts",
    """
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    wf AS (SELECT w, count(*) AS f FROM words WHERE length(w) >= 2 GROUP BY w),
    pairs AS (
      SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, f
      FROM wf, unnest(generate_series(1, length(w) - 1)) AS t(i))
    SELECT pair, CAST(SUM(f) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT 20
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting step of byte-pair-encoding tokenizer training: corpus
    frequency of every adjacent character pair, weighted by word
    frequency — the top pair is the first BPE merge rule. The same
    count-grid drives every subsequent merge iteration, so this is the
    inner loop of tokenizer fitting expressed relationally.

    Scale shape: the corpus collapses to the VOCABULARY first (one word
    agg — Heaps-law small), and pair extraction runs on the vocab, not
    the corpus: per-word pair explode is a narrow map over |vocab| rows.
    Top-20 is a TakeOrdered, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(_text.tokens("text")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    pair_at = lambda i: F.col("w").substr(i, F.lit(2))  # noqa: E731
    pairs = wf.select(
        "f",
        F.explode(
            F.transform(F.sequence(F.lit(1), F.length("w") - 1), pair_at)
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(20)
    )


@query(
    "changepoint_cusum_daily",
    """
    WITH RECURSIVE daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount))
                      AS BIGINT)) AS BIGINT) AS x
      FROM lineitem GROUP BY 1),
    kk AS (SELECT CAST((SUM(x) + COUNT(*) - 1) // COUNT(*) AS BIGINT) AS k
           FROM daily),
    ord AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM daily),
    walk(rn, day, x, s) AS (
      SELECT 0, NULL::DATE, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      UNION ALL
      SELECT o.rn, o.day, o.x,
             greatest(w.s + o.x - (SELECT k FROM kk), 0)
      FROM walk w JOIN ord o ON o.rn = w.rn + 1)
    SELECT day, CAST(x AS BIGINT) AS x, CAST(s AS BIGINT) AS cusum,
           s > (SELECT k FROM kk) AS alarm
    FROM walk WHERE rn >= 1
    """,
)
def changepoint_cusum_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on daily shipped revenue: alarm when
    the cumulative surplus over the reference level k (ceil of the mean
    daily revenue, derived from the same series — one tiny control-plane
    scalar, same shape as the watermark seed) exceeds h = k. Flags
    sustained demand shifts that a fixed threshold on single days misses.
    The recurrence S_i = max(0, S_{i-1} + x_i - k) is inherently ordered
    (see `relational.cusum_alarms`); the oracle replays it as a recursive
    CTE, so the stateful scan is hash-verified.

    Scale shape: the fact collapses to |days| rows map-side; the scalar k
    and the ordered replay both run on that tiny series."""
    li = load_table(spark, sf_dir, "lineitem")
    dollars = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("bigint")
    daily = (
        li.groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(F.sum(dollars).cast("long").alias("x"))
        .localCheckpoint()
    )
    tot, n = daily.agg(F.sum("x"), F.count(F.lit(1))).first()
    k = (int(tot) + int(n) - 1) // int(n)
    return relational.cusum_alarms(daily, "day", "x", k_ref=k, h_threshold=k)


@query(
    "orders_above_cust_avg",
    """
    WITH s AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tot,
             COUNT(*) AS n
      FROM orders GROUP BY o_custkey)
    SELECT o.o_custkey, CAST(count(*) AS BIGINT) AS n_above,
           CAST(max(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS max_price
    FROM orders o JOIN s ON o.o_custkey = s.o_custkey
    WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * s.n > s.tot
    GROUP BY o.o_custkey
    """,
)
def orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery decorrelation: orders priced above their OWN
    customer's average (`WHERE o_totalprice > (SELECT AVG(...) WHERE same
    custkey)`) — written the way Catalyst decorrelates it: one per-key
    agg joined back on the key. The compare is cross-multiplied
    (price * n > sum) so no float average ever exists — exact decimals on
    both engines.

    Scale shape: agg and join share the o_custkey shuffle (one exchange
    feeds both sides); nothing driver-side."""
    o = load_table(spark, sf_dir, "orders")
    price_d = F.col("o_totalprice").cast("decimal(18,2)")
    s = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(price_d).alias("tot"), F.count(F.lit(1)).alias("n")
    )
    return (
        o.join(s, F.col("o_custkey") == F.col("ck"))
        .filter(price_d * F.col("n") > F.col("tot"))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_above"),
            F.max(price_d).cast("double").alias("max_price"),
        )
    )


_PQ_KSUB, _PQ_M, _PQ_DSUB, _PQ_K = 8, 4, 16, 3


def _pq_oracle() -> str:
    ksub, m, dsub, k = _PQ_KSUB, _PQ_M, _PQ_DSUB, _PQ_K
    subs = ", ".join(str(s) for s in range(m))
    return f"""
    WITH qq AS (SELECT vec_id, {_QV} AS v FROM embeddings),
    cbv AS (SELECT vec_id AS j, v FROM qq WHERE vec_id < {ksub}),
    subs AS (SELECT vec_id, s, v[s*{dsub}+1 : (s+1)*{dsub}] AS sv
             FROM qq, unnest([{subs}]) AS t(s)),
    cbsubs AS (SELECT j, s, v[s*{dsub}+1 : (s+1)*{dsub}] AS cv
               FROM cbv, unnest([{subs}]) AS t(s)),
    d AS (SELECT vec_id, s, j,
            CAST(list_sum(list_transform(range(1, {dsub + 1}),
                 i -> (sv[i]-cv[i])*(sv[i]-cv[i]))) AS BIGINT) AS dist
          FROM subs JOIN cbsubs USING (s)),
    codes AS (SELECT vec_id, s, CAST(min(dist * {ksub} + j) % {ksub} AS BIGINT)
                AS code
              FROM d GROUP BY vec_id, s),
    qd AS (SELECT * FROM d WHERE vec_id >= 20 AND vec_id < 40),
    adc AS (
      SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(qd.dist) AS BIGINT) AS approx_dist
      FROM codes c JOIN qd ON qd.s = c.s AND qd.j = c.code
      WHERE c.vec_id != qd.vec_id
      GROUP BY 1, 2)
    SELECT query_id, neighbor_id, approx_dist, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY approx_dist ASC, neighbor_id ASC)
        AS INTEGER) AS rank
      FROM adc)
    WHERE rank <= {k}
    """


@query("ann_pq_topk", _pq_oracle())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k: vectors coded as 4 sub-centroid
    ids, query distance = 4 integer table lookups per pair (16x vector
    compression) — see `similarity.pq_topk` for the FAISS-style scale
    story. Codes, tables, and ranks are integer-exact, so the oracle
    reproduces the full PQ pipeline, not just row counts."""
    emb = load_table(spark, sf_dir, "embeddings")
    codebook = _cached_codebook(emb, sf_dir, _PQ_KSUB, "prefix")
    queries_df = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40))
    return _sim.pq_topk(
        emb, queries_df, codebook, m=_PQ_M, k=_PQ_K, dim=_PQ_M * _PQ_DSUB
    )


# Benford expected first-digit frequencies log10(1 + 1/d): computed once in
# Python and embedded as IDENTICAL double literals in both engines (repr
# round-trips exactly), so the deviation column is bit-reproducible.
_BENFORD = {d: __import__("math").log10(1 + 1 / d) for d in range(1, 10)}


@query(
    "benford_price_audit",
    f"""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                   AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice > 0),
    counts AS (SELECT digit, count(*) AS n FROM digits GROUP BY digit),
    tot AS (SELECT SUM(n) AS t FROM counts)
    SELECT digit, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) / (SELECT t FROM tot) AS observed,
           CASE digit {' '.join(f"WHEN {d} THEN {v!r}" for d, v in _BENFORD.items())}
           END AS expected,
           CAST(n AS DOUBLE) / (SELECT t FROM tot)
             - CASE digit {' '.join(f"WHEN {d} THEN {v!r}" for d, v in _BENFORD.items())} END
             AS deviation
    FROM counts
    """,
)
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on order totals — the classic
    fraud/fabrication screen: naturally-occurring multiplicative amounts
    follow P(d) = log10(1+1/d); a synthetic or tampered column shows a
    flat or spiked digit histogram. The first significant digit is
    extracted from INTEGER cents via string head (no log10/floor float
    path, whose libm rounding could flip a boundary digit cross-engine);
    expected frequencies enter both engines as identical literals.

    Scale shape: one map-side-combined 9-group count; the deviation math
    runs on 9 rows."""
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = (
        o.filter(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expected = F.when(F.lit(False), F.lit(None).cast("double"))
    for d, v in _BENFORD.items():
        expected = expected.when(F.col("digit") == d, F.lit(v))
    w_all = Window.partitionBy()
    return counts.select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n").cast("double") / F.sum("n").over(w_all)).alias("observed"),
        expected.alias("expected"),
        (
            F.col("n").cast("double") / F.sum("n").over(w_all) - expected
        ).alias("deviation"),
    )


@query(
    "group_disjoint_split",
    """
    WITH u AS (
      SELECT user_id,
        CASE
          WHEN ('0x' || substring(md5('grp1' || '|' || CAST(user_id AS VARCHAR)),
                1, 8))::BIGINT < 429496729 THEN 'val'
          WHEN ('0x' || substring(md5('grp1' || '|' || CAST(user_id AS VARCHAR)),
                1, 8))::BIGINT < 858993459 THEN 'test'
          ELSE 'train'
        END AS split
      FROM (SELECT DISTINCT user_id FROM events)),
    ev AS (SELECT e.user_id, u.split FROM events e JOIN u USING (user_id))
    SELECT split,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM ev GROUP BY split
    """,
)
def group_disjoint_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-disjoint train/val/test assignment: the split is a pure
    function of the GROUP key (user), not the row, so every event of a
    user lands in the same fold — the leakage-safe split for behavioral
    models, where row-hash splits (`train_val_test_split`) would let one
    user's history straddle train and test. Disjointness is structural
    (a user has exactly one hash), and the audit proves it: fold user
    counts sum to the distinct-user total.

    Scale shape: assignment is a narrow expression over the distinct-user
    relation; the fact joins the (broadcast-sized) assignment on the
    already-shuffled user key. Same 80/10/10 thresholds as the row-level
    split, so recipes compose."""
    ev = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("grp1"), F.lit("|"), F.col("user_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    u = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(h < 429496729, "val")
            .when(h < 858993459, "test")
            .otherwise("train")
            .alias("split"),
        )
    )
    return (
        ev.join(F.broadcast(u), "user_id")
        .groupBy("split")
        .agg(
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )


@query(
    "sample_temperature_mix",
    """
    WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    wts AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM counts),
    tot AS (SELECT SUM(w) AS tw FROM wts)
    SELECT lang, CAST(n AS BIGINT) AS n_docs, w,
           CAST(w AS DOUBLE) / (SELECT tw FROM tot) AS share,
           CAST((10000 * w) // (SELECT tw FROM tot) AS BIGINT) AS quota
    FROM wts
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-tempered mixture weights (the multilingual-pretraining
    recipe: sample language l proportional to n_l^alpha, alpha=1/2, so
    low-resource languages are up-weighted relative to their raw share —
    mT5/XLM-R style). Weights are integer isqrt(n) — IEEE sqrt is
    correctly rounded in both engines, so floor(sqrt(bigint)) is
    deterministic — making the weight total and the 10k-document quotas
    exact integer math; only the reported share takes a (single) divide.

    Scale shape: one |lang|-group count; everything after runs on that
    tiny grid. Composes with `sample_token_budget_mix`, which spends
    per-language budgets this query sets."""
    docs = load_table(spark, sf_dir, "documents")
    wts = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("w", F.floor(F.sqrt(F.col("n"))).cast("long"))
    )
    tot = wts.agg(F.sum("w").alias("tw"))
    # quota stays in INTEGER division (`div`, the floor-div DuckDB's `//`
    # computes) — a double divide + cast could land a half-ulp above the
    # true quotient and truncate to a different integer.
    return wts.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.col("n").cast("bigint").alias("n_docs"),
        "w",
        (F.col("w").cast("double") / F.col("tw")).alias("share"),
        F.expr("(10000 * w) div tw").cast("bigint").alias("quota"),
    )


@query(
    "attribution_linear_touch",
    """
    WITH firstp AS (
      SELECT user_id, min(ts) AS p_ts FROM events
      WHERE event_type = 'purchase' GROUP BY user_id),
    touches AS (
      SELECT e.user_id, e.event_type
      FROM events e JOIN firstp f ON e.user_id = f.user_id
      WHERE e.ts < f.p_ts AND e.event_type <> 'purchase'),
    per_user AS (
      SELECT user_id, count(*) AS n_touches FROM touches GROUP BY user_id),
    credited AS (
      SELECT t.event_type, count(*) AS cnt,
             SUM(1000000 // p.n_touches) AS credit_micro
      FROM touches t JOIN per_user p ON t.user_id = p.user_id
      GROUP BY t.event_type)
    SELECT event_type, CAST(cnt AS BIGINT) AS n_touches,
           CAST(credit_micro AS BIGINT) AS credit_micro,
           CAST(credit_micro AS DOUBLE) / 1000000 AS conversions_credited
    FROM credited
    """,
)
def attribution_linear_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every pre-conversion touch of a
    converting user shares that conversion's credit equally (1/n each) —
    the equal-weight complement to `attribution_last_touch`, which gives
    the whole conversion to the final click. Credit is summed in integer
    MICRO-conversions (1e6 // n per touch, floor division) so the
    cross-user sum is associative and engine-exact; the sub-ppm flooring
    residue is the documented cost of exactness.

    Scale shape: first-purchase timestamp and per-user touch counts are
    BOTH windows over one user partitioning — the fact shuffles once on
    user_id, then the credited rollup is |event_type|-sized. (The
    agg-and-join-back phrasing costs 4 exchanges; the shared-window form
    costs 2.)"""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    p_ts = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(wu)
    marked = ev.withColumn("p_ts", p_ts).filter(
        (F.col("ts") < F.col("p_ts")) & (F.col("event_type") != "purchase")
    )
    touches = marked.withColumn("n_touches", F.count(F.lit(1)).over(wu))
    return (
        touches.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum(F.expr("1000000 div n_touches"))
            .cast("bigint")
            .alias("credit_micro"),
        )
        .select(
            "event_type",
            "n_touches",
            "credit_micro",
            (F.col("credit_micro").cast("double") / 1000000).alias(
                "conversions_credited"
            ),
        )
    )


@query(
    "fk_orphan_audit",
    """
    WITH rel AS (
      SELECT 'orders.o_custkey->customer' AS relationship,
             (SELECT count(*) FROM orders) AS n_child,
             (SELECT count(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)) AS n_orphans
      UNION ALL
      SELECT 'lineitem.l_orderkey->orders',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL
      SELECT 'lineitem.l_partkey->part',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM part p
                                WHERE p.p_partkey = l.l_partkey))
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                WHERE s.s_suppkey = l.l_suppkey)))
    SELECT relationship, CAST(n_child AS BIGINT) AS n_child,
           CAST(n_orphans AS BIGINT) AS n_orphans,
           CAST(n_orphans AS DOUBLE) / n_child AS orphan_rate
    FROM rel
    """,
)
def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: for each
    fact->dimension foreign key, how many child rows point at a missing
    parent (anti-join counts). The zero-orphan result IS the check a
    warehouse load gate runs after every batch; a nonzero row pinpoints
    which relationship broke.

    Scale shape: each relationship is ONE left-anti join — dims broadcast;
    the lineitem->orders probe shuffles on orderkey (or rides bucketing
    where both sides are bucketed). Counts fold map-side; the four audits
    are independent jobs unioned on a 4-row result."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")

    def audit(child: DataFrame, ck: str, parent: DataFrame, pk: str, name: str):
        n_child = child.count()
        n_orph = child.join(
            parent, child[ck] == parent[pk], "left_anti"
        ).count()
        return (name, n_child, n_orph)

    rows = [
        audit(o, "o_custkey", c, "c_custkey", "orders.o_custkey->customer"),
        audit(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey->orders"),
        audit(li, "l_partkey", p, "p_partkey", "lineitem.l_partkey->part"),
        audit(li, "l_suppkey", s, "s_suppkey", "lineitem.l_suppkey->supplier"),
    ]
    out = spark.createDataFrame(
        rows, "relationship string, n_child long, n_orphans long"
    )
    return out.select(
        "relationship",
        F.col("n_child").cast("bigint").alias("n_child"),
        F.col("n_orphans").cast("bigint").alias("n_orphans"),
        (F.col("n_orphans").cast("double") / F.col("n_child")).alias("orphan_rate"),
    )


@query(
    "stream_cusum_alarms",
    """
    WITH seq AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) - 6000 AS y
      FROM events),
    cs AS (
      SELECT event_type, ts, event_id,
             SUM(y) OVER (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM seq),
    st AS (
      SELECT event_type, rn,
             GREATEST(CAST(0 AS BIGINT),
                      c - LEAST(CAST(0 AS BIGINT),
                                COALESCE(MIN(c) OVER (
                                  PARTITION BY event_type
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING),
                                  CAST(0 AS BIGINT)))) AS s
      FROM cs)
    SELECT event_type,
           CAST(max(rn) AS BIGINT) AS n_steps,
           CAST(max_by(s, rn) AS BIGINT) AS cusum,
           CAST(SUM(CASE WHEN s > 60000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarms
    FROM st
    GROUP BY event_type
    """,
)
def stream_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM monitor: per event type, the Page-recurrence alarm
    state folded over the value stream in integer cents (k=6000,
    h=60000), with keyed Arrow state carrying the recurrence across
    micro-batches — see `streaming.cusum_per_key`. The final state per
    key (max-by-n_steps emission; n_steps is monotone) is hash-compared
    against an ORACLE that replays the clamped fold via its window-
    function closed form (s_i = max(0, cs_i - min(0, min cs_{<i})) over
    per-key prefix sums) — LINEAR in DuckDB, so this gate also runs at
    sf1+ where the old recursive-CTE step-replay timed out (the
    step-by-step sequential oracle survives on `changepoint_cusum_daily`,
    whose series is calendar-bounded; the closed form's equivalence to
    the literal fold is hypothesis-pinned in
    test_clamped_prefix_closed_form_equals_sequential_fold)."""
    stream = _stream.read_stream(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    updates = _stream.run_to_memory(
        _stream.cusum_per_key(stream, "event_type", 6000, 60000),
        "update",
        state_partitions=_stream.adaptive_state_partitions(sf_dir, "events"),
    )
    final = updates.groupBy("event_type").agg(
        F.max(F.struct("n_steps", "cusum", "n_alarms")).alias("st")
    )
    return final.select(
        "event_type",
        F.col("st.n_steps").alias("n_steps"),
        F.col("st.cusum").alias("cusum"),
        F.col("st.n_alarms").alias("n_alarms"),
    )


def _sortkey_cte(cand: str) -> str:
    return f"""
      SELECT '{cand}' AS sort_key, t.tile,
             min(user_id) AS lo, max(user_id) AS hi
      FROM (SELECT user_id,
                   ntile(32) OVER (ORDER BY {cand}, event_id) AS tile
            FROM events) t
      GROUP BY t.tile
    """


@query(
    "sortkey_advisor_events",
    f"""
    WITH tiles AS ({_sortkey_cte("ts")} UNION ALL {_sortkey_cte("user_id")}),
    g AS (SELECT min(user_id) AS glo, max(user_id) AS ghi FROM events)
    SELECT sort_key,
           CAST(count(*) AS BIGINT) AS n_tiles,
           CAST(SUM(hi - lo + 1) AS BIGINT) AS sum_tile_span,
           CAST(SUM(hi - lo + 1) AS DOUBLE)
             / (SELECT ghi - glo + 1 FROM g) AS expected_tiles_hit
    FROM tiles GROUP BY sort_key
    """,
)
def sortkey_advisor_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout advisor: for each candidate sort key, how many files
    would a point lookup on ``user_id`` have to read if the table were
    written in that order? The table is tiled into 32 equal row chunks
    (stand-ins for files), each tile keeps its user_id min/max envelope
    (exactly the parquet row-group stats scans prune on), and the
    expected tiles hit for a uniform probe is sum(tile spans)/global
    span. Sorting by user_id collapses the expectation to ~1 tile;
    sorting by ts leaves every tile's envelope near-full (~32 tiles) —
    the measured argument for choosing the Z-order/sort column that
    `compact_zorder_events` then applies. Spans are integer; only the
    final expectation divides.

    Scale shape: the global ntile is a range-partitioned sort — an
    advisor pass you run on a SAMPLE of a 100 TB table (the expectation
    estimate converges fast), not the full fact."""
    ev = load_table(spark, sf_dir, "events")
    parts = []
    for cand in ("ts", "user_id"):
        tiles = (
            ev.select(
                "user_id",
                F.ntile(32)
                .over(Window.orderBy(cand, "event_id"))
                .alias("tile"),
            )
            .groupBy("tile")
            .agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
            .select(F.lit(cand).alias("sort_key"), "tile", "lo", "hi")
        )
        parts.append(tiles)
    tiles = parts[0].unionByName(parts[1])
    g = ev.agg(
        (F.max("user_id") - F.min("user_id") + 1).alias("gspan")
    )
    return (
        tiles.crossJoin(F.broadcast(g))
        .groupBy("sort_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tiles"),
            F.sum(F.col("hi") - F.col("lo") + 1)
            .cast("bigint")
            .alias("sum_tile_span"),
            (
                F.sum(F.col("hi") - F.col("lo") + 1).cast("double")
                / F.first("gspan")
            ).alias("expected_tiles_hit"),
        )
    )


@query(
    "multimodal_ahash",
    r"""
    WITH base AS (
      SELECT doc_id, regexp_replace(text, '[^\x20-\x7E]', ' ', 'g') AS clean
      FROM documents),
    dims AS (
      SELECT doc_id, clean, length(clean) AS n,
             (length(clean) + 15) // 16 AS h
      FROM base),
    pix AS (
      SELECT doc_id, p,
             ascii(substring(clean || repeat(' ', CAST(h*16 - n AS INTEGER)),
                             CAST(p + 1 AS INTEGER), 1)) AS v,
             least((p // 16) * 8 // h, 7) AS cy,
             (p % 16) // 2 AS cx
      FROM dims, unnest(generate_series(0, h*16 - 1)) AS t(p)),
    tot AS (SELECT doc_id, 1000 * SUM(v) // COUNT(*) AS tmean
            FROM pix GROUP BY doc_id),
    cells AS (SELECT doc_id, cy, cx, 1000 * SUM(v) // COUNT(*) AS cmean
              FROM pix GROUP BY doc_id, cy, cx),
    grid AS (SELECT d.doc_id, a.gy, b.gx
             FROM (SELECT DISTINCT doc_id FROM base) d,
                  unnest(generate_series(0, 7)) AS a(gy),
                  unnest(generate_series(0, 7)) AS b(gx)),
    bits AS (
      SELECT g.doc_id, g.gy, g.gx,
             CASE WHEN c.cmean IS NOT NULL AND c.cmean > t.tmean
                  THEN '1' ELSE '0' END AS bit
      FROM grid g
      LEFT JOIN cells c ON c.doc_id = g.doc_id AND c.cy = g.gy AND c.cx = g.gx
      JOIN tot t ON t.doc_id = g.doc_id),
    hashes AS (
      SELECT doc_id, string_agg(bit, '' ORDER BY gy, gx) AS ahash
      FROM bits GROUP BY doc_id)
    SELECT doc_id, ahash,
           CAST(count(*) OVER (PARTITION BY ahash) AS BIGINT) AS n_same_hash
    FROM hashes
    """,
)
def multimodal_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash over the REAL PGM image payloads: 8x8
    block-mean thresholding → 64-bit visual fingerprint per image, plus
    the size of each hash bucket (n_same_hash > 1 = visually-duplicate
    group — the image-side analogue of exact text dedup). The Python
    (numpy, Arrow-batched) hash is recomputed bit-for-bit by the DuckDB
    oracle from the SOURCE TEXT — integer milli-means and an explicit
    floor cell rule make a perceptual hash exactly verifiable.

    Scale shape: one narrow Arrow pass per partition emits 64 chars per
    image; the bucket count is one hash-key window. Payload bytes never
    shuffle."""
    from incremental_data_pipeline_spark.operators import multimodal as _mm

    docs = load_table(spark, sf_dir, "documents")
    hashes = _mm.ahash_image(_mm.attach_pgm_image(docs))
    return hashes.select(
        "doc_id",
        "ahash",
        F.count(F.lit(1))
        .over(Window.partitionBy("ahash"))
        .cast("bigint")
        .alias("n_same_hash"),
    )


def _lang_prf_oracle() -> str:
    inner = _lang_oracle()
    return f"""
    WITH pred AS ({inner}),
    grid AS (
      SELECT coalesce(t.cls, p.cls) AS cls,
             coalesce(tp, 0) AS tp, coalesce(n_true, 0) AS n_true,
             coalesce(n_pred, 0) AS n_pred
      FROM (SELECT lang AS cls, count(*) AS n_true,
                   sum(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END) AS tp
            FROM pred GROUP BY lang) t
      FULL OUTER JOIN (SELECT pred_lang AS cls, count(*) AS n_pred
                       FROM pred GROUP BY pred_lang) p
        ON t.cls = p.cls)
    SELECT cls AS lang,
           CAST(tp AS BIGINT) AS tp,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_pred AS BIGINT) AS n_pred,
           CAST(tp AS DOUBLE) / nullif(n_pred, 0) AS precision,
           CAST(tp AS DOUBLE) / nullif(n_true, 0) AS recall,
           CAST(2 * tp AS DOUBLE) / nullif(n_pred + n_true, 0) AS f1
    FROM grid
    """


@query("lang_id_prf", _lang_prf_oracle())
def lang_id_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: per-class precision / recall /
    F1 of the n-gram language identifier against the labeled lang column
    — the model-quality rollup a data-curation pipeline runs after every
    lang-id change. F1 is computed as 2tp/(pred+true) (the harmonic mean
    without intermediate ratios), so each metric is ONE divide over
    integer counts — engine-exact, no float composition.

    Scale shape: predictions stay where the documents are; the eval is
    two |langs|-sized count grids full-outer-joined (classes can be
    absent on either side — nullif guards the zero denominators)."""
    docs = load_table(spark, sf_dir, "documents")
    pred = _text.lang_id(docs).select("lang", "pred_lang")
    t = pred.groupBy(F.col("lang").alias("cls")).agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum((F.col("lang") == F.col("pred_lang")).cast("long")).alias("tp"),
    )
    p = pred.groupBy(F.col("pred_lang").alias("pcls")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    g = (
        t.join(p, F.col("cls") == F.col("pcls"), "full_outer")
        .select(
            F.coalesce(F.col("cls"), F.col("pcls")).alias("lang"),
            F.coalesce(F.col("tp"), F.lit(0)).cast("bigint").alias("tp"),
            F.coalesce(F.col("n_true"), F.lit(0)).cast("bigint").alias("n_true"),
            F.coalesce(F.col("n_pred"), F.lit(0)).cast("bigint").alias("n_pred"),
        )
    )
    nz = lambda c: F.when(F.col(c) != 0, F.col(c))  # noqa: E731
    return g.select(
        "lang",
        "tp",
        "n_true",
        "n_pred",
        (F.col("tp").cast("double") / nz("n_pred")).alias("precision"),
        (F.col("tp").cast("double") / nz("n_true")).alias("recall"),
        (
            (F.lit(2) * F.col("tp")).cast("double")
            / F.when(F.col("n_pred") + F.col("n_true") != 0, F.col("n_pred") + F.col("n_true"))
        ).alias("f1"),
    )


@query(
    "k_anonymity_audit",
    """
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS grp_sz
      FROM customer GROUP BY c_nationkey, c_mktsegment),
    tot AS (SELECT SUM(grp_sz) AS n_cust, COUNT(*) AS n_groups FROM qi)
    SELECT 5 AS k,
           CAST((SELECT n_groups FROM tot) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN grp_sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_below_k,
           CAST(SUM(CASE WHEN grp_sz < 5 THEN grp_sz ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(SUM(CASE WHEN grp_sz < 5 THEN grp_sz ELSE 0 END) AS DOUBLE)
             / (SELECT n_cust FROM tot) AS risk_rate,
           CAST(min(grp_sz) AS BIGINT) AS min_group_size
    FROM qi
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy k-anonymity audit over the quasi-identifier pair
    (nation, market segment): a release is k-anonymous when every QI
    combination matches >= k rows; rows in smaller groups are
    re-identifiable by linkage. Reports the group count, how many groups
    and rows fall below k=5, the at-risk share, and the worst group size
    — the go/no-go gate before sharing a "de-identified" extract, and
    the quantitative companion to `gdpr_erasure_audit`.

    Scale shape: one QI-grouped count (map-side combinable), then the
    audit folds the |QI-groups| grid to a single row."""
    c = load_table(spark, sf_dir, "customer")
    qi = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("grp_sz")
    )
    below = F.sum(F.when(F.col("grp_sz") < 5, 1).otherwise(0))
    at_risk = F.sum(F.when(F.col("grp_sz") < 5, F.col("grp_sz")).otherwise(0))
    return qi.agg(
        F.lit(5).alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        below.cast("bigint").alias("n_groups_below_k"),
        at_risk.cast("bigint").alias("n_rows_at_risk"),
        (at_risk.cast("double") / F.sum("grp_sz")).alias("risk_rate"),
        F.min("grp_sz").cast("bigint").alias("min_group_size"),
    )


@query(
    "pmi_top_cooccurrences",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    pos AS (SELECT doc_id, ts, i, ts[CAST(i AS INTEGER)] AS term
            FROM toks, unnest(generate_series(1, len(ts))) AS p(i)),
    pairs AS (
      SELECT CASE WHEN a.term <= b.term THEN a.term ELSE b.term END AS t1,
             CASE WHEN a.term <= b.term THEN b.term ELSE a.term END AS t2
      FROM pos a JOIN pos b
        ON a.doc_id = b.doc_id AND b.i BETWEEN a.i + 1 AND a.i + 5),
    cxy AS (SELECT t1, t2, count(*) AS c_xy FROM pairs GROUP BY t1, t2),
    cx AS (SELECT term, count(*) AS c FROM pos GROUP BY term),
    n AS (SELECT count(*) AS total FROM pos)
    SELECT t1, t2, CAST(c_xy AS BIGINT) AS c_xy,
           CAST((CAST(c_xy AS HUGEINT) * (SELECT total FROM n) * 1000000)
                // (CAST(x.c AS HUGEINT) * y.c) AS BIGINT) AS pmi_ratio_ppm
    FROM cxy JOIN cx x ON t1 = x.term JOIN cx y ON t2 = y.term
    WHERE c_xy >= 5
    ORDER BY pmi_ratio_ppm DESC, t1 ASC, t2 ASC
    LIMIT 20
    """,
)
def pmi_top_cooccurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed co-occurrence PMI: the 20 most-associated unordered term
    pairs within a 5-token window (min support 5) — the distributional-
    semantics statistic behind collocation extraction and word-vector
    objectives. Ranking uses the integer cross-ratio
    c_xy*N*1e6 // (c_x*c_y) — PMI without the log (log is monotone, so
    the order is identical) and without any float.

    Scale shape: pair extraction is a NARROW per-row map (zip of the
    token array against its own 1..5-shifted slices — no positions
    self-join, no doc_id shuffle for candidates); the pair/unigram counts
    are map-side-combinable aggs and the unigram table broadcasts back.
    The oracle phrases the same pairs as a positions range-join, proving
    the zip-slice trick equals the textbook definition."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    n = F.size(t)

    def shifted_pairs(d: int):
        left = F.slice(t, 1, F.greatest(n - F.lit(d), F.lit(0)))
        right = F.slice(t, F.lit(d + 1), F.greatest(n - F.lit(d), F.lit(0)))
        return F.zip_with(
            left,
            right,
            lambda a, b: F.struct(
                F.least(a, b).alias("t1"), F.greatest(a, b).alias("t2")
            ),
        )
    pairs = docs.select(
        F.explode(
            F.flatten(F.array(*[shifted_pairs(d) for d in range(1, 6)]))
        ).alias("p")
    ).select("p.t1", "p.t2")
    cxy = pairs.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("c_xy"))
    toks = docs.select(F.explode(t).alias("term"))
    cx = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = toks.count()
    return (
        cxy.filter(F.col("c_xy") >= 5)
        .join(F.broadcast(cx.withColumnRenamed("term", "t1").withColumnRenamed("c", "cx1")), "t1")
        .join(F.broadcast(cx.withColumnRenamed("term", "t2").withColumnRenamed("c", "cx2")), "t2")
        .select(
            "t1",
            "t2",
            F.col("c_xy").cast("bigint").alias("c_xy"),
            # 128-bit-wide arithmetic (decimal(38,0) / HUGEINT in the
            # oracle): c_xy*N*1e6 overflows bigint past ~sf0.1 token
            # counts and Spark (non-ANSI) would wrap silently (ADVICE r4
            # #4); the quotient itself always fits bigint since
            # cx1,cx2 >= c_xy.
            F.expr(
                f"CAST(c_xy AS DECIMAL(38,0)) * {total}L * 1000000L"
                " div (CAST(cx1 AS DECIMAL(38,0)) * cx2)"
            )
            .cast("bigint")
            .alias("pmi_ratio_ppm"),
        )
        .orderBy(F.col("pmi_ratio_ppm").desc(), F.col("t1").asc(), F.col("t2").asc())
        .limit(20)
    )


@query(
    "abc_classification_parts",
    """
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(round(l_extendedprice * (1 - l_discount)) AS BIGINT))
               AS cents
      FROM lineitem GROUP BY l_partkey),
    ranked AS (
      SELECT l_partkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, l_partkey ASC
                              ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cents) OVER () AS total
      FROM rev),
    classed AS (
      SELECT CASE WHEN 100 * cum <= 80 * total THEN 'A'
                  WHEN 100 * cum <= 95 * total THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents, total
      FROM ranked)
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS class_cents,
           CAST(SUM(cents) AS DOUBLE) / max(total) AS revenue_share
    FROM classed GROUP BY abc_class
    """,
)
def abc_classification_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, class A =
    the head covering 80% of cumulative revenue, B = the next 15%, C =
    the tail — the Pareto cut purchasing teams manage stock by. The class
    boundary compare is integer cross-multiplied (100*cum <= 80*total),
    so classification never touches a float; only the reported share
    divides.

    Scale shape: the fact collapses to |parts| revenue cells first; the
    running-sum window is a range-partitioned sort over that (dim-sized)
    relation, not the fact."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("bigint")
    rev = li.groupBy("l_partkey").agg(F.sum(cents).alias("cents"))
    w_cum = Window.orderBy(F.col("cents").desc(), F.col("l_partkey").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    ranked = rev.select(
        "cents",
        F.sum("cents").over(w_cum).alias("cum"),
        F.sum("cents").over(w_all).alias("total"),
    )
    classed = ranked.select(
        F.when(100 * F.col("cum") <= 80 * F.col("total"), "A")
        .when(100 * F.col("cum") <= 95 * F.col("total"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
        "total",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("class_cents"),
        (F.sum("cents").cast("double") / F.max("total")).alias("revenue_share"),
    )


@query(
    "sequence_pattern_match",
    """
    WITH paths AS (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS path
      FROM events GROUP BY user_id),
    pats AS (
      SELECT * FROM (VALUES
        ('view_then_purchase',  'v.*p'),
        ('click_click_purchase', 'c.*c.*p'),
        ('signup_first',        '^s')) AS t(pattern, rx))
    SELECT pattern,
           CAST(sum(CASE WHEN regexp_matches(path, rx) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN regexp_matches(path, rx) THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS match_rate
    FROM paths CROSS JOIN pats
    GROUP BY pattern
    """,
)
def sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern matching: each user's
    event history becomes an ordered symbol string (first letter of the
    event type — the fixture's types are first-letter-distinct), and
    behavioral patterns are regexes over it ('view then later purchase',
    'two clicks before a purchase', 'signup was the first act'). Counts
    users matching each pattern — arbitrary-gap sequence analytics that
    windowed funnels (`funnel_conversion`) can't phrase.

    Scale shape: ONE user-keyed ordered aggregation builds the path
    column (size = user's event count, bounded); the regex sweep is a
    narrow map over |users| rows × |patterns| tiny cross join."""
    ev = load_table(spark, sf_dir, "events")
    paths = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("ts"),
                            F.col("event_id"),
                            F.substring("event_type", 1, 1).alias("sym"),
                        )
                    )
                ),
                lambda x: x["sym"],
            ),
        ).alias("path")
    )
    pats = spark.createDataFrame(
        [
            ("view_then_purchase", "v.*p"),
            ("click_click_purchase", "c.*c.*p"),
            ("signup_first", "^s"),
        ],
        ["pattern", "rx"],
    )
    hit = F.expr("CASE WHEN path rlike rx THEN 1 ELSE 0 END")
    return (
        paths.crossJoin(F.broadcast(pats))
        .groupBy("pattern")
        .agg(
            F.sum(hit).cast("bigint").alias("n_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            (F.sum(hit).cast("double") / F.count(F.lit(1))).alias("match_rate"),
        )
    )


@query(
    "dedup_normalized_exact",
    """
    WITH norm AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS nhash
      FROM documents),
    grp AS (SELECT nhash, count(*) AS n_copies, min(doc_id) AS canonical
            FROM norm GROUP BY nhash)
    SELECT n.doc_id, g.canonical,
           CAST(g.n_copies AS BIGINT) AS n_copies,
           n.doc_id = g.canonical AS keep
    FROM norm n JOIN grp g ON n.nhash = g.nhash
    """,
)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-exact dedup (the Dolma/C4 cleanup step between
    byte-exact and fuzzy dedup): casefold, strip non-alphanumerics,
    collapse whitespace, THEN hash — catching documents that differ only
    in case, punctuation, or spacing, which `dedup_exact` treats as
    distinct and near-dup LSH wastes candidate pairs on. Min-id election
    picks the canonical copy; `keep` flags the survivor set.

    Scale shape: identical to exact dedup — one narrow normalize+hash
    map, one hash-key shuffle; the group relation is dim-sized and joins
    back on the hash."""
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        F.md5(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
                    " +",
                    " ",
                )
            )
        ).alias("nhash"),
    )
    grp = norm.groupBy("nhash").agg(
        F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("canonical")
    )
    return norm.join(grp, "nhash").select(
        "doc_id",
        "canonical",
        F.col("n_copies").cast("bigint").alias("n_copies"),
        (F.col("doc_id") == F.col("canonical")).alias("keep"),
    )


@query(
    "dedup_prefix_containment",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT
      CASE WHEN sa.sz <= sb.sz THEN doc_a ELSE doc_b END AS inner_doc,
      CASE WHEN sa.sz <= sb.sz THEN doc_b ELSE doc_a END AS outer_doc,
      i / (CASE WHEN sa.sz <= sb.sz THEN sa.sz ELSE sb.sz END) AS containment
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE i / (CASE WHEN sa.sz <= sb.sz THEN sa.sz ELSE sb.sz END) >= 0.7
    """,
)
def dedup_prefix_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS containment near-dup via the asymmetric prefix filter
    (see `dedup.prefix_filter_containment_pairs`): the oracle is the
    UNCAPPED all-pairs containment join, so a hash match proves the
    prefix pruning loses zero qualifying pairs on real data — the same
    losslessness contract `dedup_prefix_jaccard` pins for the symmetric
    measure."""
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.prefix_filter_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.7
    )


@query(
    "dedup_cross_doc_spans",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    spans AS (
      SELECT doc_id,
             md5(array_to_string(t[CAST((i-1)*10+1 AS INTEGER) : CAST(i*10 AS INTEGER)], ' ')) AS h
      FROM toks, unnest(generate_series(1, len(t) // 10)) AS g(i)),
    df AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM spans GROUP BY h),
    per_doc AS (
      SELECT s.doc_id,
             count(*) AS n_spans,
             sum(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS n_dup_spans
      FROM spans s JOIN df d ON s.h = d.h
      GROUP BY s.doc_id)
    SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_dup_spans AS BIGINT) AS n_dup_spans,
           CAST(n_dup_spans AS DOUBLE) / n_spans AS dup_span_ratio,
           2 * n_dup_spans < n_spans AS keep
    FROM per_doc
    """,
)
def dedup_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document SPAN dedup signal (the C4/Dolma step between
    whole-document dedup and within-document repetition): each document
    is cut into disjoint 10-token spans, spans are hashed corpus-wide,
    and a document is flagged when half or more of its spans also appear
    in other documents — boilerplate and syndicated text that whole-doc
    hashing misses and Jaccard under-weights. The keep rule is the
    integer compare 2*dups < total (no float threshold).

    Scale shape: span extraction is a narrow per-row map (array slices);
    the only shuffles are the span-hash df count and the per-doc rollup,
    both map-side combinable. Documents shorter than one span emit
    nothing and are implicitly kept."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    # Spark's sequence(1, 0) yields a DESCENDING [1, 0] (not empty like
    # generate_series), so sub-10-token docs must short-circuit to an
    # empty span list explicitly.
    span_hashes = F.when(
        F.size(t) >= 10,
        F.transform(
            F.sequence(F.lit(1), F.floor(F.size(t) / 10).cast("int")),
            lambda i: F.md5(F.concat_ws(" ", F.slice(t, (i - 1) * 10 + 1, 10))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = docs.select("doc_id", F.explode(span_hashes).alias("h"))
    df_counts = spans.groupBy("h").agg(
        F.count_distinct("doc_id").alias("ndocs")
    )
    per_doc = (
        spans.join(df_counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum((F.col("ndocs") >= 2).cast("long"))
            .cast("bigint")
            .alias("n_dup_spans"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        (F.col("n_dup_spans").cast("double") / F.col("n_spans")).alias(
            "dup_span_ratio"
        ),
        (2 * F.col("n_dup_spans") < F.col("n_spans")).alias("keep"),
    )


@query(
    "topk_plus_other_brands",
    """
    WITH rev AS (
      SELECT p.p_brand,
             SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount))
                 AS BIGINT)) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand),
    ranked AS (
      SELECT p_brand, cents,
             row_number() OVER (ORDER BY cents DESC, p_brand ASC) AS rn
      FROM rev)
    SELECT CASE WHEN rn <= 5 THEN p_brand ELSE 'OTHER' END AS brand_group,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(count(*) AS BIGINT) AS n_brands
    FROM ranked
    GROUP BY CASE WHEN rn <= 5 THEN p_brand ELSE 'OTHER' END
    """,
)
def topk_plus_other_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality-capped rollup: revenue by the top-5 brands with every
    remaining brand folded into one 'OTHER' row — the dashboard pattern
    that keeps a high-cardinality group-by's RESULT bounded (a 100M-key
    dimension otherwise ships 100M rows to whatever reads the rollup).
    Ranking is deterministic (revenue desc, brand asc) over integer
    cents.

    Scale shape: the fact collapses to |brands| cells first (map-side
    combine); the rank and the OTHER fold run on that dim-sized grid."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("bigint")
    rev = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(F.sum(cents).alias("cents"))
    )
    w = Window.orderBy(F.col("cents").desc(), F.col("p_brand").asc())
    ranked = rev.withColumn("rn", F.row_number().over(w))
    grp = F.when(F.col("rn") <= 5, F.col("p_brand")).otherwise("OTHER")
    return (
        ranked.groupBy(grp.alias("brand_group"))
        .agg(
            F.sum("cents").cast("bigint").alias("cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_brands"),
        )
    )


def _lsh_dropped_cte() -> str:
    """Bands CTE body (shared with `_minhash_oracle`) + the set of docs
    that collide with any LOWER-id document's bucket."""
    coeffs = _dedup.minhash_coeffs(12)
    mins = ", ".join(
        f"min(({a} * xv + {b}) % {_dedup.MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {j} AS band, concat({cols}) AS band_sig FROM mh".format(
            j=j, cols=", '|', ".join(f"mh{j * 3 + r}" for r in range(3))
        )
        for j in range(4)
    )
    return f"""{_SHINGLES_CTE},
    x AS (SELECT doc_id, ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS xv FROM sh),
    mh AS (SELECT doc_id, {mins} FROM x GROUP BY doc_id),
    bands AS ({band_rows}),
    dropped AS (
      SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id)"""


@query(
    "stream_ingest_dedup",
    f"""
    WITH {_lsh_dropped_cte()}
    SELECT d.doc_id FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = d.doc_id)
    """,
)
def stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING INGESTION DEDUP — the accept/reject gate of a
    continuously-crawling training pipeline: each arriving micro-batch's
    documents are LSH-banded and rejected when any bucket collides with
    the persisted signature STORE (everything seen so far) or with a
    lower-id document in the same batch; all new signatures (accepted or
    not) then join the store. First-arrival-wins; with id-ordered arrival
    (the file-stream contract, as in `stream_cusum_alarms`) the accepted
    set equals the declarative rule the oracle states: a document
    survives iff NO lower-id document shares an LSH bucket. The accepted
    ids and then the signatures land as epoch appends
    (``sinks.append_into``), each committing the micro-batch's epoch with
    its rows, so a replayed batch cannot double-append either table, even
    one that died between the two.

    Scale shape: per batch, one signature pass over the BATCH plus a
    bucket equi-join against the store — cost scales with the increment,
    never the corpus (the store is bucket-keyed; at warehouse scale it is
    written partitioned by band for store-side pruning)."""
    base = scratch_dir("stream_ingest_dedup_")
    store = os.path.join(base, "sig_store")
    out = os.path.join(base, "accepted")

    def apply_batch(batch: DataFrame, epoch: int) -> None:
        bands = _dedup.band_signatures(batch, "doc_id", "text", 12, 3, 3)
        bands = bands.localCheckpoint(eager=True)
        a = bands.alias("a")
        b = bands.alias("b")
        in_batch = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_sig") == F.col("b.band_sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("b.doc_id").alias("doc_id"))
            .distinct()
        )
        existing = read_table(spark, store)
        if existing is not None:
            vs_store = (
                bands.join(existing, ["band", "band_sig"], "left_semi")
                .select("doc_id")
                .distinct()
            )
            dropped = in_batch.unionByName(vs_store).distinct()
        else:
            dropped = in_batch
        survivors = batch.select("doc_id").join(dropped, "doc_id", "left_anti")
        # the ids first: a batch that died between the two appends is
        # replayed against the store without its own signatures
        append_into(survivors, out, epoch)
        append_into(bands.select("band", "band_sig"), store, epoch)

    stream = _stream.read_stream(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    _stream.foreach_batch(stream, apply_batch, os.path.join(base, "ckpt"))
    return read_table(spark, out).select("doc_id")


@query(
    "contingency_residuals",
    """
    WITH cells AS (
      SELECT c.c_mktsegment AS seg, n.n_name AS nation, count(*) AS o
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2),
    margins AS (
      SELECT seg, nation, o,
             SUM(o) OVER (PARTITION BY seg) AS r,
             SUM(o) OVER (PARTITION BY nation) AS col,
             SUM(o) OVER () AS t
      FROM cells)
    SELECT seg, nation, CAST(o AS BIGINT) AS observed,
           CAST(r * col AS DOUBLE) / t AS expected,
           (o * t - r * col) / sqrt(CAST(r AS DOUBLE) * col * t) AS residual
    FROM margins
    ORDER BY abs((o * t - r * col) / sqrt(CAST(r AS DOUBLE) * col * t)) DESC,
             seg ASC, nation ASC
    LIMIT 15
    """,
)
def contingency_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical association mining: the 15 most over/under-represented
    (market segment x nation) cells by standardized Pearson residual,
    (O·N - R·C)/sqrt(R·C·N) — the per-cell view of the chi-square
    independence test that tells you WHICH combinations drive the
    dependence, not just that it exists. Each residual is an integer
    numerator with one sqrt and one divide (no float accumulation), so
    the ranking is bit-reproducible cross-engine — unlike summed chi²,
    whose fold order isn't.

    Scale shape: the fact collapses to the |seg|x|nation| contingency
    grid in one map-side-combined count; margins are windows over that
    tiny grid."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cells = (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    m = cells.select(
        "seg",
        "nation",
        "o",
        F.sum("o").over(Window.partitionBy("seg")).alias("r"),
        F.sum("o").over(Window.partitionBy("nation")).alias("col"),
        F.sum("o").over(Window.partitionBy()).alias("t"),
    )
    resid = (F.col("o") * F.col("t") - F.col("r") * F.col("col")) / F.sqrt(
        F.col("r").cast("double") * F.col("col") * F.col("t")
    )
    return (
        m.select(
            "seg",
            "nation",
            F.col("o").cast("bigint").alias("observed"),
            ((F.col("r") * F.col("col")).cast("double") / F.col("t")).alias("expected"),
            resid.alias("residual"),
        )
        .orderBy(F.abs(F.col("residual")).desc(), F.col("seg").asc(), F.col("nation").asc())
        .limit(15)
    )


@query(
    "kaplan_meier_retention",
    """
    WITH RECURSIVE spans AS (
      SELECT user_id,
             date_trunc('week', min(ts)) AS fw,
             date_trunc('week', max(ts)) AS lw
      FROM events GROUP BY user_id),
    mx AS (SELECT max(lw) AS maxw FROM spans),
    lives AS (
      SELECT CAST(date_diff('day', fw, lw) // 7 AS BIGINT) AS lt,
             CASE WHEN lw = (SELECT maxw FROM mx) THEN 1 ELSE 0 END
               AS censored
      FROM spans),
    grp AS (
      SELECT lt, count(*) AS cnt,
             SUM(1 - censored) AS deaths
      FROM lives GROUP BY lt),
    tbl AS (
      SELECT lt, deaths,
             SUM(cnt) OVER (ORDER BY lt DESC ROWS UNBOUNDED PRECEDING)
               AS n_at_risk,
             row_number() OVER (ORDER BY lt ASC) AS rn
      FROM grp),
    walk(rn, lt, n_at_risk, deaths, s) AS (
      SELECT 0, CAST(NULL AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(1000000 AS BIGINT)
      UNION ALL
      SELECT t.rn, t.lt, CAST(t.n_at_risk AS BIGINT),
             CAST(t.deaths AS BIGINT),
             (w.s * (t.n_at_risk - t.deaths)) // t.n_at_risk
      FROM walk w JOIN tbl t ON t.rn = w.rn + 1)
    SELECT lt AS lifetime_weeks, n_at_risk, deaths, CAST(s AS BIGINT)
             AS surv_ppm
    FROM walk WHERE rn >= 1
    """,
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-survival curve: lifetime = weeks between a
    user's first and last activity, users still active in the final
    observed week are right-CENSORED (they leave the at-risk pool
    without counting as churn — the estimator's whole point vs naive
    churn rates). S is folded in integer ppm (see
    `relational.km_survival`), so the product-limit curve is
    hash-verified against a recursive-CTE replay.

    Scale shape: the fact collapses to per-user (first, last) in one
    user-keyed agg; the life table is |distinct lifetimes| rows and the
    ordered replay runs on that tiny relation."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("fw"),
        F.date_trunc("week", F.max("ts")).alias("lw"),
    )
    w_all = Window.partitionBy()
    lives = spans.select(
        (F.datediff(F.col("lw"), F.col("fw")) / 7).cast("bigint").alias("lt"),
        (F.col("lw") == F.max("lw").over(w_all)).cast("int").alias("censored"),
    )
    grp = lives.groupBy("lt").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(1 - F.col("censored")).alias("deaths"),
    )
    tbl = grp.select(
        "lt",
        "deaths",
        F.sum("cnt")
        .over(
            Window.orderBy(F.col("lt").desc()).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("n_at_risk"),
    )
    out = relational.km_survival(tbl, "lt", "n_at_risk", "deaths")
    return out.select(
        F.col("lt").alias("lifetime_weeks"),
        "n_at_risk",
        "deaths",
        "surv_ppm",
    )


@query(
    "holt_forecast_daily",
    """
    WITH RECURSIVE daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount))
                      AS BIGINT)) AS BIGINT) AS x
      FROM lineitem GROUP BY 1),
    ord AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM daily),
    walk(rn, day, x, l, b) AS (
      SELECT rn, day, x, x * 1000, CAST(0 AS BIGINT)
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.rn, o.day, o.x,
             (o.x * 1000 + 3 * (w.l + w.b)) // 4,
             (((o.x * 1000 + 3 * (w.l + w.b)) // 4 - w.l) + 3 * w.b) // 4
      FROM walk w JOIN ord o ON o.rn = w.rn + 1)
    SELECT day, CAST(x AS BIGINT) AS x,
           CAST(l AS BIGINT) AS level_milli,
           CAST(b AS BIGINT) AS trend_milli,
           CAST(l + b AS BIGINT) AS fitted_next_milli
    FROM walk
    """,
)
def holt_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential forecast state over daily shipped revenue
    (alpha = beta = 1/4): per day, the smoothed level, the trend, and the
    one-step-ahead forecast — trend-aware forecasting that a plain
    moving average can't do, with the recurrence held in integer
    milli-units so the full trajectory hash-matches the recursive-CTE
    oracle (see `relational.holt_linear`).

    Scale shape: the fact collapses to |days| map-side; the ordered
    replay runs on that bounded series."""
    li = load_table(spark, sf_dir, "lineitem")
    dollars = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("bigint")
    daily = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        F.sum(dollars).cast("long").alias("x")
    )
    return relational.holt_linear(daily, "day", "x", 4, 4, 1000)


@query(
    "item_cf_similarity",
    """
    WITH inter AS (
      SELECT DISTINCT user_id,
             CAST(json_extract(props, '$.k') AS BIGINT) AS item
      FROM events WHERE event_type IN ('view', 'click', 'purchase')),
    pop AS (SELECT item, count(*) AS c FROM inter GROUP BY item),
    co AS (
      SELECT a.item AS item_a, b.item AS item_b, count(*) AS c_ab
      FROM inter a JOIN inter b
        ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2)
    SELECT item_a, item_b, CAST(c_ab AS BIGINT) AS c_ab,
           c_ab / sqrt(CAST(pa.c AS DOUBLE) * pb.c) AS cosine
    FROM co
    JOIN pop pa ON item_a = pa.item
    JOIN pop pb ON item_b = pb.item
    WHERE c_ab >= 5
    ORDER BY c_ab / sqrt(CAST(pa.c AS DOUBLE) * pb.c) DESC,
             item_a ASC, item_b ASC
    LIMIT 25
    """,
)
def item_cf_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: the 25 most-similar item pairs
    by co-occurrence cosine c_ab / sqrt(c_a * c_b) over binarized user
    interaction sets (the classic Amazon-style neighborhood model; items
    are the JSON `k` property of engagement events). Integer counts, one
    sqrt + one divide per pair — rank is bit-reproducible. Min support 5
    keeps noise pairs out.

    Scale shape: interactions dedup to (user, item) once; co-occurrence
    is a user-keyed self-join whose fan-out is bounded by per-user item
    counts (basket size), never item-catalog² — the same shape as
    `basket_lift`, here normalized to cosine for the kNN-recommender
    use."""
    ev = load_table(spark, sf_dir, "events")
    # ONE user-keyed shuffle builds per-user item baskets (collect_set
    # dedups in the agg, replacing a separate DISTINCT shuffle); the
    # i<j pair explode over the sorted basket is a narrow map (same
    # 8->3-shuffle trick as `basket_lift`), and item popularity comes
    # from the same baskets relation.
    baskets = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_set(
                    F.get_json_object("props", "$.k").cast("bigint")
                )
            ).alias("items")
        )
    )
    idx = F.sequence(F.lit(1), F.size("items"))
    pair_structs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.slice(F.col("items"), i + 1, F.size("items")),
                lambda y: F.struct(
                    F.element_at(F.col("items"), i).alias("item_a"),
                    y.alias("item_b"),
                ),
            ),
        )
    )
    co = (
        baskets.filter(F.size("items") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.item_a").alias("item_a"), F.col("p.item_b").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    pop = (
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cos = F.col("c_ab") / F.sqrt(F.col("ca").cast("double") * F.col("cb"))
    return (
        co.filter(F.col("c_ab") >= 5)
        .join(F.broadcast(pop.select(F.col("item").alias("item_a"), F.col("c").alias("ca"))), "item_a")
        .join(F.broadcast(pop.select(F.col("item").alias("item_b"), F.col("c").alias("cb"))), "item_b")
        .select(
            "item_a",
            "item_b",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            cos.alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("item_a").asc(), F.col("item_b").asc())
        .limit(25)
    )


@query(
    "rfm_segmentation",
    """
    WITH base AS (
      SELECT o_custkey AS custkey,
             date_diff('day', max(o_orderdate),
                       (SELECT max(o_orderdate) FROM orders)) AS recency_days,
             count(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days,
             CAST(frequency AS BIGINT) AS frequency, monetary,
             ntile(5) OVER (ORDER BY recency_days ASC, custkey ASC) AS r5,
             ntile(5) OVER (ORDER BY frequency DESC, custkey ASC) AS f5,
             ntile(5) OVER (ORDER BY monetary DESC, custkey ASC) AS m5
      FROM base)
    SELECT custkey, recency_days, frequency, monetary,
           CAST(r5 AS INTEGER) AS r5, CAST(f5 AS INTEGER) AS f5,
           CAST(m5 AS INTEGER) AS m5,
           CASE
             WHEN r5 = 1 AND f5 <= 2 AND m5 <= 2 THEN 'champion'
             WHEN r5 <= 2 AND f5 <= 2 THEN 'loyal'
             WHEN r5 >= 4 AND f5 <= 2 THEN 'at_risk'
             WHEN r5 >= 4 AND f5 >= 4 THEN 'hibernating'
             ELSE 'regular'
           END AS segment
    FROM scored
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: Recency (days since last order,
    anchored to the dataset's latest order date so the result is
    reproducible), Frequency (order count), Monetary (exact decimal
    spend), each scored into quintiles (1 = best; ntile over a
    custkey-tiebroken ordering, so bucket edges are deterministic), then
    mapped to the standard marketing segments (champion / loyal /
    at_risk / hibernating / regular).

    Scale shape: the fact collapses to one row per customer; the three
    quintile windows are global sorts over the customer grid (run this
    on the aggregated relation — dim-sized — never the fact; at extreme
    customer counts swap ntile for the scalable range-partitioned rank
    used by `quantile_normalize_balance`)."""
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    base = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "custkey",
            F.datediff(F.col("mx"), F.col("last_order"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    r5 = F.ntile(5).over(Window.orderBy(F.col("recency_days").asc(), F.col("custkey").asc()))
    f5 = F.ntile(5).over(Window.orderBy(F.col("frequency").desc(), F.col("custkey").asc()))
    m5 = F.ntile(5).over(Window.orderBy(F.col("monetary").desc(), F.col("custkey").asc()))
    scored = base.select(
        "custkey", "recency_days", "frequency", "monetary",
        r5.alias("r5"), f5.alias("f5"), m5.alias("m5"),
    )
    seg = (
        F.when((F.col("r5") == 1) & (F.col("f5") <= 2) & (F.col("m5") <= 2), "champion")
        .when((F.col("r5") <= 2) & (F.col("f5") <= 2), "loyal")
        .when((F.col("r5") >= 4) & (F.col("f5") <= 2), "at_risk")
        .when((F.col("r5") >= 4) & (F.col("f5") >= 4), "hibernating")
        .otherwise("regular")
    )
    return scored.select(
        "custkey", "recency_days", "frequency", "monetary",
        "r5", "f5", "m5", seg.alias("segment"),
    )


_PROFILE_TABLES = {
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
             "p_retailprice"],
}


@query(
    "catalog_profile_columns",
    "\nUNION ALL\n".join(
        f"""SELECT '{t}' AS tbl, '{c}' AS col,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_nulls,
        CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM {t}"""
        for t, cols in _PROFILE_TABLES.items()
        for c in cols
    ),
)
def catalog_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-catalog column profiling (the crawler/profiler sweep that
    feeds discovery UIs and CBO stats): for every column of the three
    core dims/facts, row count, null count, and exact distinct count —
    the three numbers that decide joinability, key candidacy, and
    dictionary-encoding fitness.

    Scale shape: ONE pass per table computes every column's metrics in a
    single aggregate (count-distincts share the scan via expand), then
    the per-column rows are unpivoted from that one reduced row — 3
    scans total, versus the naive column-per-scan sweep the oracle
    spells out."""
    out = None
    for t, cols in _PROFILE_TABLES.items():
        df = load_table(spark, sf_dir, t)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in cols:
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"))
            aggs.append(F.count_distinct(F.col(c)).alias(f"__dist_{c}"))
        one = df.agg(*aggs)
        rows = one.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            F.lit(c).alias("col"),
                            F.col("__n").cast("bigint").alias("n_rows"),
                            F.col(f"__null_{c}").cast("bigint").alias("n_nulls"),
                            F.col(f"__dist_{c}").cast("bigint").alias("n_distinct"),
                        )
                        for c in cols
                    ]
                )
            ).alias("r")
        ).select("r.*")
        out = rows if out is None else out.unionByName(rows)
    return out


@query(
    "ivm_join_retract",
    """
    WITH a1 AS (
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 100 <> 7),
    b1 AS (SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem)
    SELECT a1.o_custkey AS custkey,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(SUM(qty) AS BIGINT) AS sum_qty
    FROM a1 JOIN b1 ON b1.l_orderkey = a1.o_orderkey
    GROUP BY a1.o_custkey
    """,
)
def ivm_join_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view under DELETES — the hard
    IVM case (`ivm_join_delta` handles inserts; `ivm_agg_retract`
    handles aggregate retraction; this composes both): the view
    V = agg(A ⋈ B) is maintained by the signed asymmetric delta rule

        ΔV = agg±(ΔA ⋈ B_old) + agg±(A_new ⋈ ΔB)

    (new-side × old-side avoids double-counting ΔA⋈ΔB), where deletes
    carry sign -1 through count/sum partials and zero-multiplicity keys
    drop. Scenario: the initial view joins all orders to their first
    three lineitems; then orders with key % 100 = 7 are DELETED and the
    remaining lineitems are INSERTED. The oracle recomputes the final
    join from scratch — hash equality proves maintenance == recompute.

    Scale shape: each delta term joins a DELTA against a stored side —
    cost O(|Δ| x match fan-out), never a re-join of A x B; the signed
    merge is map-side combinable."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        "l_linenumber",
    )
    a0 = o  # initial A: all orders
    b0 = li.filter(F.col("l_linenumber") <= 3).drop("l_linenumber")
    da = o.filter(F.col("o_orderkey") % 100 == 7).withColumn("sign", F.lit(-1))
    a1 = a0.join(
        da.select("o_orderkey"), "o_orderkey", "left_anti"
    )  # A after the delete
    db = (
        li.filter(F.col("l_linenumber") > 3)
        .drop("l_linenumber")
        .withColumn("sign", F.lit(1))
    )

    def signed_agg(pairs: DataFrame) -> DataFrame:
        return pairs.groupBy("o_custkey").agg(
            F.sum("sign").alias("n_pairs"),
            F.sum(F.col("sign") * F.col("qty")).alias("sum_qty"),
        )

    v0 = (
        a0.join(b0, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"), F.sum("qty").alias("sum_qty")
        )
    )
    d1 = signed_agg(
        da.join(b0, F.col("l_orderkey") == F.col("o_orderkey")).select(
            "o_custkey", "qty", "sign"
        )
    )
    d2 = signed_agg(
        a1.join(db, F.col("l_orderkey") == F.col("o_orderkey")).select(
            "o_custkey", "qty", "sign"
        )
    )
    v1 = (
        v0.unionByName(d1)
        .unionByName(d2)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_pairs").cast("bigint").alias("n_pairs"),
            F.sum("sum_qty").cast("bigint").alias("sum_qty"),
        )
        .filter(F.col("n_pairs") > 0)
    )
    return v1.select(F.col("o_custkey").alias("custkey"), "n_pairs", "sum_qty")


@query(
    "salted_distinct_users",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe COUNT DISTINCT: the two-stage salted plan for a hot
    group key — stage 1 dedups (key, salt, user) and counts per
    (key, salt) so the heavy key's state splits across `n_salts`
    reducers; stage 2 sums the per-salt counts (disjoint salts keep the
    sum exact). Same result as the direct `count(DISTINCT ...)` the
    oracle runs — the difference is physical: no single reducer ever
    holds a hot key's whole distinct set, the aggregation analogue of
    `salted_join`.

    Scale shape: two bounded shuffles; stage-1 state per task is
    |distinct users in that salt slice|."""
    ev = load_table(spark, sf_dir, "events")
    n_salts = 8
    stage1 = (
        ev.select(
            "event_type",
            (F.col("user_id") % n_salts).alias("salt"),
            "user_id",
        )
        .distinct()
        .groupBy("event_type", "salt")
        .agg(F.count(F.lit(1)).alias("n_part"))
    )
    return stage1.groupBy("event_type").agg(
        F.sum("n_part").cast("bigint").alias("n_users")
    )


@query(
    "l_diversity_audit",
    """
    WITH q AS (
      SELECT c_nationkey, c_mktsegment,
             count(*) AS grp_sz,
             count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
               AS n_sensitive
      FROM customer GROUP BY c_nationkey, c_mktsegment)
    SELECT 3 AS l,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_below_l,
           CAST(sum(CASE WHEN n_sensitive < 3 THEN grp_sz ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk,
           CAST(min(n_sensitive) AS BIGINT) AS min_diversity
    FROM q
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's necessary companion
    (`k_anonymity_audit`): a QI group can be large yet still leak if all
    its members share one SENSITIVE value (homogeneity attack). Per
    (nation, segment) group, the number of distinct sensitive values
    (account-balance bands as the sensitive attribute); groups with
    fewer than l = 3 distinct values are flagged with their row
    exposure.

    Scale shape: one grouped count-distinct over the QI grid; the audit
    folds that grid to one row."""
    c = load_table(spark, sf_dir, "customer")
    q = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("grp_sz"),
        F.count_distinct(
            F.floor(F.col("c_acctbal") / 1000).cast("bigint")
        ).alias("n_sensitive"),
    )
    return q.agg(
        F.lit(3).alias("l"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("n_sensitive") < 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_groups_below_l"),
        F.sum(F.when(F.col("n_sensitive") < 3, F.col("grp_sz")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
        F.min("n_sensitive").cast("bigint").alias("min_diversity"),
    )


@query(
    "rollup_cascade_monthly",
    """
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS
                  DECIMAL(18,2)) AS rev,
             count(*) AS n
      FROM lineitem GROUP BY 1)
    SELECT CAST(date_trunc('month', day) AS DATE) AS month,
           CAST(SUM(rev) AS DOUBLE) AS revenue,
           CAST(SUM(n) AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_days
    FROM daily GROUP BY 1
    """,
)
def rollup_cascade_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation-tree cascade: the monthly rollup is computed FROM THE
    DAILY ROLLUP (decimal partial sums re-aggregated), never from the
    fact — the materialized-aggregate-tree pattern where each level
    refreshes from the level below at |days|-scale cost while staying
    exactly equal to a from-scratch monthly aggregation (which is what
    the oracle's two-level SQL states). Decimal partials make the
    re-aggregation exact, so cascade == recompute bit-for-bit.

    Scale shape: the fact is touched once (daily agg, map-side
    combinable); every higher level runs on the tiny lower rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("rev"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        daily.groupBy(F.date_trunc("month", "day").cast("date").alias("month"))
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.sum("n").cast("bigint").alias("n_lines"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
    )


@query(
    "ab_test_purchase_rate",
    """
    WITH assign AS (
      SELECT user_id,
             CASE WHEN ('0x' || substring(md5('ab1' || '|' ||
                        CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant
      FROM (SELECT DISTINCT user_id FROM events)),
    conv AS (
      SELECT a.variant, a.user_id,
             max(CASE WHEN e.event_type = 'purchase' AND e.value >= 480
                      THEN 1 ELSE 0 END) AS converted
      FROM assign a JOIN events e ON e.user_id = a.user_id
      GROUP BY a.variant, a.user_id),
    per AS (
      SELECT variant, count(*) AS n, SUM(converted) AS c
      FROM conv GROUP BY variant),
    w AS (
      SELECT
        (SELECT n FROM per WHERE variant = 'A') AS na,
        (SELECT c FROM per WHERE variant = 'A') AS ca,
        (SELECT n FROM per WHERE variant = 'B') AS nb,
        (SELECT c FROM per WHERE variant = 'B') AS cb)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
           CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
           CAST(ca AS DOUBLE) / na AS rate_a,
           CAST(cb AS DOUBLE) / nb AS rate_b,
           (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
             / nullif(sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                    * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
                    * (CAST(1.0 AS DOUBLE) / na + CAST(1.0 AS DOUBLE) / nb)), 0)
             AS z_score
    FROM w
    """,
)
def ab_test_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users are assigned to variants by content
    hash (deterministic, re-run-stable — the same split discipline as
    `group_disjoint_split`), per-variant conversion = any purchase, and
    the two-proportion pooled z-score decides significance. Every input
    to the z formula is an integer count, and the formula is one fixed
    IEEE expression tree — bit-reproducible cross-engine.

    Scale shape: assignment is a narrow hash on the distinct-user
    relation; conversion is a user-keyed max; the z runs on a 2-row
    grid."""
    ev = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ab1"), F.lit("|"), F.col("user_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    assign = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id", F.when(h % 2 == 0, "A").otherwise("B").alias("variant")
        )
    )
    conv = (
        ev.join(F.broadcast(assign), "user_id")
        .groupBy("variant", "user_id")
        .agg(
            F.max(
                (
                    (F.col("event_type") == "purchase") & (F.col("value") >= 480)
                ).cast("int")
            ).alias("converted")
        )
    )
    per = conv.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("c")
    )
    a = per.filter(F.col("variant") == "A").select(
        F.col("n").alias("na"), F.col("c").alias("ca")
    )
    b = per.filter(F.col("variant") == "B").select(
        F.col("n").alias("nb"), F.col("c").alias("cb")
    )
    w = a.crossJoin(b)
    pool = (F.col("ca") + F.col("cb")).cast("double") / (F.col("na") + F.col("nb"))
    rate_a = F.col("ca").cast("double") / F.col("na")
    rate_b = F.col("cb").cast("double") / F.col("nb")
    # degenerate pools (rate 0 or 1 on both arms) zero the denominator:
    # NULL z, matching the oracle's nullif — not an ANSI runtime error.
    z = F.try_divide(
        rate_a - rate_b,
        F.sqrt(
            pool * (1 - pool) * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
        ),
    )
    return w.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("ca").cast("bigint").alias("conv_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("cb").cast("bigint").alias("conv_b"),
        rate_a.alias("rate_a"),
        rate_b.alias("rate_b"),
        z.alias("z_score"),
    )


@query(
    "search_tf_saturated",
    """
    WITH postings AS (
      SELECT doc_id, term, count(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents) GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*) AS len FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents) GROUP BY doc_id),
    stats AS (SELECT SUM(len) AS total_len, count(*) AS n_docs FROM dl),
    hits AS (
      SELECT p.doc_id, p.term, p.tf, d.len
      FROM postings p JOIN dl d ON p.doc_id = d.doc_id
      WHERE p.term IN ('data', 'spark')),
    scored AS (
      SELECT doc_id,
        SUM(CASE WHEN term = 'data' THEN
          (tf * CAST(2.2 AS DOUBLE)) / (tf + CAST(1.2 AS DOUBLE)
            * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
               * (len * (SELECT n_docs FROM stats)
                  / CAST((SELECT total_len FROM stats) AS DOUBLE))))
          ELSE 0 END) AS s1,
        SUM(CASE WHEN term = 'spark' THEN
          (tf * CAST(2.2 AS DOUBLE)) / (tf + CAST(1.2 AS DOUBLE)
            * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
               * (len * (SELECT n_docs FROM stats)
                  / CAST((SELECT total_len FROM stats) AS DOUBLE))))
          ELSE 0 END) AS s2,
        CAST(count(*) AS BIGINT) AS n_terms
      FROM hits GROUP BY doc_id)
    SELECT doc_id, n_terms, s1 + s2 AS score
    FROM scored
    ORDER BY s1 + s2 DESC, doc_id ASC
    LIMIT 15
    """,
)
def search_tf_saturated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked retrieval with BM25-style term-frequency saturation and
    length normalization: score(term) = tf·(k+1) / (tf + k·(1-b +
    b·dl/avgdl)) with k=1.2, b=0.75 — diminishing returns for repeated
    terms, penalty for long documents; the two query-term scores are
    computed as separate conditional sums and added in one fixed op
    (IDF's engine-specific ln() is deliberately left out so every score
    is a fixed IEEE expression tree over integer tf/dl — bit-exact
    cross-engine; IDF ordering is constant for a fixed query anyway).

    Scale shape: the postings/doc-length build is the `build_postings`
    shape (term IN (...) prunes to the query terms' lists); avgdl is a
    2-scalar broadcast; top-15 is a TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_text.tokens("text")).alias("term"))
    postings = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    stats = dl.agg(
        F.sum("len").alias("total_len"), F.count(F.lit(1)).alias("n_docs")
    )
    hits = (
        postings.filter(F.col("term").isin("data", "spark"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    norm = 0.25 + 0.75 * (
        F.col("len") * F.col("n_docs") / F.col("total_len").cast("double")
    )
    score = (F.col("tf") * 2.2) / (F.col("tf") + 1.2 * norm)
    scored = hits.groupBy("doc_id").agg(
        F.sum(F.when(F.col("term") == "data", score).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("term") == "spark", score).otherwise(0)).alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    )
    return (
        scored.select(
            "doc_id", "n_terms", (F.col("s1") + F.col("s2")).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(15)
    )


@query(
    "rate_limit_violations",
    """
    WITH counted AS (
      SELECT user_id, ts, event_id,
             count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                            RANGE BETWEEN 86400000000 PRECEDING
                                      AND CURRENT ROW) AS n_24h
      FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_violations,
           CAST(max(n_24h) AS BIGINT) AS worst_burst
    FROM counted WHERE n_24h > 5
    GROUP BY user_id
    """,
)
def rate_limit_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst / rate-limit audit: per user, events whose trailing
    24-hour window holds MORE than 5 requests — the sliding-window
    counter a quota enforcer applies, run retrospectively to find who
    would have been throttled and how hard (worst burst size). The
    trailing count is an event-time RANGE frame over integer epoch
    MICROSECONDS on both engines (an interval frame over truncated
    seconds would disagree with sub-second timestamps), so simultaneous
    events share one frame with no row-order ambiguity.

    Scale shape: one user-keyed shuffle; the range frame is one ordered
    pass per user. The streaming enforcement twin is the windowed count
    with watermark (`stream_window_agg` family)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-86400000000, 0)
    )
    counted = ev.select(
        "user_id", F.count(F.lit(1)).over(w).alias("n_24h")
    )
    return (
        counted.filter(F.col("n_24h") > 5)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_violations"),
            F.max("n_24h").cast("bigint").alias("worst_burst"),
        )
    )


def _modularity_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach(node, m) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.m),
    cl AS (SELECT node AS doc_id, min(m) AS cluster_id
           FROM reach GROUP BY node),
    mtot AS (SELECT count(*) AS m FROM pairs),
    ec AS (SELECT c.cluster_id, count(*) AS e_c
           FROM pairs p JOIN cl c ON p.doc_a = c.doc_id
           GROUP BY c.cluster_id),
    deg AS (SELECT u AS doc_id, count(*) AS d FROM edges GROUP BY u),
    dc AS (SELECT c.cluster_id, SUM(d.d) AS d_c
           FROM deg d JOIN cl c ON d.doc_id = c.doc_id
           GROUP BY c.cluster_id),
    terms AS (
      SELECT dc.cluster_id,
             4 * (SELECT m FROM mtot) * coalesce(ec.e_c, 0) - dc.d_c * dc.d_c
               AS t
      FROM dc LEFT JOIN ec ON dc.cluster_id = ec.cluster_id)
    SELECT CAST((SELECT m FROM mtot) AS BIGINT) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_components_with_edges,
           CAST(SUM(t) AS BIGINT) AS q_num,
           CAST(SUM(t) AS DOUBLE)
             / (4.0 * (SELECT m FROM mtot) * (SELECT m FROM mtot))
             AS modularity
    FROM terms
    """


@query("graph_modularity_clusters", None)
def graph_modularity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the duplicate-cluster partition over the LSH
    candidate graph: Q = Σ_c (e_c/m − (d_c/2m)²) — the standard
    partition-quality score, computed as the EXACT integer numerator
    Σ_c (4·m·e_c − d_c²) with ONE final divide by 4m² (a float Σ of
    per-cluster fractions would be fold-order-dependent). Since the
    partition IS the connected components of the same graph, every edge
    is intra-cluster; modularity then measures how far the components
    are from degree-random — near-zero/negative values flag a
    hairball (one giant component dominated by hub degrees, i.e. the
    banding threshold is too loose), high values clean well-separated
    duplicate groups. Clusters with edges enter the sum; isolated
    documents contribute zero terms.

    Scale shape: components come from the bounded fixpoint
    (`dedup.duplicate_clusters`); everything else is per-cluster integer
    aggregation on the |clusters| grid."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _dedup.lsh_candidate_pairs(docs, "doc_id", "text", 12, 3, 3)
    pairs = pairs.localCheckpoint(eager=True)
    cl = _dedup.duplicate_clusters(docs.select("doc_id"), pairs, "doc_id").select(
        "doc_id", F.col("cluster_id").cast("long").alias("cluster_id")
    )
    m = pairs.count()
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionByName(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    ).distinct()
    ec = (
        pairs.join(cl.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    deg = edges.groupBy(F.col("u").alias("doc_id")).agg(F.count(F.lit(1)).alias("d"))
    dc = (
        deg.join(cl, "doc_id")
        .groupBy("cluster_id")
        .agg(F.sum("d").alias("d_c"))
    )
    terms = dc.join(ec, "cluster_id", "left").select(
        (
            4 * F.lit(m) * F.coalesce(F.col("e_c"), F.lit(0))
            - F.col("d_c") * F.col("d_c")
        ).alias("t")
    )
    return terms.agg(
        F.lit(m).cast("bigint").alias("n_edges"),
        F.count(F.lit(1)).cast("bigint").alias("n_components_with_edges"),
        F.sum("t").cast("bigint").alias("q_num"),
        (F.sum("t").cast("double") / (4.0 * m * m)).alias("modularity"),
    )


ORACLE["graph_modularity_clusters"] = _modularity_oracle()


@query("dedup_savings_report", None)
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup business case in one row: corpus size before vs after
    cluster-survivor selection (near-dup clusters keep their min-id
    member), in documents and in bytes (n_chars), with the savings
    fraction — the number a curation run reports to justify its cost.

    Scale shape: clusters from the bounded fixpoint; the report is two
    aggregates over the docs relation joined to the survivor set."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _dedup.lsh_candidate_pairs(docs, "doc_id", "text", 12, 3, 3)
    cl = _dedup.duplicate_clusters(docs.select("doc_id"), pairs, "doc_id")
    joined = docs.join(cl, "doc_id").withColumn(
        "survivor", (F.col("cluster_id") == F.col("doc_id")).cast("int")
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("survivor").cast("bigint").alias("n_survivors"),
        F.sum("n_chars").cast("bigint").alias("total_bytes"),
        F.sum(F.col("survivor") * F.col("n_chars")).cast("bigint").alias(
            "survivor_bytes"
        ),
        (
            1
            - F.sum(F.col("survivor") * F.col("n_chars")).cast("double")
            / F.sum("n_chars")
        ).alias("bytes_saved_frac"),
    )


ORACLE["dedup_savings_report"] = f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach(node, m) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.m),
    cl AS (SELECT node AS doc_id, min(m) AS cluster_id
           FROM reach GROUP BY node)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d.doc_id = c.cluster_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_survivors,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_bytes,
           CAST(SUM(CASE WHEN d.doc_id = c.cluster_id THEN d.n_chars
                    ELSE 0 END) AS BIGINT) AS survivor_bytes,
           1 - CAST(SUM(CASE WHEN d.doc_id = c.cluster_id THEN d.n_chars
                    ELSE 0 END) AS DOUBLE) / SUM(d.n_chars)
             AS bytes_saved_frac
    FROM documents d JOIN cl c ON d.doc_id = c.doc_id
    """


# --------------------------------------------------------------------------
# Round 5: blocked edit-distance dedup/ER, integer-exact BM25 retrieval,
# robust (median/MAD) outlier profiling, and schema-evolving MERGE
# (closing the named Delta-parity gap).
# --------------------------------------------------------------------------


@query(
    "dedup_blocked_edit",
    """
    WITH base AS (
      SELECT doc_id, text, length(text) AS len,
             array_to_string(string_split(text, ' ')[1:4], ' ') AS head,
             length(text) // 32 AS band
      FROM documents),
    probe AS (
      SELECT doc_id, text, len, head, band, unnest([band, band + 1]) AS b
      FROM base),
    cand AS (
      SELECT DISTINCT least(p.doc_id, r.doc_id) AS doc_a,
             greatest(p.doc_id, r.doc_id) AS doc_b,
             p.text AS ta, r.text AS tb
      FROM probe p JOIN base r ON p.head = r.head AND p.b = r.band
      WHERE ((p.band < r.band)
             OR (p.band = r.band AND p.doc_id < r.doc_id))
        AND abs(p.len - r.len) <= 20)
    SELECT doc_a, doc_b,
           CAST(levenshtein(ta, tb) AS BIGINT) AS edit_dist
    FROM cand
    WHERE levenshtein(ta, tb) <= 20
    """,
)
def dedup_blocked_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs by blocked Levenshtein: candidates
    share (4-token head, adjacent length band) — sound for the edit budget
    since lev >= |len diff| — then exact edit-distance verification.
    Catches small in-place edits that shingle Jaccard dilutes; integer
    distances make the oracle exact. Block-bounded candidates, never
    corpus² (`operators/dedup.py blocked_edit_pairs`)."""
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.blocked_edit_pairs(docs, "doc_id", "text", max_dist=20, band=32)


@query(
    "er_blocked_match",
    """
    SELECT c_custkey, s_suppkey,
           CAST(levenshtein(c_name, s_name) AS BIGINT) AS edit_dist
    FROM customer JOIN supplier
      ON c_nationkey = s_nationkey
     AND substring(c_name, length(c_name) - 5, 6)
         = substring(s_name, length(s_name) - 5, 6)
    WHERE levenshtein(c_name, s_name) <= 5
    """,
)
def er_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution across two dimensions: customer and supplier
    records linked by blocked fuzzy match — equi-join on the blocking key
    (nation, last-6 chars of the entity name) bounds candidates, exact
    Levenshtein <= 5 verifies (the 5-substitution budget accepts the
    Customer#/Supplier# prefix swap and rejects any digit drift). The
    standard blocked-ER join shape: at 100 TB the block key is the shuffle
    key and no cross-block pair is ever materialized.

    Block width is part of the declared recall contract (the oracle
    blocks identically). Six suffix chars instead of three (an sf10
    lesson): a 3-char suffix has only 1000
    values, so block POPULATION — and with it the Levenshtein-verify
    candidate count, Σ block² — grows quadratically with corpus size;
    six digits keep candidate volume ~matches until the corpus outgrows 10^6
    suffixes per nation. Found pairs are identical on every fixture:
    the 5-edit budget is fully spent on the Customer#/Supplier# prefix
    swap, so every true match agrees on ALL key digits, not just 3."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    blocked = c.join(
        s,
        (F.col("c_nationkey") == F.col("s_nationkey"))
        & (
            F.expr("substring(c_name, length(c_name) - 5, 6)")
            == F.expr("substring(s_name, length(s_name) - 5, 6)")
        ),
    )
    return (
        blocked.withColumn("edit_dist", F.levenshtein("c_name", "s_name"))
        .filter(F.col("edit_dist") <= 5)
        .select(
            "c_custkey", "s_suppkey", F.col("edit_dist").cast("long").alias("edit_dist")
        )
    )


@query(
    "er_blocked_match_auto",
    """
    WITH p AS (
      SELECT greatest(1, least(6, length(CAST(
               greatest((SELECT (count(*) + 199) // 200 FROM customer), 1) - 1
             AS VARCHAR)))) AS l
    )
    SELECT c_custkey, s_suppkey,
           CAST(levenshtein(c_name, s_name) AS BIGINT) AS edit_dist,
           CAST(p.l AS INT) AS suffix_len
    FROM customer, supplier, p
    WHERE c_nationkey = s_nationkey
      AND substring(c_name, length(c_name) - p.l + 1, p.l)
          = substring(s_name, length(s_name) - p.l + 1, p.l)
      AND levenshtein(c_name, s_name) <= 5
    """,
)
def er_blocked_match_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`er_blocked_match` with the block width derived from corpus size
    instead of hand-tuned — the same self-sizing discipline as
    `similarity.auto_planes`, applied to ER blocking. Suffix length
    L = clamp(1, 6, decimal_digits(ceil(N/200) - 1)) keeps expected
    block population ~8 per (nation, suffix) block (25 nations x 10^L
    suffixes), so Σ |cust_block|x|supp_block| — the Levenshtein-verify
    candidate volume — stays linear in corpus size as N grows; a fixed
    width is either too coarse at scale (quadratic candidates) or wastes
    blocks at small N. Integer-exact derivation (ceil-div + decimal digit
    count, no float log10), re-derived by the oracle from count(*) and
    emitted as ``suffix_len`` so the sizing itself is hash-checked.

    FOUND PAIRS ARE WIDTH-INVARIANT, so auto-sizing is purely a
    performance knob: names are fixed-length 'Customer#%09d'/
    'Supplier#%09d', the 5-edit budget is fully consumed by the
    prefix swap, so every surviving pair agrees on ALL nine key digits —
    any suffix of those digits matches for any L. Narrower blocks only
    admit more candidates for the verifier to reject."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = c.count()  # control-plane scalar: sizes the blocking key
    q = max((n + 199) // 200, 1)
    width = max(1, min(6, len(str(q - 1))))

    def suffix(col: str) -> Column:
        return F.expr(f"substring({col}, length({col}) - {width - 1}, {width})")

    blocked = c.join(
        s,
        (F.col("c_nationkey") == F.col("s_nationkey"))
        & (suffix("c_name") == suffix("s_name")),
    )
    return (
        blocked.withColumn("edit_dist", F.levenshtein("c_name", "s_name"))
        .filter(F.col("edit_dist") <= 5)
        .select(
            "c_custkey",
            "s_suppkey",
            F.col("edit_dist").cast("long").alias("edit_dist"),
            F.lit(width).cast("int").alias("suffix_len"),
        )
    )


@query(
    "bm25_per_term_topk",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    consts AS (SELECT count(*) AS t, count(DISTINCT doc_id) AS n FROM toks),
    dfreq AS (SELECT token, count(*) AS df
              FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1),
    top_terms AS (SELECT token, df FROM dfreq
                  ORDER BY df DESC, token ASC LIMIT 10),
    scored AS (
      SELECT f.doc_id, f.token, f.tf, d.dl, tt.df,
             CAST(CAST(f.tf AS HUGEINT) * 10 * c.t * 1000000
                  // (10 * CAST(c.t AS HUGEINT) * f.tf
                      + 3 * CAST(c.t AS HUGEINT)
                      + 9 * CAST(d.dl AS HUGEINT) * c.n) AS BIGINT)
               AS bm25_micro
      FROM tf f JOIN top_terms tt USING (token)
           JOIN dl d USING (doc_id) CROSS JOIN consts c)
    SELECT token, doc_id, CAST(tf AS BIGINT) AS tf, CAST(dl AS BIGINT) AS dl,
           CAST(df AS BIGINT) AS df, bm25_micro, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (
            PARTITION BY token ORDER BY bm25_micro DESC, doc_id ASC) AS rnk
          FROM scored)
    WHERE rnk <= 5
    """,
)
def bm25_per_term_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 documents per high-df term under BM25 (k1=1.2, b=0.75) using
    an integer rank statistic — tf·10T·1e6 div (10T·tf + 3T + 9·dl·N) —
    that is order-equivalent to the float score for a fixed term (idf is
    constant per term; the saturation ratio is cross-multiplied into
    decimal(38,0)/HUGEINT). Zero floats anywhere => bit-exact oracle.
    Plan: two combinable aggs + vocabulary-sized broadcast joins + one
    WindowGroupLimit (`operators/text.py bm25_rank_per_term`)."""
    docs = load_table(spark, sf_dir, "documents")
    return _text.bm25_rank_per_term(docs, n_terms=10, k=5)


@query(
    "robust_outlier_profile",
    """
    WITH med AS (
      SELECT l_returnflag, l_linestatus,
             quantile_cont(l_extendedprice, 0.5) AS med
      FROM lineitem GROUP BY 1, 2),
    dev AS (
      SELECT l.l_returnflag, l.l_linestatus, m.med,
             abs(l.l_extendedprice - m.med) AS ad,
             l.l_extendedprice AS price
      FROM lineitem l JOIN med m USING (l_returnflag, l_linestatus)),
    mad AS (
      SELECT l_returnflag, l_linestatus, quantile_cont(ad, 0.5) AS mad
      FROM dev GROUP BY 1, 2)
    SELECT d.l_returnflag, d.l_linestatus, d.med, m.mad,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN d.ad > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m USING (l_returnflag, l_linestatus)
    GROUP BY 1, 2, 3, 4
    """,
)
def robust_outlier_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier census per (returnflag, linestatus): rows
    whose absolute deviation from the group median exceeds 3x the median
    absolute deviation — the outlier detector that, unlike z-scores, is not
    itself dragged by the outliers. Exact interpolated percentiles are
    bit-stable cross-engine (revenue_percentiles precedent); every
    subsequent step is single IEEE ops on identical doubles.
    Plan: two grouped exact percentiles + one broadcast-sized join back
    (group cardinality is tiny); the row scan stays pruned to 4 columns."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    # One corpus pass (r11, guide §8 "decide with small rows"): the row
    # scan collapses to a (group, price) -> count HISTOGRAM — one
    # map-side-combined shuffle, bounded by the price DOMAIN, not the row
    # count — and median, MAD, and the outlier census are all derived
    # from the histogram via frequency-weighted exact percentiles
    # (percentile(x, 0.5, cnt) builds the same value->count state the
    # row-fed aggregate builds, so the interpolated result is
    # bit-identical; verified equal at sf0.001/0.01/0.1). The previous
    # shape scanned lineitem once per stage (med, mad, census) — 3 full
    # passes with corpus-sized shuffles.
    hist = (
        li.groupBy("l_returnflag", "l_linestatus", "l_extendedprice")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    med = hist.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr("percentile(l_extendedprice, 0.5D, cnt)").alias("med")
    )
    dev = hist.join(F.broadcast(med), ["l_returnflag", "l_linestatus"]).withColumn(
        "ad", F.abs(F.col("l_extendedprice") - F.col("med"))
    )
    mad = dev.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr("percentile(ad, 0.5D, cnt)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), ["l_returnflag", "l_linestatus"])
        .groupBy("l_returnflag", "l_linestatus", "med", "mad")
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.sum(
                F.when(F.col("ad") > 3 * F.col("mad"), F.col("cnt")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


@query(
    "scd1_upsert_evolving",
    """
    WITH dim AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
    upd AS (
      SELECT c_custkey, c_name || ' v2' AS c_name, c_acctbal,
             CASE WHEN c_acctbal > 5000 THEN 'gold' ELSE 'std' END
               AS loyalty_tier
      FROM customer WHERE c_custkey % 10 = 0)
    SELECT d.c_custkey, d.c_name, d.c_acctbal,
           CAST(NULL AS VARCHAR) AS loyalty_tier
    FROM dim d ANTI JOIN upd u ON d.c_custkey = u.c_custkey
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, loyalty_tier FROM upd
    """,
)
def scd1_upsert_evolving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 MERGE where the source batch EVOLVED the schema (grew a
    loyalty_tier column the dim lacks): the merge null-fills the new
    column for untouched rows instead of failing — Delta's
    mergeSchema/autoMerge behavior, previously a named parity gap of the
    join-emulated merge. Same anti-join + unionByName plan as the fixed
    -schema merge; evolution is plan-time metadata only
    (`operators/scd.py upsert_scd1_evolving`)."""
    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select("c_custkey", "c_name", "c_acctbal")
    upd = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit(" v2")).alias("c_name"),
        "c_acctbal",
        F.when(F.col("c_acctbal") > 5000, F.lit("gold"))
        .otherwise(F.lit("std"))
        .alias("loyalty_tier"),
    )
    return scd.upsert_scd1_evolving(dim, upd, ["c_custkey"])


@query(
    "multi_table_txn_snapshot",
    """
    WITH f AS (SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1),
    s AS (SELECT count(*) AS n_statuses, CAST(SUM(n) AS BIGINT) AS n_orders
          FROM f)
    SELECT CAST(1 AS INT) AS txn,
           CAST((SELECT count(*) FROM f) AS BIGINT) AS fact_rows,
           CAST((SELECT n_orders FROM s) AS BIGINT) AS summary_total
    UNION ALL
    SELECT 2,
           (SELECT count(*) FROM f WHERE o_orderstatus <> 'F'),
           (SELECT CAST(SUM(n) AS BIGINT) FROM f WHERE o_orderstatus <> 'F')
    """,
)
def multi_table_txn_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table ACID transactions made driver-visible (closing the
    Delta-parity gap the join-emulated single-table sink left open): two
    transactions each atomically replace a fact table AND its summary
    rollup; reads at each txn id must see the fact/summary pair from ONE
    manifest — never fact@2 with summary@1. Commit point is a single
    put-if-absent manifest link; per-table version dirs are invisible
    until the manifest lands (`sources/transactions.py`). The log is
    compacted mid-test (checkpoint + manifest pruning) to prove reads
    survive compaction."""
    from incremental_data_pipeline_spark.sources import transactions as tx

    root = os.path.join(scratch_dir("txn_snap_"), "root")
    orders = load_table(spark, sf_dir, "orders")
    fact1 = orders.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    sum1 = fact1.agg(
        F.count(F.lit(1)).alias("n_statuses"),
        F.sum("n").cast("long").alias("n_orders"),
    )
    tx.multi_table_transaction(root, {"fact": fact1, "summary": sum1})
    fact2 = fact1.filter(F.col("o_orderstatus") != "F")
    sum2 = fact2.agg(
        F.count(F.lit(1)).alias("n_statuses"),
        F.sum("n").cast("long").alias("n_orders"),
    )
    tx.multi_table_transaction(root, {"fact": fact2, "summary": sum2})
    tx.compact_txn_log(root, keep_tail=2)  # reads below cross the checkpoint
    out = None
    for t in (1, 2):
        row = (
            tx.read_txn_table(spark, root, "fact", txn=t)
            .agg(F.count(F.lit(1)).alias("fact_rows"))
            .crossJoin(
                tx.read_txn_table(spark, root, "summary", txn=t).select(
                    F.col("n_orders").alias("summary_total")
                )
            )
            .select(
                F.lit(t).cast("int").alias("txn"),
                F.col("fact_rows").cast("long").alias("fact_rows"),
                "summary_total",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "local_supplier_volume",
    """
    SELECT n_name,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
           AS DOUBLE) AS revenue,
      CAST(count(*) AS BIGINT) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= DATE '1996-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name ASC
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with the LOCAL-supplier correlation
    (c_nationkey = s_nationkey rides on the lineitem-supplier join, so the
    join graph is cyclic, not a pure star) — the canonical join-reordering
    and broadcast-selection stress. Catalyst broadcasts the three dim
    tables (supplier/nation/region) and keeps one shuffle pair for the
    orders⋈lineitem fact join; the date filter pushes to the orders scan.
    Decimal partial sums keep the revenue bit-stable cross-engine."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("date")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        j.groupBy("n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


@query(
    "ann_ivf_index_persisted",
    _ivf_oracle(nlist=8, nprobe=2, k=3, q_lo=40, q_hi=60),
)
def ann_ivf_index_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF as a PERSISTED index (build once / upsert incrementally / probe
    many — the ANN serving shape): 80% of the corpus is built into a
    cell-partitioned parquet index, the remaining 20% is upserted WITHOUT
    a rebuild (a merge that replaces only the touched cell partitions), and
    the probe reads ONLY the probed cells via partition pruning. The final
    index holds the whole corpus, so the oracle is the standard IVF twin
    on a fresh query window — proving build+upsert+probe end-to-end equals
    single-shot assignment (`operators/similarity.py ivf_index_*`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    codebook = _cached_codebook(emb, sf_dir, 8, "prefix")
    path = os.path.join(scratch_dir("ivf_index_"), "index")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    late = emb.filter(F.col("vec_id") % 5 == 4)
    _sim.ivf_index_build(base, codebook, path)
    _sim.ivf_index_upsert(spark, late, codebook, path)
    queries_df = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60))
    return _sim.ivf_index_probe(spark, path, queries_df, codebook, k=3, nprobe=2)


def _ivf_recall_oracle(nlist: int = 8, nprobe: int = 2, k: int = 3) -> str:
    cos_cv = (
        f"CAST({_dot('cv', 'ce')} AS DOUBLE) / "
        f"(sqrt(CAST({_dot('cv', 'cv')} AS DOUBLE)) * sqrt(CAST({_dot('ce', 'ce')} AS DOUBLE)))"
    )
    cos_qc = (
        f"CAST({_dot('qv', 'ce')} AS DOUBLE) / "
        f"(sqrt(CAST({_dot('qv', 'qv')} AS DOUBLE)) * sqrt(CAST({_dot('ce', 'ce')} AS DOUBLE)))"
    )
    return f"""
    WITH vecs AS (SELECT vec_id, {_QV2} AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM vecs
          WHERE vec_id >= 20 AND vec_id < 40),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT)
            AS rank
        FROM (
          SELECT query_id, c.vec_id AS neighbor_id, {_COSINE_SQL} AS cosine
          FROM vecs c CROSS JOIN q
          CROSS JOIN LATERAL (SELECT c.v AS cv) t
          WHERE c.vec_id != query_id))
      WHERE rank <= {k}),
    cents AS (SELECT vec_id AS cid, v AS ce FROM vecs WHERE vec_id < {nlist}),
    assign AS (
      SELECT vec_id AS neighbor_id, v AS cv, cid,
        row_number() OVER (PARTITION BY vec_id ORDER BY {cos_cv} DESC, cid ASC) AS rnk
      FROM vecs CROSS JOIN cents),
    cells AS (SELECT neighbor_id, cv, cid AS cell FROM assign WHERE rnk = 1),
    qassign AS (
      SELECT query_id, qv, cid,
        row_number() OVER (PARTITION BY query_id ORDER BY {cos_qc} DESC, cid ASC) AS rnk
      FROM (SELECT query_id, qv AS v, qv FROM q) CROSS JOIN cents),
    probes AS (SELECT query_id, qv, cid AS cell FROM qassign WHERE rnk <= {nprobe}),
    ivfr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT)
            AS rank
        FROM (
          SELECT query_id, neighbor_id,
            CAST({_dot('qv', 'cv')} AS DOUBLE) /
            (sqrt(CAST({_dot('qv', 'qv')} AS DOUBLE)) * sqrt(CAST({_dot('cv', 'cv')} AS DOUBLE))) AS cosine
          FROM cells JOIN probes USING (cell)
          WHERE neighbor_id != query_id))
      WHERE rank <= {k}),
    hits AS (SELECT e.query_id, e.neighbor_id
             FROM exact e JOIN ivfr l
               ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id)
    SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
           CAST((SELECT count(*) FROM hits) AS DOUBLE)
             / (SELECT count(*) FROM exact) AS recall
    """


@query("ann_ivf_recall", _ivf_recall_oracle(nlist=8, nprobe=2, k=3))
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall of the IVF ANN path against exact brute force —
    the accuracy audit `ann_lsh_recall` provides for LSH, now for the
    cell-probe family too (every production IVF deployment tunes nprobe
    against exactly this curve). Both engines rebuild both rankings and
    must agree on the hit set AND the ratio; the probe set is the
    20-query window the IVF queries use."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40))
    exact = _sim.brute_force_topk(emb, queries, k=3).select(
        "query_id", "neighbor_id"
    )
    codebook = _cached_codebook(emb, sf_dir, 8, "prefix")
    ivf = _sim.ivf_topk(emb, queries, codebook, k=3, nprobe=2).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(ivf, ["query_id", "neighbor_id"], "left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_hits = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return n_exact.crossJoin(n_hits).select(
        "n_exact",
        "n_hits",
        (F.col("n_hits").cast("double") / F.col("n_exact").cast("double")).alias(
            "recall"
        ),
    )


@query(
    "stream_ivf_index_upsert",
    _ivf_oracle(nlist=8, nprobe=2, k=3, q_lo=60, q_hi=80),
)
def stream_ivf_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN index maintenance: embeddings arrive as 3 ordered
    micro-batches and each batch is upserted into the persisted IVF index
    through the exactly-once epoch ledger (replayed epochs skip; the
    upsert itself is also idempotent — belt and suspenders). After the
    stream drains, a probe of the streamed index must equal single-shot
    IVF assignment over the whole corpus — the oracle is the standard IVF
    twin on a fresh query window. This is the online half of
    `ann_ivf_index_persisted`: a crawler continuously feeding a vector
    index without rebuilds.

    Scale shape: per batch, assignment is a narrow map over the BATCH and
    the merge touches only that batch's cells — cost scales
    with the increment, never the index."""
    base = scratch_dir("stream_ivf_idx_")
    src = os.path.join(base, "src")
    idx = os.path.join(base, "index")
    emb = load_table(spark, sf_dir, "embeddings")
    codebook = _cached_codebook(emb, sf_dir, 8, "prefix")
    # 3 ordered single-file chunks -> 3 micro-batches
    os.makedirs(src)
    import glob as _glob
    import shutil as _shutil

    # chunk by id residue, NOT contiguous id ranges: fixture ids are only
    # contiguous at driver scale — the scale fixtures offset replica ids,
    # so [0, n/3) ranges would silently stream a SUBSET of the corpus
    # (caught by the sf1 headline mirror). Residues partition ANY id set.
    # One write job for all three chunks (r10: was three coalesce(1)
    # jobs): partition by the residue, then move each part file into the
    # drop dir. Batch ORDER is not load-bearing: FileStreamSource sorts
    # by modification time only (local-FS listing breaks equal-mtime ties
    # arbitrarily), and the per-batch upserts COMMUTE — disjoint id
    # residues touch disjoint row sets — so any delivery order converges
    # on the same index (r10 advice: the contract rests on commutativity,
    # not on a path tie-break).
    tmp = os.path.join(base, "__chunks__")
    (
        emb.withColumn("chunk", F.pmod(F.col("vec_id"), F.lit(3)))
        .repartition(F.col("chunk"))
        .write.partitionBy("chunk")
        .parquet(tmp)
    )
    for i in range(3):
        # An empty residue class writes no chunk=i directory (dynamic
        # writes emit only non-empty partitions); fail with the actual
        # invariant instead of glob()[0]'s opaque IndexError (r10 advice).
        parts = _glob.glob(os.path.join(tmp, f"chunk={i}", "part-*.parquet"))
        if not parts:
            raise RuntimeError(
                f"stream_ivf_index_upsert: id-residue chunk {i} is empty — "
                "the fixture must populate all 3 residue classes"
            )
        os.rename(parts[0], os.path.join(src, f"chunk{i}.parquet"))
    _shutil.rmtree(tmp)

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def apply_batch(batch: DataFrame, _epoch: int) -> None:
        _sim.ivf_index_upsert(spark, batch, codebook, idx)

    _stream.foreach_batch_exactly_once(
        stream,
        apply_batch,
        os.path.join(base, "ckpt"),
        os.path.join(base, "ledger"),
    )
    queries_df = emb.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 80))
    return _sim.ivf_index_probe(spark, idx, queries_df, codebook, k=3, nprobe=2)


@query(
    "ann_ivf_index_moves_audit",
    f"""
    WITH vecs AS (SELECT vec_id, {_QV2} AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS ce FROM vecs WHERE vec_id < 8),
    updated AS (
      SELECT a.vec_id, coalesce(b.v, a.v) AS v
      FROM vecs a LEFT JOIN (
        SELECT vec_id - 50 AS vec_id, v FROM vecs
        WHERE vec_id >= 90 AND vec_id < 100) b ON a.vec_id = b.vec_id),
    assign AS (
      SELECT vec_id, cid,
        row_number() OVER (PARTITION BY vec_id ORDER BY
          CAST({_dot('v', 'ce')} AS DOUBLE) /
          (sqrt(CAST({_dot('v', 'v')} AS DOUBLE)) *
           sqrt(CAST({_dot('ce', 'ce')} AS DOUBLE))) DESC, cid ASC) AS rnk
      FROM updated CROSS JOIN cents)
    SELECT vec_id, CAST(cid AS INT) AS cell FROM assign WHERE rnk = 1
    """,
)
def ann_ivf_index_moves_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-with-cell-move through the persisted IVF index, audited as a
    FULL index dump: the whole corpus is built into the index, then ids
    [40,50) are UPDATED with the embeddings of ids [90,100) (donors in
    other cells, so some updates genuinely cross cells) via
    ``ivf_index_upsert(allow_moves=True)``. The query returns every
    (vec_id, cell) row in the index; the oracle re-derives the assignment
    of the UPDATED corpus from scratch. A stale copy surviving in a moved
    id's old cell is an extra row (rows mismatch); a missed eviction of an
    emptied cell or a wrong destination flips the value hash — this pins
    the `allow_moves` contract end-to-end, including a cell the update
    empties (`operators/similarity.py ivf_index_upsert`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    codebook = _cached_codebook(emb, sf_dir, 8, "prefix")
    path = os.path.join(scratch_dir("ivf_moves_"), "index")
    _sim.ivf_index_build(emb, codebook, path)
    moved = emb.filter((F.col("vec_id") >= 90) & (F.col("vec_id") < 100)).select(
        (F.col("vec_id") - 50).alias("vec_id"), "embedding"
    )
    _sim.ivf_index_upsert(spark, moved, codebook, path, allow_moves=True)
    return read_table(spark, path).select(
        F.col("vec_id"), F.col("cell").cast("int").alias("cell")
    )


@query(
    "dedup_span_removal",
    """
    WITH toks AS (
      SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id, i AS s,
             md5(array_to_string(
               t[CAST(i AS INTEGER):CAST(i + 9 AS INTEGER)], ' ')) AS h
      FROM toks, unnest(generate_series(1, len(t) - 9)) AS g(i)),
    dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
    dstart AS (SELECT g.doc_id, g.s FROM grams g JOIN dup USING (h)),
    covered AS (
      SELECT DISTINCT doc_id, s + o AS j
      FROM dstart, unnest(generate_series(0, 9)) AS gg(o)),
    nrem AS (SELECT doc_id, count(*) AS n_removed FROM covered GROUP BY doc_id),
    pos AS (
      SELECT tk.doc_id, i AS j, t[CAST(i AS INTEGER)] AS w
      FROM toks tk JOIN nrem USING (doc_id),
           unnest(generate_series(1, len(t))) AS g(i)),
    surv AS (
      SELECT p.doc_id, p.j, p.w FROM pos p ANTI JOIN covered USING (doc_id, j)),
    rebuilt AS (
      SELECT doc_id, string_agg(w, ' ' ORDER BY j) AS ct
      FROM surv GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(len(d.t) AS BIGINT) AS n_tokens,
           CAST(coalesce(nrem.n_removed, 0) AS BIGINT) AS n_removed,
           CASE WHEN nrem.doc_id IS NULL THEN d.text
                ELSE coalesce(r.ct, '') END AS clean_text
    FROM toks d
    LEFT JOIN nrem USING (doc_id)
    LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup with REMOVAL semantics: every sliding
    10-token window that occurs >= 2 times corpus-wide is cut out of
    every document and the surviving text is rebuilt in order — the
    Lee-et-al.-2022 training-data curation step that document-level
    dedup (`dedup_exact`, `dedup_minhash_lsh`) and the span keep/drop
    signal (`dedup_cross_doc_spans`) cannot express. The oracle
    reproduces the rebuilt text bit-for-bit, so the hash gate checks the
    actual surviving passages, not just the counts.

    Scale shape: see `operators/dedup.py:repeated_span_removal` — one
    count shuffle on window md5s; the explode/rebuild path is gated to
    documents that actually contain duplicated spans."""
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.repeated_span_removal(docs, "doc_id", "text", k=10, min_count=2)


# --------------------------------------------------------------------------
# Round-7 additions: dyadic rank sketch, incremental clustering, IVM max
# under deletes
# --------------------------------------------------------------------------

_RANK_PROBES = [500, 1000, 2500, 5000, 10000, 15000, 20000, 30000, 45000, 60000]
_RANK_LEVELS = 17  # events.value cents < 2^17 at every SF (max ~56k)
_RANK_WIDTH = 2048
_RANK_DEPTH = 3


def _dyadic_cell_sql(j: int, width: int) -> str:
    # md5 windows over the "l|node" key string — the exact twin of
    # sketches._cms_cells(["l", "node"], ...).
    key = "CAST(l AS VARCHAR) || '|' || CAST(node AS VARCHAR)"
    return f"('0x' || substring(md5({key}), {1 + 8 * j}, 8))::BIGINT % {width}"


def _rank_sketch_oracle(
    probes: list[int] = _RANK_PROBES,
    levels: int = _RANK_LEVELS,
    width: int = _RANK_WIDTH,
    depth: int = _RANK_DEPTH,
) -> str:
    cell_cols = ", ".join(f"{_dyadic_cell_sql(j, width)} AS c{j}" for j in range(depth))
    counter_ctes = ",\n    ".join(
        f"counters{j} AS (SELECT c{j} AS cell, sum(n) AS n FROM h GROUP BY c{j})"
        for j in range(depth)
    )
    least = ", ".join(f"coalesce(x{j}.n, 0)" for j in range(depth))
    joins = " ".join(
        f"LEFT JOIN counters{j} x{j} ON t.c{j} = x{j}.cell" for j in range(depth)
    )
    probe_rows = ", ".join(f"({q})" for q in probes)
    return f"""
    WITH vals AS (
      SELECT least(greatest(CAST(round(value * 100) AS BIGINT), 0),
                   {2**levels - 1}) AS v
      FROM events),
    v0 AS (SELECT v, count(*) AS n FROM vals GROUP BY v),
    lv AS (SELECT CAST(range AS INTEGER) AS l FROM range(0, {levels})),
    nodes AS (SELECT l, v >> l AS node, sum(n) AS n
              FROM v0 CROSS JOIN lv GROUP BY 1, 2),
    h AS (SELECT l, node, n, {cell_cols} FROM nodes),
    {counter_ctes},
    probes AS (SELECT CAST(q AS BIGINT) AS q FROM (VALUES {probe_rows}) p(q)),
    cover AS (
      SELECT q, l, 2 * (q >> (l + 1)) AS node
      FROM probes CROSS JOIN lv WHERE ((q >> l) & 1) = 1),
    cc AS (SELECT q, l, node, {cell_cols} FROM cover),
    est AS (
      SELECT q, sum(least({least})) AS rank_est
      FROM cc t {joins} GROUP BY q),
    exact AS (
      SELECT p.q,
             (SELECT coalesce(sum(n), 0) FROM v0 WHERE v < p.q) AS exact_rank
      FROM probes p)
    SELECT e.q AS probe_cents,
           CAST(e.exact_rank AS BIGINT) AS exact_rank,
           CAST(s.rank_est AS BIGINT) AS rank_est,
           CAST(s.rank_est - e.exact_rank AS BIGINT) AS overcount
    FROM exact e JOIN est s ON e.q = s.q
    """


@query("rank_sketch_dyadic", _rank_sketch_oracle())
def rank_sketch_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate RANK/quantile queries from a dyadic count-min sketch
    [Cormode & Muthukrishnan 2005 §4.2]: event values (cents, clamped to
    [0, 2^17)) are summarized once into a ≤ depth×width counter table
    over dyadic intervals; each probe threshold's rank is answered by at
    most 17 CMS point queries over its prefix cover — percentiles from a
    fixed-size MERGEABLE summary, the piece CMS point queries
    (`cms_heavy_hitters`) and exact percentiles (`revenue_percentiles`)
    both lack. The oracle rebuilds identical counters from the same md5
    cell hashes, so sketch construction, the dyadic decomposition, AND
    the sum-of-mins estimator are hash-checked cross-engine; `overcount`
    is the sketch error (never negative — CMS never undercounts).

    Scale shape: one map-side-combined groupBy collapses rows to exact
    value counts (bounded by the 2^17 domain, not the row count); the
    dyadic tree and counters are domain-bounded; estimation joins the
    broadcast counter table against a driver-built constant cover. At
    100 TB the only full-data touch is the first groupBy; counters from
    concurrent batches merge by summing cells."""
    from incremental_data_pipeline_spark.operators import sketches as _sk

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    vals = ev.select(
        F.least(
            F.greatest(cents, F.lit(0)), F.lit(2**_RANK_LEVELS - 1)
        ).alias("v")
    )
    counters = _sk.dyadic_cms_counters(
        vals, "v", _RANK_LEVELS, _RANK_WIDTH, _RANK_DEPTH
    )
    est = _sk.dyadic_rank_estimate(
        spark,
        counters,
        _RANK_PROBES,
        _RANK_LEVELS,
        _RANK_WIDTH,
        _RANK_DEPTH,
        probe_alias="probe_cents",
    )
    exact_wide = vals.agg(
        *[
            F.sum((F.col("v") < q).cast("long")).alias(f"e{q}")
            for q in _RANK_PROBES
        ]
    )
    exact = exact_wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).cast("long").alias("probe_cents"),
                        F.coalesce(F.col(f"e{q}"), F.lit(0)).alias("exact_rank"),
                    )
                    for q in _RANK_PROBES
                ]
            )
        ).alias("s")
    ).select("s.probe_cents", "s.exact_rank")
    return exact.join(est, "probe_cents").select(
        "probe_cents",
        F.col("exact_rank").cast("bigint").alias("exact_rank"),
        F.col("rank_est").cast("bigint").alias("rank_est"),
        (F.col("rank_est") - F.col("exact_rank")).cast("bigint").alias("overcount"),
    )


@query(
    "dedup_clusters_incremental",
    None,  # oracle injected below: the FULL-graph recursive-CTE clustering
)
def dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental duplicate clustering: the stored corpus (doc_id % 5
    != 4) already carries component labels; a new crawl batch (doc_id %
    5 == 4) arrives, its LSH candidate pairs are generated ONLY against
    batch docs (`incremental_lsh_pairs` — never re-pairing the stored
    corpus against itself), and `dedup.incremental_components` folds
    them in by contracting edges onto stored labels and running the
    fixpoint on the batch-sized quotient graph. The oracle recomputes
    clustering OVER THE FULL GRAPH from scratch (the same recursive CTE
    as `dedup_clusters`), so the hash proves the incremental path lands
    bit-identically on the from-scratch fixpoint — labels, merges,
    min-id canonicalization and all.

    Scale shape: per batch, one signature pass over new docs + a bucket
    join sized by the batch's occupancy + a fixpoint on ≤ |delta| 
    contracted edges; the 100 TB corpus contributes one stored-label
    lookup join and is never re-paired."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    batch = docs.filter(F.col("doc_id") % 5 == 4)
    corpus_pairs = _dedup.lsh_candidate_pairs(corpus, "doc_id", "text", 12, 3, 3)
    stored = _dedup.duplicate_clusters(
        corpus.select("doc_id"), corpus_pairs, "doc_id"
    )
    delta = _dedup.incremental_lsh_pairs(corpus, batch, "doc_id", "text", 12, 3, 3)
    res = _dedup.incremental_components(stored, delta, batch.select("doc_id"))
    return res.select(
        "doc_id", F.col("cluster_id").cast("long").alias("cluster_id")
    )


ORACLE["dedup_clusters_incremental"] = _clusters_oracle()


@query(
    "ivm_max_rescan",
    """
    WITH dels AS (
      SELECT o_custkey, max(o_totalprice) AS del_max
      FROM orders WHERE o_orderkey % 53 = 0 GROUP BY o_custkey),
    cur AS (
      SELECT o_custkey, max(o_totalprice) AS cur_max
      FROM orders GROUP BY o_custkey)
    SELECT k.o_custkey,
           CAST(max(k.o_totalprice) AS DOUBLE) AS max_price,
           coalesce(d.del_max = c.cur_max, FALSE) AS rescanned
    FROM orders k
    JOIN cur c ON k.o_custkey = c.o_custkey
    LEFT JOIN dels d ON k.o_custkey = d.o_custkey
    WHERE k.o_orderkey % 53 != 0
    GROUP BY k.o_custkey, c.cur_max, d.del_max
    """,
)
def ivm_max_rescan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MAX maintenance under DELETES — the retraction case
    signed partials (`ivm_agg_retract`) cannot express, because MAX is
    not invertible: deleting the max reveals nothing about the
    runner-up. `cdc.max_rescan_under_deletes` re-derives only the groups
    whose maximum was actually deleted (del_max == stored max) via a
    semi-join-pruned rescan; every other group's stored max is provably
    still valid and is served from the view untouched. The `rescanned`
    flag exposes the scoping decision itself, and the oracle re-derives
    both the post-delete maxima AND that flag, so a wrong rescan scope
    (missed group, spurious rescan) flips the hash gate even when the
    final values happen to coincide.

    Scale shape: the delete batch collapses map-side to per-key del-max
    partials; the stored view shuffles |keys| rows; the rescan reads
    only affected keys' rows (left-semi prune, broadcast when the batch
    is small). Groups deleted in full drop out of the view."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    res = cdc.max_rescan_under_deletes(
        o,
        F.col("o_orderkey") % 53 == 0,
        ["o_custkey"],
        "o_totalprice",
        out_col="max_price",
        flag_col="rescanned",
    )
    return res.select(
        "o_custkey", F.col("max_price").cast("double").alias("max_price"), "rescanned"
    )


@query("stream_rank_sketch", _rank_sketch_oracle())
def stream_rank_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dyadic rank sketch maintained as a STREAM: events arrive in
    micro-batches (maxFilesPerTrigger=1 over a 4-way split of the
    fixture), each batch's counters fold into the persisted sketch by
    SUMMING cells — the mergeability `dyadic_cms_counters` advertises,
    exercised across real micro-batch boundaries and then hash-checked:
    the oracle is the one-shot batch sketch (`rank_sketch_dyadic`'s), so
    merged-across-batches must land bit-identically on
    built-in-one-pass, for the counters AND the rank estimates derived
    from them. Replays (at-least-once file source) are skipped via the
    ``sinks.fold_into`` epoch committed atomically with the counter swap,
    since summing is not idempotent.

    Scale shape: per micro-batch, one map-side-combined groupBy over the
    batch only plus a ≤ depth×width counter merge; history is never
    rescanned — the always-on analytics-store pattern for streaming
    percentile dashboards."""
    from incremental_data_pipeline_spark.operators import sketches as _sk

    base = scratch_dir("stream_ranksk_")
    src_dir = os.path.join(base, "events_split")

    ev = load_table(spark, sf_dir, "events")
    # 4-way hash split so the file stream genuinely produces multiple
    # micro-batches; cell sums are associative-commutative, so ANY split
    # merges to the identical counter table.
    ev.repartition(4, "user_id").write.mode("overwrite").parquet(src_dir)

    def clamped(df: DataFrame) -> DataFrame:
        cents = F.round(F.col("value") * 100).cast("bigint")
        return df.select(
            F.least(
                F.greatest(cents, F.lit(0)), F.lit(2**_RANK_LEVELS - 1)
            ).alias("v")
        )

    def step(batch: DataFrame, counters: DataFrame | None) -> DataFrame:
        bc = _sk.dyadic_cms_counters(
            clamped(batch), "v", _RANK_LEVELS, _RANK_WIDTH, _RANK_DEPTH
        )
        if counters is None:
            return bc
        return (
            counters.unionByName(bc)
            .groupBy("d", "cell")
            .agg(F.sum("n").cast("long").alias("n"))
        )

    raw_schema = read_table(spark, src_dir).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    counters = _stream.fold_stream(
        stream, os.path.join(base, "counters"), step, os.path.join(base, "ckpt")
    )
    est = _sk.dyadic_rank_estimate(
        spark,
        counters,
        _RANK_PROBES,
        _RANK_LEVELS,
        _RANK_WIDTH,
        _RANK_DEPTH,
        probe_alias="probe_cents",
    )
    exact_wide = clamped(ev).agg(
        *[
            F.sum((F.col("v") < q).cast("long")).alias(f"e{q}")
            for q in _RANK_PROBES
        ]
    )
    exact = exact_wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).cast("long").alias("probe_cents"),
                        F.coalesce(F.col(f"e{q}"), F.lit(0)).alias("exact_rank"),
                    )
                    for q in _RANK_PROBES
                ]
            )
        ).alias("s")
    ).select("s.probe_cents", "s.exact_rank")
    return exact.join(est, "probe_cents").select(
        "probe_cents",
        F.col("exact_rank").cast("bigint").alias("exact_rank"),
        F.col("rank_est").cast("bigint").alias("rank_est"),
        (F.col("rank_est") - F.col("exact_rank")).cast("bigint").alias("overcount"),
    )


@query(
    "hll_registers_users",
    _sketches.hll_registers_sql(
        "SELECT user_id FROM events WHERE user_id IS NOT NULL", "user_id", p=10
    ),
)
def hll_registers_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table (p=10, 1024 buckets) over distinct
    event users [Flajolet et al. 2007]. Spark ships HLL++ as
    ``approx_count_distinct``, but its registers are private; this sketch
    is rebuilt bit-for-bit by the DuckDB oracle (md5-prefix hash, rho via
    exact ``length(bin())`` — no floating log2), extending the KMV/CMS
    cross-engine determinism discipline to the industry-standard
    cardinality sketch.

    Scale shape: NO distinct pre-shuffle — max-of-rho is idempotent, so
    duplicate users fold away in the map-side partial of one groupBy
    over ≤ 1024 buckets; the result is a fixed-size mergeable summary
    regardless of event volume."""
    ev = load_table(spark, sf_dir, "events")
    return _sketches.hll_registers(ev, ["user_id"], p=10)


@query(
    "hll_distinct_users",
    _sketches.hll_estimate_sql(
        _sketches.hll_registers_sql(
            "SELECT user_id FROM events WHERE user_id IS NOT NULL", "user_id", p=10
        ),
        p=10,
    ),
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row HLL cardinality estimate for distinct event users, with
    the full Flajolet correction ladder (linear counting under 2.5m with
    empty buckets; 32-bit saturation above 2^32/30). The harmonic mean is
    EXACT integer arithmetic (each register r contributes the integer
    2^(23-r), empty buckets 2^23), so ``sum_scaled`` is immune to float
    summation order across engines; the corrections' ln() is quantized
    through DECIMAL(18,8) in both plans.

    Scale shape: everything after the ≤1024-bucket groupBy is one-row
    arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    return _sketches.hll_estimate(
        _sketches.hll_registers(ev, ["user_id"], p=10), p=10
    )


_HLL_UNION_ORACLE = f"""
    WITH h AS (
      SELECT event_type,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS hv
      FROM events WHERE user_id IS NOT NULL),
    pt AS (
      SELECT event_type, CAST(hv // 4194304 AS INTEGER) AS bucket,
             CAST(max(CASE WHEN hv % 4194304 = 0 THEN 23
                           ELSE 23 - length(bin(hv % 4194304)) END) AS INTEGER)
               AS register
      FROM h GROUP BY 1, 2),
    merged AS (
      SELECT bucket, CAST(max(register) AS INTEGER) AS register
      FROM pt GROUP BY 1),
    direct AS ({_sketches.hll_registers_sql(
        "SELECT user_id FROM events WHERE user_id IS NOT NULL", "user_id", p=10
    )}),
    mm AS (
      SELECT CAST(count(*) AS BIGINT) AS n_mismatch_buckets
      FROM merged m FULL JOIN direct d USING (bucket)
      WHERE m.register IS DISTINCT FROM d.register),
    agg AS ({_sketches.hll_agg_sql("merged", p=10)})
    SELECT mm.n_mismatch_buckets,
           {_sketches.hll_est_expr_sql(p=10)} AS est_distinct
    FROM mm CROSS JOIN agg
"""


@query("hll_union_by_type", _HLL_UNION_ORACLE)
def hll_union_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL mergeability, proven in-band: per-event-type sketches (the
    per-dimension-cell summaries a rollup store keeps) merged by
    per-bucket max must equal the sketch built directly over all events
    — max is associative — so ``n_mismatch_buckets`` is 0 and the union
    estimate needs NO rescan of history. This is the property that lets
    1000 executors sketch their partitions independently and a
    coordinator fold 1000×1024 integers.

    Scale shape: one (type, bucket) map-side-combined groupBy, then
    control-plane-sized register folds."""
    ev = load_table(spark, sf_dir, "events")
    per_type = _sketches.hll_registers_by_group(
        ev, ["event_type"], ["user_id"], p=10
    )
    merged = per_type.groupBy("bucket").agg(
        F.max("register").cast("int").alias("register")
    )
    direct = _sketches.hll_registers(ev, ["user_id"], p=10)
    mm = (
        merged.withColumnRenamed("register", "reg_m")
        .join(
            direct.withColumnRenamed("register", "reg_d"), "bucket", "full_outer"
        )
        .agg(
            F.sum(
                F.when(~F.col("reg_m").eqNullSafe(F.col("reg_d")), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_mismatch_buckets")
        )
    )
    est = _sketches.hll_estimate(merged, p=10).select("est_distinct")
    return mm.crossJoin(F.broadcast(est))


@query(
    "stream_hll_fold",
    _sketches.hll_estimate_sql(
        _sketches.hll_registers_sql(
            "SELECT user_id FROM events WHERE user_id IS NOT NULL", "user_id", p=10
        ),
        p=10,
    ),
)
def stream_hll_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL user-cardinality sketch maintained as a STREAM: events
    arrive in micro-batches (maxFilesPerTrigger=1 over a 4-way split),
    each batch's registers fold into the persisted sketch by per-bucket
    MAX. Unlike the dyadic sketch's sum-fold (`stream_rank_sketch`,
    which needs an epoch marker because summing double-counts replays),
    max-fold is IDEMPOTENT — an at-least-once file source can replay a
    batch and the registers cannot move, the operational advantage HLL
    has over additive sketches under relaxed delivery semantics. The
    fold still commits each batch's epoch (``fold_stream``), so a
    replayed batch is skipped without recomputing its registers. The
    oracle is the one-shot batch sketch: merged-across-batches must land
    bit-identically on built-in-one-pass, estimate included.

    Scale shape: per micro-batch one ≤1024-bucket map-side-combined
    groupBy over the batch only plus a ≤1024-row register merge; history
    is never rescanned."""
    from incremental_data_pipeline_spark.operators import sketches as _sk

    base = scratch_dir("stream_hll_")
    src_dir = os.path.join(base, "events_split")

    ev = load_table(spark, sf_dir, "events")
    ev.repartition(4, "user_id").write.mode("overwrite").parquet(src_dir)

    def step(batch: DataFrame, r: DataFrame | None) -> DataFrame:
        br = _sk.hll_registers(batch, ["user_id"], p=10)
        return br if r is None else _sk.hll_merge(r, br)

    raw_schema = read_table(spark, src_dir).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    registers = _stream.fold_stream(
        stream, os.path.join(base, "registers"), step, os.path.join(base, "ckpt")
    )
    return _sk.hll_estimate(registers, p=10)


from incremental_data_pipeline_spark.operators import linkage as _linkage  # noqa: E402

_FS_ARGS = dict(
    id_col="p_partkey",
    block_cols=[],  # global sorted neighborhood — the 100 TB layout
    sort_cols=["p_brand", "p_name"],
    fields=["name_head", "p_type", "p_size"],
    window=3,
    m_prob=0.95,
    min_score=0.0,
)

_FS_PART_SQL = (
    "(SELECT p_partkey, p_name, p_brand, p_type, p_size, "
    "split_part(p_name, ' ', 1) AS name_head FROM part)"
)


@query(
    "er_fs_sorted_neighborhood",
    _linkage.fs_sorted_neighborhood_sql(table=_FS_PART_SQL, **_FS_ARGS),
)
def er_fs_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage [Fellegi & Sunter 1969] over GLOBAL
    sorted-neighborhood candidates [Hernandez & Stolfo 1995]: parts are
    sorted by (brand, name), each record pairs with its next 3 neighbors
    (exactly n×3 candidates — LINEAR in corpus size, unlike fixed-key
    blocking whose in-block pair count grows quadratically), and each
    pair is scored by summed log-likelihood-ratio field weights
    ln(m/u) / ln((1-m)/(1-u)) with u estimated EXACTLY from the data as
    the random-pair collision probability of each field. Rare fields
    (p_type, ~150 values) thus out-weigh common ones (p_size, ~50) with
    no hand tuning — the scoring half of ER that `er_blocked_match`'s
    fixed distance cutoff doesn't cover.

    The global order comes from `scd.assign_surrogate_keys` (driver-
    frozen range buckets), NOT a block-partitioned window: a window
    keyed on p_brand would cap parallelism at 25 partitions forever,
    while range buckets scale with the cluster. Candidates are then
    rank+k equi-joins, reproduced by the oracle's plain global lead()
    window — the scalable rank IS the global row_number.

    Pairs scoring >= 0 (agreement evidence outweighs disagreement) are
    emitted with their per-field agreement vector, oracle-reproduced
    bit-for-bit (exact-integer u ratios, DECIMAL(18,8)-quantized ln,
    fixed-order fp sum).

    Scale shape: one range-bucketed window shuffle + 3 broadcast-sized
    frequency aggregates; no pair explosion, no cardinality-capped
    partitioning."""
    part = load_table(spark, sf_dir, "part").withColumn(
        "name_head", F.split(F.col("p_name"), " ")[0]
    )
    return _linkage.fs_sorted_neighborhood(part, **_FS_ARGS)


@query(
    "bucketed_join_pricing",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           TRUE AS join_exchange_free,
           TRUE AS bucketed_scan
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_join_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via WRITE-TIME bucketing: both sides are persisted
    with `write_bucketed` (hash-partitioned into matching bucket files on
    the join key), so the equi-join's Exchange disappears — Catalyst
    reuses the on-disk partitioning. This is the 100 TB design for fact
    tables joined repeatedly on the same key: pay one shuffle at write
    time, amortized across every downstream join; nothing else in the
    registry demonstrates the bucketed-scan path end-to-end.

    The plan properties are audited IN-BAND, same discipline as
    `sketch_stats`: ``join_exchange_free`` ("Exchange" absent from the
    join's physical plan, probed with broadcast disabled so the
    shuffle-join path is what's exercised) and ``bucketed_scan``
    ("Bucketed: true" in the scan) are emitted as columns hashed against
    a literal-TRUE oracle — if a regression re-introduces the shuffle,
    the correctness gate goes red, not just a unit test. The plan-string
    probes ("Exchange", "Bucketed: true") are validated against Spark
    4.1; a major-version bump may rename them — the in-band hash gate is
    exactly what would catch that (red with values green).

    Values are the plain join aggregate (revenue per order priority),
    decimal-cast for cross-engine sum parity."""
    import time
    import uuid

    from incremental_data_pipeline_spark.sources.sinks import write_bucketed

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    # Per-invocation table names: two concurrent sessions (bench + tests)
    # sharing a warehouse dir must not clobber each other's tables
    # mid-query, so the names carry a uuid suffix. Stale bktq_* dirs from
    # previous runs are swept only when old enough (>1 h mtime) that they
    # cannot belong to a live concurrent query; a FRESH in-memory catalog
    # doesn't know about a previous session's managed-table location, so
    # the physical dir must go too or saveAsTable fails with
    # LOCATION_ALREADY_EXISTS.
    token = uuid.uuid4().hex[:10]
    t_li, t_o = f"bktq_lineitem_{token}", f"bktq_orders_{token}"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    wh_path = wh.path or wh.geturl()
    try:
        for entry in os.listdir(wh_path):
            full = os.path.join(wh_path, entry)
            if (
                entry.startswith("bktq_")
                and os.path.isdir(full)
                and time.time() - os.path.getmtime(full) > 3600
            ):
                spark.sql(f"DROP TABLE IF EXISTS {entry}")
                shutil.rmtree(full, ignore_errors=True)
    except OSError:
        pass  # warehouse dir not materialized yet — nothing to sweep
    # Independent writes to distinct tables, so they run concurrently.
    run_concurrently(
        spark,
        lambda s: write_bucketed(s[0], s[1], ["l_orderkey"], num_buckets=16),
        [(li, t_li), (o, t_o)],
    )
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        joined = spark.table(t_li).join(spark.table(t_o), "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        exchange_free = "Exchange" not in plan
        bucketed = "Bucketed: true" in plan
        return (
            joined.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_items"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("revenue"),
            )
            .select(
                "o_orderpriority",
                "n_items",
                "revenue",
                F.lit(exchange_free).alias("join_exchange_free"),
                F.lit(bucketed).alias("bucketed_scan"),
            )
        )


@query(
    "target_encode_loo",
    """
    WITH g AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,2)) AS x,
             SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               OVER (PARTITION BY o_orderpriority) AS s,
             CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER () AS s_all,
             CAST(count(*) OVER () AS BIGINT) AS n_all
      FROM orders)
    SELECT o_orderkey, o_orderpriority,
           CASE WHEN n > 1 THEN CAST(s - x AS DOUBLE) / CAST(n - 1 AS DOUBLE)
                ELSE CAST(s_all - x AS DOUBLE) / CAST(n_all - 1 AS DOUBLE)
           END AS loo_enc
    FROM g
    """,
)
def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe way to turn a
    categorical feature into a numeric one for tabular ML: each row's
    encoding is the mean target (order totalprice) of its category
    (order priority) EXCLUDING the row itself, so the feature never
    memorizes its own label; singleton categories fall back to the
    global LOO mean. Exact decimal arithmetic until the single final
    division, so the oracle reproduces every encoding bit-for-bit.

    Scale shape: one window shuffle on the category key (sum and count
    ride the same partition pass — no join back), plus a broadcast-sized
    global aggregate. No per-category driver loop; category cardinality
    is irrelevant to the plan."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    wp = W.partitionBy("o_orderpriority")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    # Global sums via a broadcast 1-row aggregate, NOT an empty-partition
    # window — OVER () would funnel the whole table through one task.
    glob = o.agg(
        F.sum(x).alias("s_all"),
        F.count(F.lit(1)).cast("long").alias("n_all"),
    )
    g = o.select(
        "o_orderkey",
        "o_orderpriority",
        x.alias("x"),
        F.sum(x).over(wp).alias("s"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    ).crossJoin(F.broadcast(glob))
    enc = F.when(
        F.col("n") > 1,
        (F.col("s") - F.col("x")).cast("double")
        / (F.col("n") - F.lit(1)).cast("double"),
    ).otherwise(
        (F.col("s_all") - F.col("x")).cast("double")
        / (F.col("n_all") - F.lit(1)).cast("double")
    )
    return g.select("o_orderkey", "o_orderpriority", enc.alias("loo_enc"))


_NB_LANGS = ("de", "en", "es", "fr", "zh")


@query("nb_lang_confusion", _text.nb_unigram_confusion_sql(_NB_LANGS))
def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier trained and scored
    in-frame — see ``text.nb_unigram_confusion``: deterministic 80/20
    doc_id split, one-pass (word × class) count training (the classic
    distributed NB), Laplace-smoothed DECIMAL-exact log-posteriors,
    confusion matrix out, reproduced bit-for-bit by the oracle including
    every argmax. Complements the rule-based `text_lang_id` (fixed
    stopword lists) with the TRAINED path a curation pipeline uses when
    labels exist. The fixture's lang labels are only weakly coupled to
    its synthetic token stream, so the matrix is dominated by the
    majority class — the audited artifact is the train/infer computation,
    not fixture accuracy."""
    docs = load_table(spark, sf_dir, "documents")
    return _text.nb_unigram_confusion(docs, _NB_LANGS)


def _jl_oracle(k: int = 16, probe_mod: int = 41, offsets=(1, 17)) -> str:
    signs = _sim.hyperplanes(k, 64)
    s_lit = "[" + ", ".join(
        "[" + ", ".join(str(v) for v in row) + "]" for row in signs
    ) + "]"
    proj = (
        f"list_transform(range(1, {k + 1}), j -> "
        f"list_sum(list_transform(range(1, 65), i -> ({s_lit})[j][i] * {{v}}[i])))"
    )
    d2 = (
        "list_sum(list_transform(range(1, 65), i ->"
        " (va[i] - vb[i]) * (va[i] - vb[i])))"
    )
    d2p = (
        f"list_sum(list_transform(range(1, {k + 1}), j ->"
        " (pa[j] - pb[j]) * (pa[j] - pb[j])))"
    )
    offs = ", ".join(str(o) for o in offsets)
    return f"""
    WITH vecs AS (SELECT vec_id AS vid, {_QV} AS v FROM embeddings),
    probes AS (
      SELECT vid AS id_a, v AS va, unnest([{offs}]) AS off
      FROM vecs WHERE vid % {probe_mod} = 0),
    pairs AS (
      SELECT id_a, b.vid AS id_b, va, b.v AS vb
      FROM probes JOIN vecs b ON b.vid = id_a + off),
    proj AS (
      SELECT id_a, id_b, va, vb,
             {proj.format(v='va')} AS pa, {proj.format(v='vb')} AS pb
      FROM pairs),
    d AS (
      SELECT id_a, id_b,
             CAST({d2} AS BIGINT) AS d2_orig,
             CAST({d2p} AS BIGINT) AS d2_proj
      FROM proj)
    SELECT id_a, id_b, d2_orig, d2_proj,
           CAST(d2_proj AS DOUBLE) / ({float(k)!r} * CAST(d2_orig AS DOUBLE))
             AS distortion
    FROM d WHERE d2_orig > 0
    """


@query("jl_distortion_audit", _jl_oracle())
def jl_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss ±1 random projection (64 → 16 dims) with an
    in-band distance-preservation audit — see
    ``similarity.jl_distortion_pairs``: deterministic probe pairs report
    exact-integer original/projected squared distances and the
    distortion ratio the JL lemma concentrates around 1. The
    dimensionality-reduction primitive upstream of every ANN index here
    (shrink vectors 4× before LSH/IVF at 100 TB), shipped with its own
    quality evidence instead of a bare transform, the same discipline as
    `ann_ivf_recall`.

    Scale shape: projection is a narrow per-row map (k×64 integer
    multiply-adds, no shuffle, no UDF); the audit joins probes to their
    id+offset partners by equi-join, so pair volume stays linear in the
    corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _sim.jl_distortion_pairs(emb)


@query("chi2_top_terms_lang", _text.chi2_top_terms_sql(_NB_LANGS))
def chi2_top_terms_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared feature selection over the NB classifier's train fold
    — see ``text.chi2_top_terms``: one-vs-rest 2×2 document-presence
    contingency per (word, class), chi² ranking, top-5 discriminative
    words per class. The standard selection step between raw vocabulary
    and classifier training; exact-integer contingency cells feed ONE
    fixed-shape double expression so the oracle reproduces every score
    and every rank (ties break on the word).

    Scale shape: presence (not frequency) counts via array_distinct
    before explode, one (word × class) map-side-combined count, and a
    |labels|-partition window over the VOCABULARY-sized aggregate —
    nothing corpus-sized crosses the window."""
    docs = load_table(spark, sf_dir, "documents")
    return _text.chi2_top_terms(docs, _NB_LANGS)


def _hll_rollup_oracle(p: int = 10) -> str:
    m = 1 << p
    bits = 32 - p
    mask = 1 << bits
    scale2 = 1 << (bits + 1)
    est = _sketches.hll_est_expr_sql(p)
    return f"""
    WITH h AS (
      SELECT event_type,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS hv
      FROM events WHERE user_id IS NOT NULL),
    pt AS (
      SELECT event_type, CAST(hv // {mask} AS INTEGER) AS bucket,
             CAST(max(CASE WHEN hv % {mask} = 0 THEN {bits + 1}
                           ELSE {bits + 1} - length(bin(hv % {mask})) END)
                  AS INTEGER) AS register
      FROM h GROUP BY 1, 2),
    aggt AS (
      SELECT event_type AS key, CAST({m} AS BIGINT) AS m,
             CAST({m} - count(*) AS BIGINT) AS zero_buckets,
             CAST(COALESCE(CAST(sum(CAST(2.0 ** ({bits + 1} - register) AS BIGINT)) AS BIGINT), 0)
                  + ({m} - count(*)) * {scale2} AS BIGINT) AS sum_scaled
      FROM pt GROUP BY 1),
    merged AS (
      SELECT bucket, CAST(max(register) AS INTEGER) AS register
      FROM pt GROUP BY 1),
    aggm AS ({_sketches.hll_agg_sql("merged", p)})
    SELECT 'type' AS level, key, {est} AS est_distinct FROM aggt
    UNION ALL
    SELECT 'all' AS level, '*' AS key, {est} AS est_distinct FROM aggm
    """


@query("hll_rollup_users_by_type", _hll_rollup_oracle())
def hll_rollup_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rollup-store pattern on HLL sketches: per-event-type distinct-
    user estimates from per-cell register tables, plus the ALL-types
    estimate obtained by MERGING those cells (per-bucket max) — history
    is never rescanned to roll a level up the dimension hierarchy, the
    property additive rollup stores get from summing counters, delivered
    here for the non-additive distinct-count measure. Cross-engine exact
    like the rest of the HLL family (integer harmonic sums, quantized
    correction ln).

    Scale shape: ONE (type, bucket) map-side-combined groupBy over the
    facts; every level above it is arithmetic over ≤ |types|×1024
    register rows."""
    ev = load_table(spark, sf_dir, "events")
    per_type = _sketches.hll_registers_by_group(
        ev, ["event_type"], ["user_id"], p=10
    )
    est_t = _sketches.hll_estimate_by_group(per_type, ["event_type"], p=10).select(
        F.lit("type").alias("level"),
        F.col("event_type").alias("key"),
        "est_distinct",
    )
    merged = _sketches.hll_merge(per_type)
    est_all = _sketches.hll_estimate(merged, p=10).select(
        F.lit("all").alias("level"), F.lit("*").alias("key"), "est_distinct"
    )
    return est_t.unionByName(est_all)
