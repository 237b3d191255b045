"""Iterative graph algorithms on edge DataFrames.

Complements the connected-components fixpoint in ``operators.dedup`` with
the other canonical iterative shape: PageRank-style score propagation
(Page et al. 1999). The twist here is INTEGER-EXACT arithmetic: ranks are
BIGINT micro-units of a fixed total mass, per-edge contributions use
integer division, and the damping factor is a rational (85/100) applied
with integer multiply-then-divide. Double-based PageRank sums are
shuffle-order-dependent and never bit-comparable across engines; the
integer formulation is associative and therefore reproducible anywhere —
the same determinism discipline as the quantized cosine math in
``functions.vector``.

Semantics notes (documented simplifications, both mirrored by the oracle):
- dangling nodes (out-degree 0) absorb rank but do not redistribute it, so
  total mass decays per iteration — the common simplified formulation;
- integer division truncates sub-unit rank; at scale = 1e12 the truncation
  error is ~1e-12 of total mass per edge, far below any ranking decision.

Scale shape: each iteration is one equi-join of the rank vector with the
edge list (both key-partitioned — co-partitioned joins reuse the exchange
across iterations) plus one map-side-combinable SUM by destination. A
fixed iteration count keeps the plan static (no driver-side convergence
probe, no checkpoint barrier needed at small depth).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incremental_data_pipeline_spark.functions import util
from incremental_data_pipeline_spark.sources.sinks import read_table

TOTAL_MASS = 10**12


def pagerank_int(
    edges: DataFrame,
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Integer-exact PageRank over a directed edge list.

    Returns (node, rank) for every node appearing as a source or
    destination, after ``iterations`` synchronous updates of
    r(v) = base + d * sum(r(u) div outdeg(u)) over in-edges, with
    base = ((den-num) * TOTAL_MASS) div (den * N) and d = num/den applied
    as (num * sum) div den. All BIGINT — bit-reproducible by any engine.
    """
    e = edges.select(src, dst).distinct()
    nodes = (
        e.select(F.col(src).alias("node"))
        .union(e.select(F.col(dst).alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()  # tiny scalar: one value drives the base term
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    base = ((damping_den - damping_num) * TOTAL_MASS) // (damping_den * n_nodes)
    outdeg = e.groupBy(src).agg(F.count(F.lit(1)).alias("__deg"))
    ranked = nodes.withColumn("rank", F.lit(TOTAL_MASS // n_nodes).cast("long"))
    weighted_edges = e.join(outdeg, src)
    for _ in range(iterations):
        contrib = (
            weighted_edges.join(
                ranked.select(F.col("node").alias(src), "rank"), src
            )
            .select(
                F.col(dst).alias("node"),
                F.expr("rank div __deg").alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__sum"))
        )
        ranked = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_num} * coalesce(__sum, 0L)) div {damping_den}"
                    )
                ).cast("long").alias("rank"),
            )
        )
    return ranked


def pagerank_oracle_sql(
    edges_cte: str,
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
) -> str:
    """DuckDB twin of ``pagerank_int``: the iteration unrolls into one CTE
    per step (r0..rN), integer ops throughout. ``edges_cte`` must be a CTE
    body producing columns (src, dst), already distinct."""
    s = TOTAL_MASS
    parts = [
        f"edges AS ({edges_cte})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, CAST({s} // n AS BIGINT) AS rank FROM nodes, nn)",
    ]
    base = f"(({damping_den - damping_num} * {s}) // ({damping_den} * n))"
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, SUM(r.rank // o.deg) AS s "
            f"FROM edges e JOIN r{i-1} r ON r.node = e.src "
            f"JOIN outdeg o ON o.src = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.node, CAST({base} + "
            f"(({damping_num} * coalesce(c.s, 0)) // {damping_den}) AS BIGINT) AS rank "
            f"FROM nodes CROSS JOIN nn LEFT JOIN c{i} c ON nodes.node = c.node)"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, rank FROM r{iterations}"


# Pivot-batched triangle fallback tuning (see TRIANGLE_SCALE.md): wedge
# rows are 3 BIGINTs (~24 B raw); shuffle write + the closing join's sort
# spill roughly doubles the live on-disk footprint, so budget 48 B/row
# against half the free scratch space before splitting pivots into
# hash-bucket batches.
WEDGE_BYTES_PER_ROW = 48
SCRATCH_FRACTION = 0.5
MAX_TRIANGLE_BATCHES = 64


def _free_scratch_bytes(spark) -> int:
    """Free bytes on the shuffle scratch volume (first spark.local.dir)."""
    import shutil

    local = spark.conf.get("spark.local.dir", None) or os.environ.get(
        "SPARK_LOCAL_DIRS", "/tmp"
    )
    path = local.split(",")[0]
    try:
        return shutil.disk_usage(path).free
    except OSError:
        return shutil.disk_usage("/tmp").free


def _wedge_per_node(tri: DataFrame) -> DataFrame:
    return (
        tri.select(F.explode(F.array("p", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_batches: int | None = None,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED edge list (duplicate and
    reversed edges tolerated; self-loops dropped).

    Algorithm: degree orientation [Schank & Wagner 2005 / the MapReduce
    formulation of Suri & Vassilvitskii 2011]. Orient every undirected
    edge from the endpoint with smaller (degree, id) to the larger; every
    triangle then has exactly one "pivot" node with two out-edges, so
    counting wedges (u→v, u→w) whose closing edge (v→w) exists counts each
    triangle exactly once. Orientation caps the out-degree at O(sqrt(m)),
    so the wedge self-join — the only quadratic-looking step — is bounded
    per node by sqrt(m) even on power-law graphs where a hub's undirected
    degree is huge. Two shuffles: the wedge join on the pivot, the closing
    check as an equi-join against the oriented edge list.

    Scale shape / pivot batching: wedge volume is linear in m (see
    TRIANGLE_SCALE.md — exactly 10.00x across a fixture decade), but ONE
    job's live wedge shuffle can exceed a single host's scratch disk. When
    ``n_batches`` is None the operator estimates wedge rows from the
    oriented out-degree histogram (one edges-scale aggregate over the
    persisted oriented list) and, if the estimated live shuffle footprint
    exceeds half the free scratch space, splits the PIVOT set into K hash
    buckets and runs the wedge+closing join per bucket as K sequential
    jobs. Each triangle is counted at exactly one pivot, and pivot buckets
    partition the pivots, so the per-bucket counts are disjoint and their
    per-node sums exact — shuffle footprint / K, no approximation. Batch
    partials land as node-sized parquet in one directory of ``scratch_dir``
    (the first batch overwrites it, the rest append; by default a
    dir under the process scratch root, removed at exit; point it at
    shared storage on a cluster) so each batch fully completes — and its
    wedge shuffle files become collectable — before the next starts. Pass
    ``n_batches=1`` to force the single-job plan or an explicit K to
    override the estimate.

    Returns (node, n_triangles) for every node of the graph, zeros
    included."""
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .union(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by (degree, id): u -> v iff (deg(u), u) < (deg(v), v)
    with_deg = (
        canon.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
    )

    if n_batches is None or n_batches > 1:
        # oriented feeds three consumers (wedge e1/e2, closing) and, in
        # batched mode, K+1 jobs — persist it once (lineage retained, so an
        # executor loss on a real cluster recomputes rather than fails).
        oriented = oriented.persist()
        if n_batches is None:
            wedge_rows = (
                oriented.groupBy("u")
                .agg(F.count(F.lit(1)).alias("d"))
                .agg(F.sum(F.expr("d * (d - 1) div 2")).alias("w"))
                .collect()[0]["w"]
            ) or 0  # control-plane scalar: one value sizes the batch count
            budget = max(1, int(_free_scratch_bytes(edges.sparkSession) * SCRATCH_FRACTION))
            n_batches = min(
                MAX_TRIANGLE_BATCHES,
                max(1, -(-(wedge_rows * WEDGE_BYTES_PER_ROW) // budget)),
            )

    closing = oriented.select(
        F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
    )
    all_nodes = deg.select("node")

    if n_batches <= 1:
        e1 = oriented.select(F.col("u").alias("p"), F.col("v").alias("x"))
        e2 = oriented.select(F.col("u").alias("p"), F.col("v").alias("y"))
        wedges = e1.join(e2, "p").filter(F.col("x") < F.col("y"))
        tri = wedges.join(closing, ["x", "y"])  # one row per triangle (p, x, y)
        per_node = _wedge_per_node(tri)
        return all_nodes.join(per_node, "node", "left").select(
            "node",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )

    # --- pivot-batched path: K sequential jobs, shuffle footprint / K ---
    import gc

    spark = edges.sparkSession
    if scratch_dir is None:
        scratch_dir = util.scratch_dir("triangle_count_")
    nodes_path = os.path.join(scratch_dir, "nodes")
    partials_path = os.path.join(scratch_dir, "partials")
    all_nodes.write.mode("overwrite").parquet(nodes_path)
    for i in range(n_batches):
        bucket = oriented.filter(
            F.pmod(F.xxhash64(F.col("u")), F.lit(n_batches)) == i
        )
        e1 = bucket.select(F.col("u").alias("p"), F.col("v").alias("x"))
        e2 = bucket.select(F.col("u").alias("p"), F.col("v").alias("y"))
        wedges = e1.join(e2, "p").filter(F.col("x") < F.col("y"))
        tri = wedges.join(closing, ["x", "y"])
        # the write is the action that bounds this batch's live shuffle
        _wedge_per_node(tri).write.mode("append" if i else "overwrite").parquet(partials_path)
        # nudge the ContextCleaner so batch i's wedge shuffle files are
        # reclaimed before batch i+1 allocates its own (local-mode disk
        # hygiene; harmless no-op concern on a multi-disk cluster)
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
    oriented.unpersist()
    per_node = read_table(spark, partials_path).groupBy("node").agg(
        F.sum("n_triangles").cast("long").alias("n_triangles")
    )
    return (
        read_table(spark, nodes_path)
        .join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Minimum-hop distance from a seed set by synchronous frontier
    expansion: round h joins the previous frontier to the edge list and
    anti-joins everything already labeled, so each node is labeled exactly
    once with its first (= minimum) hop count. Returns (node, hop) for
    every node within ``max_hops``.

    Scale shape: the same iterative discipline as ``connected_components``
    — per-round frames are ``localCheckpoint``-ed so lineage stays O(1)
    instead of O(rounds), each round is one equi-join shuffle on the edge
    key plus an anti-join against the (monotonically growing) visited set,
    and the loop is driver-controlled with a FIXED hop budget (the caller
    chooses the radius, so the plan is unrollable and oracle-checkable).
    An exhausted frontier short-circuits the remaining rounds."""
    e = edges.select(src, dst).distinct()
    visited = (
        seeds.distinct()
        .withColumn("hop", F.lit(0).cast("int"))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e[src])
            .select(F.col(dst).alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("hop", F.lit(h).cast("int"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited
