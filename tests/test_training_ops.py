"""Semantic tests for the round-3 training-data operators: decontamination,
KMV sketch, weighted/capped sampling, semantic dedup, batch interval join.
(Oracle parity for each registered query is covered by the parametrized
mirror in test_queries_oracle.py; these pin the operator CONTRACTS.)"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _docs(spark):
    from incremental_data_pipeline_spark.sources.readers import load_table

    return load_table(spark, SF_DIR, "documents")


def test_decontaminate_removes_exactly_the_flagged_ids(spark):
    from incremental_data_pipeline_spark.operators import decontaminate as dc

    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") < 50)
    corpus = docs.filter(F.col("doc_id") >= 50)
    report = dc.contamination_hits(corpus, bench, n=3, min_hits=2)
    flagged = {r["doc_id"] for r in report.filter("contaminated").collect()}
    clean = dc.decontaminate(corpus, bench, n=3, min_hits=2)
    kept = {r["doc_id"] for r in clean.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    assert kept == all_ids - flagged
    # a benchmark document screened against the benchmark is always dirty
    self_hit = dc.contamination_hits(bench, bench, n=3, min_hits=1)
    assert self_hit.filter(~F.col("contaminated")).count() == 0


def test_decontaminate_hashed_grams_equivalent(spark):
    from incremental_data_pipeline_spark.operators import decontaminate as dc

    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") < 50)
    corpus = docs.filter(F.col("doc_id") >= 50)
    plain = dc.contamination_hits(corpus, bench, n=3).collect()
    hashed = dc.contamination_hits(corpus, bench, n=3, hashed=True).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, hashed))


def test_kmv_estimate_accuracy_and_prefilter(spark):
    from incremental_data_pipeline_spark.operators import sketches
    from incremental_data_pipeline_spark.sources.readers import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    exact = li.select("l_orderkey", "l_partkey").distinct().count()
    row = sketches.kmv_distinct(li, ["l_orderkey", "l_partkey"], k=256).collect()[0]
    assert row["prefilter_ok"]
    # KMV relative stderr ~ 1/sqrt(k) = 6.25%; allow 4 sigma.
    assert abs(row["est_distinct"] - exact) / exact < 0.25
    # a generous pre-filter must not change the estimate (and must say so)
    pf = sketches.kmv_distinct(
        li, ["l_orderkey", "l_partkey"], k=256, prefilter_rate=0.5
    ).collect()[0]
    assert pf["prefilter_ok"]
    assert pf["est_distinct"] == row["est_distinct"]


def test_kmv_set_ops_accuracy_and_exact_small(spark):
    from incremental_data_pipeline_spark.operators import sketches
    from incremental_data_pipeline_spark.sources.readers import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R")
    b = li.filter(F.col("l_returnflag") == "A")
    sa = {r[0] for r in a.select("l_partkey").distinct().collect()}
    sb = {r[0] for r in b.select("l_partkey").distinct().collect()}
    row = sketches.kmv_set_ops(a, b, ["l_partkey"], k=256).collect()[0]
    exact_union, exact_inter = len(sa | sb), len(sa & sb)
    if row["k_used"] < 256:
        # under-filled sketch is exact by construction
        assert row["est_union"] == float(exact_union)
        assert row["est_intersect"] == float(exact_inter)
    else:
        # KMV stderr ~ 1/sqrt(k); intersection inherits union error + rho noise
        assert abs(row["est_union"] - exact_union) / exact_union < 0.25
        assert abs(row["est_intersect"] - exact_inter) / max(exact_inter, 1) < 0.4
    # disjoint sets estimate ~zero intersection
    lo = li.filter(F.col("l_partkey") % 2 == 0)
    hi = li.filter(F.col("l_partkey") % 2 == 1)
    d = sketches.kmv_set_ops(lo, hi, ["l_partkey"], k=128).collect()[0]
    assert d["n_both"] == 0 and d["est_intersect"] == 0.0


def test_kmv_set_ops_empty_side(spark):
    from incremental_data_pipeline_spark.operators import sketches
    from incremental_data_pipeline_spark.sources.readers import load_table

    nation = load_table(spark, SF_DIR, "nation")
    empty = nation.filter(F.lit(False))
    row = sketches.kmv_set_ops(nation, empty, ["n_nationkey"], k=64).collect()[0]
    assert row["n_both"] == 0
    assert row["est_union"] == float(nation.count())
    assert row["est_intersect"] == 0.0
    both_empty = sketches.kmv_set_ops(empty, empty, ["n_nationkey"], k=64).collect()[0]
    assert both_empty["k_used"] == 0
    assert both_empty["est_jaccard"] is None


def test_kmv_small_cardinality_is_exact(spark):
    from incremental_data_pipeline_spark.operators import sketches
    from incremental_data_pipeline_spark.sources.readers import load_table

    nation = load_table(spark, SF_DIR, "nation")
    row = sketches.kmv_distinct(nation, ["n_nationkey"], k=256).collect()[0]
    assert row["k_used"] == nation.count()
    assert row["est_distinct"] == float(nation.count())


def test_weighted_sample_deterministic_and_biased(spark):
    from incremental_data_pipeline_spark.operators import sampling

    docs = _docs(spark).select("doc_id", "n_chars")
    a = sampling.weighted_sample(docs, ["doc_id"], "n_chars", 50, "doc_id", salt="w1")
    b = sampling.weighted_sample(
        docs.repartition(13), ["doc_id"], "n_chars", 50, "doc_id", salt="w1"
    )
    ids_a = {r["doc_id"] for r in a.collect()}
    ids_b = {r["doc_id"] for r in b.collect()}
    assert ids_a == ids_b and len(ids_a) == 50
    # length-weighted draw must skew toward longer documents
    mean_sel = a.agg(F.avg("n_chars")).collect()[0][0]
    mean_all = docs.agg(F.avg("n_chars")).collect()[0][0]
    assert mean_sel > mean_all


def test_cap_per_stratum_bounds_and_determinism(spark):
    from incremental_data_pipeline_spark.operators import sampling

    docs = _docs(spark).select("doc_id", "source")
    capped = sampling.cap_per_stratum(docs, "source", 15, ["doc_id"], salt="cap1")
    again = sampling.cap_per_stratum(
        docs.repartition(7), "source", 15, ["doc_id"], salt="cap1"
    )
    assert {r["doc_id"] for r in capped.collect()} == {
        r["doc_id"] for r in again.collect()
    }
    per_src = {
        r["source"]: r["n"]
        for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    sizes = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for src, kept in per_src.items():
        assert kept <= sizes[src]
    # Bernoulli at rate 15/25: binomial(25, 0.6) — total concentrates
    total = sum(per_src.values())
    n_src = len(sizes)
    assert 0.4 * 15 * n_src < total < 1.4 * 15 * n_src


def test_semantic_dedup_keeps_lowest_id_of_duplicates(spark):
    from incremental_data_pipeline_spark.operators import similarity as sim

    v1 = [0.5] * 64
    v2 = [-0.5] * 64
    rows = [(0, v1), (1, v2), (5, v1), (9, v1), (7, v2)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    codebook = sim.centroid_codebook(df, nlist=2)
    out = {
        r["vec_id"]: r["kept"]
        for r in sim.semantic_dedup(df, codebook, threshold=0.99).collect()
    }
    assert out == {0: True, 1: True, 5: False, 9: False, 7: False}


def test_interval_count_join_matches_naive_theta_join(spark):
    from incremental_data_pipeline_spark.operators import relational
    from incremental_data_pipeline_spark.sources.readers import load_table

    ev = load_table(spark, SF_DIR, "events")
    purch = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    fast = relational.interval_count_join(
        purch, clicks, ["user_id"], "ts", 3600, "event_id"
    )
    p = purch.select("event_id", "user_id", F.col("ts").alias("pts"))
    c = clicks.select(F.col("user_id").alias("cu"), F.col("ts").alias("cts"))
    naive = (
        p.join(
            c,
            (p.user_id == c.cu)
            & (c.cts > p.pts)
            & (c.cts <= p.pts + F.expr("INTERVAL 1 HOUR")),
            "left",
        )
        .groupBy("event_id")
        .agg(F.count("cts").alias("n_in_window"))
    )
    got = {r["event_id"]: r["n_in_window"] for r in fast.collect()}
    want = {r["event_id"]: r["n_in_window"] for r in naive.collect()}
    assert got == want


def test_pagerank_int_matches_python_reference(spark):
    """pagerank_int's integer recurrence, cross-checked against a direct
    Python implementation on a small fixed graph (3 iterations)."""
    from incremental_data_pipeline_spark.operators.graph import TOTAL_MASS, pagerank_int

    edge_list = [(1, 2), (2, 1), (1, 3), (3, 2), (4, 1), (4, 2)]
    df = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank_int(df, iterations=3).collect()}

    nodes = sorted({u for e in edge_list for u in e})
    n = len(nodes)
    outdeg = {}
    for s, _ in edge_list:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (15 * TOTAL_MASS) // (100 * n)
    rank = {v: TOTAL_MASS // n for v in nodes}
    for _ in range(3):
        contrib = {}
        for s, d in edge_list:
            contrib[d] = contrib.get(d, 0) + rank[s] // outdeg[s]
        rank = {v: base + (85 * contrib.get(v, 0)) // 100 for v in nodes}
    assert got == rank


def test_kmv_empty_input(spark):
    from incremental_data_pipeline_spark.operators import sketches

    empty = spark.createDataFrame([], "x long")
    row = sketches.kmv_distinct(empty, ["x"], k=16).collect()[0]
    assert row["k_used"] == 0
    assert row["est_distinct"] == 0.0
    assert row["prefilter_ok"]


def test_kmv_underfilled_prefilter_reports_not_ok(spark):
    """An over-aggressive prefilter that under-fills the sketch (k_used <
    k) may have discarded real hashes, so prefilter_ok must be False —
    the caller's signal to retry without the prefilter. Without a
    prefilter the same under-filled sketch IS the exact count (ok)."""
    from incremental_data_pipeline_spark.operators import sketches
    from incremental_data_pipeline_spark.sources.readers import load_table

    nation = load_table(spark, SF_DIR, "nation")  # 25 distinct keys < k
    # tiny bar: nearly every hash is discarded, sketch cannot fill
    row = sketches.kmv_distinct(
        nation, ["n_nationkey"], k=16, prefilter_rate=0.001
    ).collect()[0]
    assert row["k_used"] < 16
    assert not row["prefilter_ok"]
    # no prefilter: under-filled means exact, and ok
    plain = sketches.kmv_distinct(nation, ["n_nationkey"], k=256).collect()[0]
    assert plain["prefilter_ok"]


def test_pagerank_empty_edges(spark):
    from incremental_data_pipeline_spark.operators.graph import pagerank_int

    empty = spark.createDataFrame([], "src long, dst long")
    out = pagerank_int(empty, iterations=3)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_contamination_empty_benchmark_flags_nothing(spark):
    from pyspark.sql import functions as F

    from incremental_data_pipeline_spark.operators import decontaminate as dc

    docs = _docs(spark).limit(20)
    empty_bench = _docs(spark).filter(F.lit(False))
    rep = dc.contamination_hits(docs, empty_bench, n=3)
    assert rep.filter("contaminated").count() == 0
    assert rep.count() == 20
    assert dc.decontaminate(docs, empty_bench, n=3).count() == 20


def test_semantic_dedup_all_unique_keeps_everything(spark):
    from incremental_data_pipeline_spark.operators import similarity as sim

    # orthogonal-ish vectors: one-hot rows can't reach cosine 0.99
    rows = [(i, [1.0 if j == i else 0.0 for j in range(64)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = sim.centroid_codebook(df, nlist=2)
    out = sim.semantic_dedup(df, cb, threshold=0.99)
    assert out.filter("NOT kept").count() == 0
    assert out.count() == 6


def test_token_budget_sample_semantics(spark):
    """Budget is never overshot, fill is maximal in hash order, absent
    strata are dropped, and the selection is partitioning-invariant."""
    from incremental_data_pipeline_spark.operators import sampling
    from incremental_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, SF_DIR, "documents")
    budgets = {"en": 9000, "zh": 2500}
    out = sampling.token_budget_sample(
        docs, "lang", "n_chars", budgets, ["doc_id"], salt="t"
    )
    rows = out.select("doc_id", "lang", "n_chars").collect()
    by_lang: dict[str, int] = {}
    for r in rows:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + r["n_chars"]
    assert set(by_lang) <= set(budgets), "a stratum outside the recipe leaked"
    for lang, total in by_lang.items():
        assert total <= budgets[lang], (lang, total)
    # maximal fill: the next doc in hash order must not fit
    ordered = (
        docs.withColumn("__h", sampling.sample_key(["doc_id"], "t"))
        .orderBy("__h", "doc_id")
        .select("doc_id", "lang", "n_chars")
        .collect()
    )
    chosen = {r["doc_id"] for r in rows}
    cum: dict[str, int] = {}
    for r in ordered:
        if r["lang"] not in budgets:
            continue
        cum[r["lang"]] = cum.get(r["lang"], 0) + r["n_chars"]
        expect_in = cum[r["lang"]] <= budgets[r["lang"]]
        assert (r["doc_id"] in chosen) == expect_in, r
    # partitioning invariance
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        again = {
            r["doc_id"]
            for r in sampling.token_budget_sample(
                docs, "lang", "n_chars", budgets, ["doc_id"], salt="t"
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert again == chosen


def test_inverted_search_matches_bruteforce_and_prunes_partitions(spark, tmp_path):
    """AND-search equals the brute-force per-doc token check, and against a
    term-partitioned stored index the query reads ONLY the query terms'
    posting lists (partition pruning)."""
    from incremental_data_pipeline_spark.operators import text as text_ops

    docs = _docs(spark)
    postings = text_ops.build_postings(docs, "doc_id", "text")
    terms = ["dup", "window", "stream"]
    got = {
        (r["doc_id"], r["relevance"])
        for r in text_ops.search_all_terms(postings, terms, "doc_id").collect()
    }
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    brute = {
        (
            r["doc_id"],
            sum(1 for x in r["t"] if x in terms),
        )
        for r in toks.collect()
        if all(w in r["t"] for w in terms)
    }
    assert got == brute and got

    idx_path = str(tmp_path / "postings")
    postings.write.partitionBy("term").parquet(idx_path)
    stored = spark.read.parquet(idx_path)
    plan = (
        text_ops.search_all_terms(stored, terms, "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [term" in plan.replace("\n", " "), plan[:1500]
    got_stored = {
        (r["doc_id"], r["relevance"])
        for r in text_ops.search_all_terms(stored, terms, "doc_id").collect()
    }
    assert got_stored == got


def test_triangle_count_known_graph_and_orientation_bound(spark):
    """Known-graph truth (K4 plus a pendant), robustness to duplicate /
    reversed / self-loop inputs, and the orientation bound: max oriented
    out-degree stays at O(sqrt(m)) on a star-plus-clique graph where the
    hub's undirected degree is far larger."""
    from incremental_data_pipeline_spark.operators import graph

    # K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant 5-1 (0 tri)
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    noisy = k4 + [(b, a) for a, b in k4] + [(1, 1), (5, 1), (1, 5), (2, 3)]
    df = spark.createDataFrame(noisy, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in graph.triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0}

    # hub 0 connected to 60 spokes, spokes form a chain: hub degree 60,
    # but oriented out-degree of every node must stay small
    star = [(0, i) for i in range(1, 61)] + [(i, i + 1) for i in range(1, 60)]
    sdf = spark.createDataFrame(star, "src long, dst long")
    from pyspark.sql import functions as F

    canon = sdf.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    deg = (
        canon.select(F.col("a").alias("node"))
        .union(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .count()
    )
    wd = canon.join(
        deg.select(F.col("node").alias("a"), F.col("count").alias("da")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("count").alias("db")), "b")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = wd.select(F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"))
    max_out = oriented.groupBy("u").count().agg(F.max("count")).collect()[0][0]
    assert max_out <= 4, max_out  # hub emits ~0 oriented edges
    # chain triangles: (i, i+1) spokes + hub edges -> triangle (0, i, i+1)
    tri_total = (
        graph.triangle_count(sdf).agg(F.sum("n_triangles")).collect()[0][0]
    )
    assert tri_total == 59 * 3  # 59 triangles, 3 nodes each


def test_triangle_count_pivot_batched_equals_single(spark, tmp_path):
    """The pivot-batched fallback (TRIANGLE_SCALE.md) must be EXACT: hash
    buckets partition the pivot set and every triangle is counted at its
    unique pivot, so K sequential batches sum to the single-job answer.
    Run on the fixture-scale part co-purchase graph (the same graph the
    sf10 mirror exercises) at several K, including K > distinct pivots."""
    from incremental_data_pipeline_spark.operators import graph

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    co = li.alias("l1").join(
        li.alias("l2"),
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
    )
    edges = co.select(
        F.col("l1.l_partkey").alias("src"), F.col("l2.l_partkey").alias("dst")
    )
    single = sorted(
        (r["node"], r["n_triangles"])
        for r in graph.triangle_count(edges, n_batches=1).collect()
    )
    assert sum(c for _, c in single) > 0  # fixture graph has triangles
    for k in (3, 7):
        batched = sorted(
            (r["node"], r["n_triangles"])
            for r in graph.triangle_count(
                edges, n_batches=k, scratch_dir=str(tmp_path / f"k{k}")
            ).collect()
        )
        assert batched == single, f"K={k} diverged"
    # with no scratch_dir the partials land under the process scratch root
    from incremental_data_pipeline_spark.functions import util

    default = graph.triangle_count(edges, n_batches=3)
    assert sorted((r["node"], r["n_triangles"]) for r in default.collect()) == single
    files = [urlparse(f).path for f in default.inputFiles()]
    assert files and all(f.startswith(util._SCRATCH_ROOT + os.sep) for f in files)
    # auto mode on a tiny input resolves to the single-job plan and matches
    auto = sorted(
        (r["node"], r["n_triangles"]) for r in graph.triangle_count(edges).collect()
    )
    assert auto == single


def test_cms_never_undercounts_and_merges(spark):
    """CMS guarantees est >= exact for every key; and counters built on two
    disjoint halves, merged by summing cells, must equal counters built on
    the whole — the incremental-maintenance property."""
    from incremental_data_pipeline_spark.operators import sketches

    from incremental_data_pipeline_spark.sources.readers import load_table

    li = load_table(spark, SF_DIR, "lineitem").select("l_partkey", "l_orderkey")
    counters = sketches.cms_counters(li, ["l_partkey"], 256, 3)
    exact = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("exact_n"))
    est = sketches.cms_estimate(
        counters, exact.select("l_partkey"), ["l_partkey"], 256, 3
    )
    joined = exact.join(est, "l_partkey")
    under = joined.filter(F.col("cms_est") < F.col("exact_n")).count()
    assert under == 0

    lo = li.filter(F.col("l_orderkey") % 2 == 0)
    hi = li.filter(F.col("l_orderkey") % 2 == 1)
    merged = (
        sketches.cms_counters(lo, ["l_partkey"], 256, 3)
        .unionByName(sketches.cms_counters(hi, ["l_partkey"], 256, 3))
        .groupBy("d", "cell")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    full = {(r["d"], r["cell"]): r["n"] for r in counters.collect()}
    got = {(r["d"], r["cell"]): r["n"] for r in merged.collect()}
    assert got == full


def test_blocked_edit_pairs_sound_and_guarded(spark):
    """Exact duplicates score edit 0; a small edit is found across a length
    -band boundary in BOTH id orders (including the regression case where
    the lower-band doc has the HIGHER id, which an id-only orientation
    silently drops); max_dist > band is rejected (soundness guarantee)."""
    import pytest as _pytest

    from incremental_data_pipeline_spark.operators.dedup import blocked_edit_pairs

    short = "x" * 22   # head(8) + 22 = len 30 -> band 0 (len // 32)
    long_ = "x" * 26   # head(8) + 26 = len 34 -> band 1; lev = 4
    docs = spark.createDataFrame(
        [
            # regression: lower-band (shorter) doc has the HIGHER id
            (1, "p q r s " + long_),
            (2, "p q r s " + short),
            # same boundary pair, conventional id order
            (3, "u v w x " + short),
            (4, "u v w x " + long_),
            # same-band exact dup + near dup
            (5, "alpha beta gamma delta epsilon zeta"),
            (6, "alpha beta gamma delta epsilon zeta"),    # exact dup
            (7, "alpha beta gamma delta epsilon zetaXY"),  # 2 inserts
            (8, "omega psi chi phi"),                      # unrelated
        ],
        "doc_id long, text string",
    )
    out = blocked_edit_pairs(docs, max_dist=20, band=32).collect()
    got = {(r["doc_a"], r["doc_b"]): r["edit_dist"] for r in out}
    assert len(out) == len(got)  # each unordered pair exactly once
    assert got[(1, 2)] == 4      # cross-band, higher id in lower band
    assert got[(3, 4)] == 4      # cross-band, conventional order
    assert got[(5, 6)] == 0 and got[(5, 7)] == 2 and got[(6, 7)] == 2
    assert not any(8 in p for p in got)
    assert all(a < b for a, b in got)  # canonical pair orientation
    with _pytest.raises(ValueError):
        blocked_edit_pairs(docs, max_dist=40, band=32)


def test_upsert_scd1_evolving_null_fills_both_ways(spark):
    """New source column appears NULL on untouched rows; a target column the
    source dropped survives NULL on source rows; missing merge keys fail."""
    import pytest as _pytest

    from incremental_data_pipeline_spark.operators.scd import upsert_scd1_evolving

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, name string, bal double"
    )
    source = spark.createDataFrame(
        [(2, "b2", "gold"), (3, "c", "std")], "k long, name string, tier string"
    )
    rows = {r["k"]: r for r in upsert_scd1_evolving(target, source, ["k"]).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["tier"] is None and rows[1]["bal"] == 10.0
    assert rows[2]["tier"] == "gold" and rows[2]["bal"] is None  # source wins
    assert rows[3]["name"] == "c" and rows[3]["bal"] is None
    with _pytest.raises(ValueError):
        upsert_scd1_evolving(target, source, ["missing_key"])


def test_hll_accuracy_and_merge(spark):
    from incremental_data_pipeline_spark.operators import sketches
    from incremental_data_pipeline_spark.sources.readers import load_table

    ev = load_table(spark, SF_DIR, "events")
    exact = ev.filter(F.col("user_id").isNotNull()).select("user_id").distinct().count()
    reg = sketches.hll_registers(ev, ["user_id"], p=10)
    row = sketches.hll_estimate(reg, p=10).collect()[0]
    # HLL relative stderr ~ 1.04/sqrt(1024) = 3.25%; allow ~5 sigma.
    assert abs(row["est_distinct"] - exact) / exact < 0.17
    assert row["m"] == 1024
    assert row["sum_scaled"] > 0
    # mergeability: sketches of two disjoint halves, folded by per-bucket
    # max, ARE the sketch of the whole (max is associative).
    lo = ev.filter(F.col("event_id") % 2 == 0)
    hi = ev.filter(F.col("event_id") % 2 == 1)
    folded = sketches.hll_merge(
        sketches.hll_registers(lo, ["user_id"], p=10),
        sketches.hll_registers(hi, ["user_id"], p=10),
    )
    direct = {(r["bucket"], r["register"]) for r in reg.collect()}
    assert {(r["bucket"], r["register"]) for r in folded.collect()} == direct


def test_hll_exact_small_via_linear_counting(spark):
    from incremental_data_pipeline_spark.operators import sketches

    df = spark.createDataFrame([(i % 7,) for i in range(100)], "v long")
    row = sketches.hll_estimate(
        sketches.hll_registers(df, ["v"], p=10), p=10
    ).collect()[0]
    # 7 distinct values, 1024 buckets: linear counting m*ln(m/(m-7)) is
    # within rounding of the truth for tiny cardinalities.
    assert abs(row["est_distinct"] - 7.0) < 0.5
    assert row["zero_buckets"] == 1024 - 7  # no bucket collisions among 7


def test_hll_nulls_dropped_and_empty_input(spark):
    from incremental_data_pipeline_spark.operators import sketches

    df = spark.createDataFrame([(None,), (1,), (None,)], "v long")
    reg = sketches.hll_registers(df, ["v"], p=10)
    assert reg.count() == 1  # only the non-NULL value sketched
    empty = df.filter(F.col("v") > 99)
    row = sketches.hll_estimate(
        sketches.hll_registers(empty, ["v"], p=10), p=10
    ).collect()[0]
    assert row["est_distinct"] == 0.0
    assert row["zero_buckets"] == 1024


def test_fs_sorted_neighborhood_candidates_and_nulls(spark):
    from incremental_data_pipeline_spark.operators import linkage

    rows = [
        # block g1: 4 records sorted by name a,b,c,d
        (1, "g1", "a", "x", 10),
        (2, "g1", "b", "x", 10),
        (3, "g1", "c", "y", 20),
        (4, "g1", "d", None, 20),
        # block g2: 2 records, one NULL field
        (5, "g2", "a", None, 30),
        (6, "g2", "b", None, 30),
    ]
    df = spark.createDataFrame(
        rows, "id long, blk string, nm string, f1 string, f2 int"
    )
    out = linkage.fs_sorted_neighborhood(
        df, "id", ["blk"], ["nm"], ["f1", "f2"], window=2, m_prob=0.9
    ).collect()
    # candidates per block: sum over k in 1..2 of max(0, size-k)
    assert len(out) == (3 + 2) + (1 + 0)
    by_pair = {(r["id_a"], r["id_b"]): r for r in out}
    # NULL = NULL agrees (null-safe), NULL vs value does not
    assert by_pair[(5, 6)]["agree_f1"] is True
    assert by_pair[(3, 4)]["agree_f1"] is False
    # agreement on a field must strictly raise the score
    assert by_pair[(1, 2)]["score"] > by_pair[(1, 3)]["score"]


def test_fs_rare_field_outweighs_common(spark):
    from incremental_data_pipeline_spark.operators import linkage

    # f_rare: almost all distinct (low collision probability u), with ONE
    # engineered adjacent agreement; f_common: 2 values, with one
    # engineered adjacent agreement where f_rare disagrees. Both
    # agreement patterns exist BY CONSTRUCTION (asserted below), so the
    # property cannot silently go untested.
    rows = []
    for i in range(40):
        f_rare = "shared" if i in (10, 11) else f"r{i}"
        f_common = 0 if i in (20, 21) else i % 2
        rows.append((i, "b", f"n{i:02d}", f_rare, f_common))
    df = spark.createDataFrame(
        rows, "id long, blk string, nm string, f_rare string, f_common int"
    )
    out = linkage.fs_sorted_neighborhood(
        df, "id", ["blk"], ["nm"], ["f_rare", "f_common"], window=1
    )
    a = out.filter(F.col("agree_f_rare") & ~F.col("agree_f_common")).collect()
    b = out.filter(~F.col("agree_f_rare") & F.col("agree_f_common")).collect()
    assert a, "engineered rare-agree pair (10,11) missing"
    assert b, "engineered common-agree pair (20,21) missing"
    # agreeing on the rare field is stronger evidence than agreeing on
    # the common one
    assert min(r["score"] for r in a) > max(r["score"] for r in b)


def test_fs_min_score_filters(spark):
    from incremental_data_pipeline_spark.operators import linkage
    from incremental_data_pipeline_spark.sources.readers import load_table

    part = load_table(spark, SF_DIR, "part").withColumn(
        "name_head", F.split(F.col("p_name"), " ")[0]
    )
    out = linkage.fs_sorted_neighborhood(
        part, "p_partkey", ["p_brand"], ["p_name"],
        ["name_head", "p_type", "p_size"], window=3, min_score=0.0,
    )
    rows = out.collect()
    assert all(r["score"] >= 0.0 for r in rows)


def test_nb_learns_separable_vocab(spark):
    from incremental_data_pipeline_spark.operators import text as t

    rows = []
    for i in range(60):
        lab = ("aa", "bb")[i % 2]
        word = {"aa": "apple", "bb": "banana"}[lab]
        rows.append((i, f"{word} {word} common", lab))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    conf = {
        (r["lang"], r["pred"]): r["n_docs"]
        for r in t.nb_unigram_confusion(df, ("aa", "bb")).collect()
    }
    # test fold = doc_id % 5 == 0 -> 12 docs, perfectly classifiable
    assert conf.get(("aa", "aa"), 0) + conf.get(("bb", "bb"), 0) == 12
    assert all(k[0] == k[1] for k in conf)


def test_nb_unseen_words_and_tiebreak(spark):
    from incremental_data_pipeline_spark.operators import text as t

    rows = [
        (0, "zzz zzz", "aa"),   # test doc: all tokens unseen in train
        (5, "zzz", "bb"),       # test doc: unseen token
        (1, "apple", "aa"),
        (2, "banana", "bb"),
        (3, "apple", "aa"),
        (4, "banana", "bb"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = t.nb_unigram_confusion(df, ("aa", "bb")).collect()
    # unseen-only docs: likelihoods equal across classes, priors equal
    # (2 train docs each) -> decimal tie -> first label in tuple wins
    preds = {r["lang"]: r["pred"] for r in out}
    assert preds["aa"] == "aa" and preds["bb"] == "aa"


def test_target_encode_loo_excludes_self(spark):
    from incremental_data_pipeline_spark.plans.queries import QUERIES

    rows = QUERIES["target_encode_loo"](spark, SF_DIR).collect()
    from incremental_data_pipeline_spark.sources.readers import load_table
    o = load_table(spark, SF_DIR, "orders").collect()
    import collections
    tot = collections.defaultdict(float)
    cnt = collections.Counter()
    for r in o:
        tot[r["o_orderpriority"]] += r["o_totalprice"]
        cnt[r["o_orderpriority"]] += 1
    by_key = {r["o_orderkey"]: r for r in o}
    for r in rows[:50]:
        src = by_key[r["o_orderkey"]]
        p = src["o_orderpriority"]
        if cnt[p] > 1:
            expect = (tot[p] - src["o_totalprice"]) / (cnt[p] - 1)
            assert abs(r["loo_enc"] - expect) < 1e-6


def test_fs_global_mode_matches_window_reference(spark):
    from pyspark.sql import Window as W

    from incremental_data_pipeline_spark.operators import linkage

    rows = [(i, f"n{(i * 7) % 40:03d}", f"v{i % 5}", i % 3) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, nm string, f1 string, f2 int")
    out = linkage.fs_sorted_neighborhood(
        df, "id", [], ["nm"], ["f1", "f2"], window=3
    )
    got = sorted((r["id_a"], r["id_b"], r["score"]) for r in out.collect())
    # reference: plain global lead() window (single partition, fine at
    # test scale) must produce the identical pair set and scores
    w = W.orderBy("nm", "id")
    ref_pairs = []
    led = df
    for k in (1, 2, 3):
        led = (
            led.withColumn(f"i{k}", F.lead("id", k).over(w))
            .withColumn(f"a{k}", F.lead("f1", k).over(w))
            .withColumn(f"b{k}", F.lead("f2", k).over(w))
        )
    for r in led.collect():
        for k in (1, 2, 3):
            if r[f"i{k}"] is not None:
                ref_pairs.append((r["id"], r[f"i{k}"]))
    assert len(got) == sum(40 - k for k in (1, 2, 3))
    assert sorted(p[:2] for p in got) == sorted(ref_pairs)


def test_keygen_rejects_reserved_names_and_scalable_rank_is_exact(
    spark, monkeypatch
):
    import pytest as _pytest

    from incremental_data_pipeline_spark.operators import scd
    from incremental_data_pipeline_spark.operators.scd import assign_surrogate_keys

    df = spark.createDataFrame([(i, f"n{i:02d}") for i in range(20)], "id long, nm string")
    # reserved scratch names fail loudly instead of being silently dropped
    # by the scalable path's cleanup (the sf10 FS-linkage lesson)
    for bad in ("__rn", "__bkt", "__off"):
        with _pytest.raises(ValueError):
            assign_surrogate_keys(df, bad, ["nm", "id"])
    # forced-scalable rank with a non-reserved name == exact row_number,
    # through the MULTI-BUCKET prefix-sum path: at the default 1M
    # rows-per-bucket the boundary sampler returns no split points on 20
    # rows and the assertion would only cover the single-window fallback,
    # so shrink the bucket size until real range buckets engage.
    monkeypatch.setattr(scd, "SCALABLE_KEY_ROWS_PER_BUCKET", 5)
    out = assign_surrogate_keys(df, "__fs_rn", ["nm", "id"], scalable=True)
    rows = sorted((r["nm"], r["__fs_rn"]) for r in out.collect())
    assert [r[1] for r in rows] == list(range(1, 21))


def test_chi2_selects_discriminative_words(spark):
    from incremental_data_pipeline_spark.operators import text as t

    rows = []
    for i in range(60):
        lab = ("aa", "bb")[i % 2]
        word = {"aa": "apple", "bb": "banana"}[lab]
        rows.append((i, f"{word} common filler", lab))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = t.chi2_top_terms(df, ("aa", "bb"), k=3).collect()
    # chi2 is SYMMETRIC: a perfect negative indicator scores exactly as
    # high as a positive one (both tables are maximal-association), so
    # each class's top-2 are {apple, banana} with identical chi2, ties
    # broken alphabetically.
    for lab in ("aa", "bb"):
        ranked = sorted(
            (r["rank"], r["word"]) for r in out if r["label"] == lab
        )
        assert [w for _, w in ranked[:2]] == ["apple", "banana"]
    # words in every doc ('common', 'filler') are excluded by the margin
    # filter, never ranked
    assert all(r["word"] not in ("common", "filler") for r in out)
    # the perfect indicator's chi2 equals N (maximal association)
    n_train = sum(1 for i in range(60) if i % 5 != 0)
    for r in out:
        if r["rank"] == 1:
            assert abs(r["chi2"] - n_train) < 1e-9


def test_hll_estimate_saturation_branches_cross_engine(spark):
    """The large-range/saturation branches can't be reached from fixture
    data (they need ~1e8+ distinct values), so pin them on SYNTHETIC
    register tables: every bucket at rho=22 exercises the large-range
    ln correction (whose argument is a small positive number), every
    bucket at rho=23 drives e_raw past 2^32 where ln's argument would be
    non-positive — Spark would NULL while DuckDB raises, so the operator
    clamps to the 2^32 domain bound. Both engines must agree exactly in
    both branches."""
    import duckdb

    from incremental_data_pipeline_spark.operators import sketches as sk

    for rho, branch in ((22, "large_ln"), (23, "saturated_clamp")):
        regs = spark.createDataFrame(
            [(b, rho) for b in range(1024)], "bucket int, register int"
        )
        row = sk.hll_estimate(regs, p=10).collect()[0]
        est_spark = row["est_distinct"]
        assert est_spark is not None, branch
        con = duckdb.connect()
        sql = f"""
        WITH __reg AS (
          SELECT CAST(range AS INTEGER) AS bucket, CAST({rho} AS INTEGER) AS register
          FROM range(1024)),
        __agg AS ({sk.hll_agg_sql('__reg', 10)})
        SELECT {sk.hll_est_expr_sql(10)} AS est FROM __agg
        """
        est_duck = con.execute(sql).fetchone()[0]
        assert est_spark == est_duck, (branch, est_spark, est_duck)
        if branch == "saturated_clamp":
            assert est_spark == float(1 << 32)  # documented sentinel
        else:
            # the large-range correction legitimately extrapolates PAST
            # the hash domain (it models collisions); just require a
            # finite positive value strictly above the raw estimate
            import math

            e_raw = 6.3e12 / 2048  # alpha*m^2*2^23 / sum_scaled, roughly
            assert est_spark > e_raw and math.isfinite(est_spark)


def test_hll_rollup_levels_consistent(spark):
    from incremental_data_pipeline_spark.operators import sketches as sk
    from incremental_data_pipeline_spark.plans.queries import QUERIES
    from incremental_data_pipeline_spark.sources.readers import load_table

    rows = QUERIES["hll_rollup_users_by_type"](spark, SF_DIR).collect()
    per_type = {r["key"]: r["est_distinct"] for r in rows if r["level"] == "type"}
    total = [r["est_distinct"] for r in rows if r["level"] == "all"]
    assert len(total) == 1 and per_type
    # the merged-cells estimate must equal the direct global sketch's
    ev = load_table(spark, SF_DIR, "events")
    direct = sk.hll_estimate(
        sk.hll_registers(ev, ["user_id"], p=10), p=10
    ).collect()[0]["est_distinct"]
    assert total[0] == direct
    # distinct users overall <= sum of per-type distincts (set union),
    # within sketch error
    assert total[0] <= sum(per_type.values()) * 1.2


def test_nb_and_chi2_reject_absent_declared_label(spark):
    """A declared label with zero train-fold documents would need ln(0)
    priors (NB) or a zero (a+c) margin (chi²) — Spark NULL/NaN where
    DuckDB raises. Both operators reject the configuration loudly; the
    SQL twins carry COALESCE(..., 0) so even an un-validated caller sees
    the same integers in both engines."""
    import pytest as _pytest

    from incremental_data_pipeline_spark.operators import text as t

    rows = [(i, "hello world", "en") for i in range(1, 30)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    with _pytest.raises(ValueError, match="zz"):
        t.nb_unigram_confusion(df, ("en", "zz"))
    with _pytest.raises(ValueError, match="zz"):
        t.chi2_top_terms(df, ("en", "zz"))
    # the SQL twins embed the COALESCE guard
    assert "COALESCE((SELECT t FROM tl" in t.nb_unigram_confusion_sql(("en", "zz"))
    assert "COALESCE((SELECT n FROM nl" in t.chi2_top_terms_sql(("en", "zz"))


def test_hll_registers_sql_multicolumn_matches_spark(spark):
    """The list form of ``hll_registers_sql`` must reproduce the Spark
    side's multi-column key (concat_ws('|', ...) preimage) register for
    register — the r9 ADVICE latent divergence, now pinned."""
    import duckdb

    from incremental_data_pipeline_spark.operators import sketches as sk

    rows = [(i % 7, f"u{i % 13}") for i in range(200)]
    df = spark.createDataFrame(rows, "a int, b string")
    got = sorted(
        (r["bucket"], r["register"])
        for r in sk.hll_registers(df, ["a", "b"], p=10).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT range % 7 AS a, 'u' || (range % 13) AS b"
        " FROM range(200)"
    )
    inner = "SELECT a, b FROM t WHERE a IS NOT NULL AND b IS NOT NULL"
    want = sorted(
        tuple(r)
        for r in con.execute(sk.hll_registers_sql(inner, ["a", "b"], p=10)).fetchall()
    )
    assert got == want


def test_fs_sorted_neighborhood_sort_cols_overlap_fields(spark):
    """Sorting by a compared field (the natural SNM parameterization)
    must not blow up on duplicate projection names — r9 ADVICE."""
    from incremental_data_pipeline_spark.operators import linkage as lk

    rows = [(i, f"n{i % 5}", f"c{i % 3}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, nm string, city string")
    # global branch: sort key IS a compared field
    out = lk.fs_sorted_neighborhood(
        df, "id", [], ["nm"], ["nm", "city"], window=2
    )
    assert out.count() == 40 * 2 - (1 + 2)
    # blocked branch: block key AND sort key overlap the fields
    out_b = lk.fs_sorted_neighborhood(
        df, "id", ["city"], ["nm"], ["nm", "city"], window=1
    )
    assert out_b.count() > 0
    assert set(out_b.columns) == {"id_a", "id_b", "agree_nm", "agree_city", "score"}
