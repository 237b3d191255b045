"""Property-based tests (hypothesis): operator invariants that must hold on
ANY input, not just the fixtures. Spark sessions are expensive, so examples
are capped small and deadlines disabled."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

SMALL = {
    "max_examples": 15,
    "deadline": None,
    "suppress_health_check": [HealthCheck.function_scoped_fixture],
}

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # key
        st.integers(min_value=0, max_value=100),  # ts
        st.integers(min_value=0, max_value=999),  # payload
    ),
    min_size=0,
    max_size=25,
)


@given(left=rows_strategy, right=rows_strategy)
@settings(**SMALL)
def test_asof_join_matches_python_reference(spark, left, right):
    """asof_join == the obvious per-row Python maximum-prior lookup."""
    from incremental_data_pipeline_spark.operators.relational import asof_join

    # dedup right per (key, ts) keeping max payload => deterministic
    rmap = {}
    for k, t, v in right:
        rmap[(k, t)] = max(rmap.get((k, t), -1), v)
    rdata = [(k, t, v) for (k, t), v in rmap.items()]

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t, _) in enumerate(left)] or [(None, None, None)],
        "row_id int, k int, ts int",
    ).filter("row_id IS NOT NULL")
    rdf = spark.createDataFrame(
        rdata or [(None, None, None)], "k int, rts int, v int"
    ).filter("k IS NOT NULL")

    got = {
        r["row_id"]: r["v"]
        for r in asof_join(ldf, rdf, ["k"], "ts", "rts", ["v"]).collect()
    }
    for i, (k, t, _) in enumerate(left):
        # reference: payload of the row with the greatest ts <= t (unique per ts)
        best_ts = max((tt for kk, tt, vv in rdata if kk == k and tt <= t), default=None)
        expect = rmap.get((k, best_ts)) if best_ts is not None else None
        assert got.get(i) == expect, (i, k, t, got.get(i), expect)


@given(
    keys=st.lists(st.text(alphabet="abcde", min_size=1, max_size=3), min_size=0, max_size=30)
)
@settings(**SMALL)
def test_surrogate_keys_dense_unique_from_base(spark, keys):
    """Keys are dense 1..N over distinct natural keys, for both the global
    and the scalable generator (SURVEY §2.9 #3 normalization)."""
    from incremental_data_pipeline_spark.operators.scd import assign_surrogate_keys

    df = spark.createDataFrame([(k,) for k in keys] or [(None,)], "nk string").filter(
        "nk IS NOT NULL"
    ).distinct()
    n = df.count()
    for scalable in (False, True):
        out = assign_surrogate_keys(df, "sk", ["nk"], base=0, scalable=scalable)
        got = sorted(r["sk"] for r in out.collect())
        assert got == list(range(1, n + 1)), (scalable, got)


@given(
    texts=st.lists(
        st.text(alphabet="abc d", min_size=0, max_size=20), min_size=1, max_size=10
    )
)
@settings(**SMALL)
def test_exact_dedup_partitions_corpus(spark, texts):
    """Every doc belongs to exactly one content group; group sizes sum to
    the corpus size; canonical ids are members of their own group."""
    from incremental_data_pipeline_spark.operators.dedup import exact_dedup_groups

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    groups = exact_dedup_groups(df, "text", "doc_id").collect()
    assert sum(g["n_copies"] for g in groups) == len(texts)
    ids = [g["keep_id"] for g in groups]
    assert len(set(ids)) == len(ids)


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=8, deadline=None)
def test_connected_components_matches_union_find(spark, edges):
    """Distributed min-label CC == classic driver-side union-find, for any
    random edge list (self-loops and duplicates included)."""
    from incremental_data_pipeline_spark.operators.dedup import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # canonical min-id per component
    expected = {}
    for node in list(parent):
        root = find(node)
        comp_min = min(n for n in parent if find(n) == root)
        expected[node] = comp_min

    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {
        r["node"]: r["cluster_id"] for r in connected_components(df).collect()
    }
    assert got == expected


@given(
    st.lists(st.integers(0, 20000), min_size=1, max_size=60),
    st.sampled_from([60, 1800, 3600]),
)
@settings(max_examples=6, deadline=None)
def test_sessionize_matches_python_reference(spark, offsets, gap_s):
    """Gap-based sessionization == a sorted linear scan, including gaps
    exactly AT the threshold (> means a gap of exactly gap_s stays in the
    same session)."""
    import datetime

    from incremental_data_pipeline_spark.operators.relational import sessionize

    base = datetime.datetime(2024, 1, 1)
    rows = [(1, base + datetime.timedelta(seconds=o)) for o in sorted(set(offsets))]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {
        r["ts"]: r["session_idx"]
        for r in sessionize(df, ["user_id"], "ts", gap_s // 60).collect()
    }
    expected, sid, prev = {}, 0, None
    for _, ts in rows:
        if prev is None or (ts - prev).total_seconds() > gap_s:
            sid += 1
        expected[ts] = sid
        prev = ts
    assert got == expected


@given(
    anchors=rows_strategy,
    probes=rows_strategy,
    w=st.integers(min_value=1, max_value=50),
)
@settings(**SMALL)
def test_interval_count_join_matches_python_reference(spark, anchors, probes, w):
    """Bucketed interval join == the obvious per-anchor Python count of
    probes in (ts, ts+w], for any key/time layout and window size."""
    from pyspark.sql import functions as F

    from incremental_data_pipeline_spark.operators.relational import (
        interval_count_join,
    )

    adf = (
        spark.createDataFrame(
            [(i, k, t) for i, (k, t, _) in enumerate(anchors)] or [(None,) * 3],
            "aid int, k int, tsec int",
        )
        .filter("aid IS NOT NULL")
        .withColumn("ts", F.col("tsec").cast("timestamp"))
        .drop("tsec")
    )
    pdf = (
        spark.createDataFrame(
            [(k, t) for k, t, _ in probes] or [(None, None)], "k int, tsec int"
        )
        .filter("k IS NOT NULL")
        .withColumn("ts", F.col("tsec").cast("timestamp"))
        .drop("tsec")
    )
    got = {
        r["aid"]: r["n_in_window"]
        for r in interval_count_join(adf, pdf, ["k"], "ts", w, "aid").collect()
    }
    for i, (k, t, _) in enumerate(anchors):
        want = sum(1 for kk, tt, _ in probes if kk == k and t < tt <= t + w)
        assert got.get(i) == want, (i, k, t, w)


@given(old=rows_strategy, new=rows_strategy)
@settings(**SMALL)
def test_snapshot_diff_matches_python_reference(spark, old, new):
    """snapshot_diff == dict-diff semantics for any pair of snapshots
    (last row per key wins on duplicate keys is NOT assumed — keys are
    deduped first to honor the operator's unique-key contract)."""
    from incremental_data_pipeline_spark.operators.cdc import snapshot_diff

    omap = {k: (t, v) for k, t, v in old}
    nmap = {k: (t, v) for k, t, v in new}
    odata = [(k, t, v) for k, (t, v) in omap.items()]
    ndata = [(k, t, v) for k, (t, v) in nmap.items()]

    odf = spark.createDataFrame(
        odata or [(None, None, None)], "k int, a int, b int"
    ).filter("k IS NOT NULL")
    ndf = spark.createDataFrame(
        ndata or [(None, None, None)], "k int, a int, b int"
    ).filter("k IS NOT NULL")
    got = {
        r["k"]: (r["op"], r["a"], r["b"])
        for r in snapshot_diff(odf, ndf, ["k"], ["a", "b"]).collect()
    }
    want = {}
    for k in set(omap) | set(nmap):
        if k not in omap:
            want[k] = ("insert", *nmap[k])
        elif k not in nmap:
            want[k] = ("delete", None, None)
        elif omap[k] != nmap[k]:
            want[k] = ("update", *nmap[k])
    assert got == want


@given(rows=rows_strategy, cut=st.integers(min_value=0, max_value=100))
@settings(**SMALL)
def test_merge_partial_aggs_invariant_any_cut(spark, rows, cut):
    """gold(<=cut) merged with batch(>cut) == full aggregate, for any data
    and any cut point."""
    from pyspark.sql import functions as F

    from incremental_data_pipeline_spark.operators.cdc import merge_partial_aggs

    df = spark.createDataFrame(
        rows or [(None, None, None)], "k int, t int, v int"
    ).filter("k IS NOT NULL")
    sums = {
        "s": F.sum("v").cast("long"),
        "n": F.count(F.lit(1)).cast("long"),
    }
    gold = df.filter(F.col("t") <= cut).groupBy("k").agg(
        *[c.alias(n) for n, c in sums.items()]
    )
    merged = merge_partial_aggs(gold, df.filter(F.col("t") > cut), ["k"], sums)
    got = {r["k"]: (r["s"], r["n"]) for r in merged.collect()}
    want = {}
    for k, _, v in rows:
        s, n = want.get(k, (0, 0))
        want[k] = (s + v, n + 1)
    assert got == want


nullable_key = st.one_of(st.none(), st.integers(min_value=0, max_value=6))
nullable_attr = st.one_of(st.none(), st.sampled_from(["x", "y"]))


def _sorted_rows(rows):
    return sorted(map(tuple, rows), key=repr)


@given(
    stored=st.lists(st.tuples(nullable_key, nullable_attr), max_size=8),
    sks=st.randoms(use_true_random=False),
    change=st.dictionaries(nullable_key, nullable_attr, max_size=8),
    copies=st.integers(min_value=1, max_value=3),
    scalable=st.booleans(),
    headroom=st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
)
@settings(**SMALL)
def test_build_dim_matches_python_reference(
    spark, monkeypatch, stored, sks, change, copies, scalable, headroom
):
    """build_dim's SCD1 upsert == a dict model: a stored key in the change
    set takes the new attribute and keeps its surrogate, a stored key
    outside it passes through, and every other key of the change set —
    a NULL key matches nothing — gets ``max_key`` + its rank in natural
    key order (NULLS FIRST). Duplicate change rows carry equal attrs;
    ``max_key`` is None (aggregated) or the committed high-water mark."""
    from incremental_data_pipeline_spark.operators import scd

    monkeypatch.setattr(scd, "SCALABLE_KEY_ROWS_PER_BUCKET", 2)  # several buckets
    stored = list({k: (k, a) for k, a in stored if k is not None}.values()) + [
        (k, a) for k, a in stored if k is None
    ]
    keys = list(range(1, len(stored) + 1))
    sks.shuffle(keys)
    dim = [(sk, k, a) for sk, (k, a) in zip(keys, stored)]
    source = [(k, a) for k, a in change.items()] * copies
    top = max(keys, default=0)
    max_key = None if headroom is None else top + headroom

    existing = spark.createDataFrame(dim, "sk long, k int, a string") if dim else None
    src = spark.createDataFrame(source, "k int, a string")
    got = scd.build_dim(src, ["k"], ["a"], "sk", existing, scalable, max_key)

    by_key = {k: (sk, a) for sk, k, a in dim if k is not None}
    want = [(sk, k, change[k] if k in change else a) for k, (sk, a) in by_key.items()]
    want += [row for row in dim if row[1] is None]
    fresh = sorted((k for k in change if k is None or k not in by_key),
                   key=lambda k: (k is not None, k or 0))
    base = 0 if existing is None else (max_key if max_key is not None else top)
    want += [(base + i, k, change[k]) for i, k in enumerate(fresh, 1)]
    assert _sorted_rows(got.collect()) == _sorted_rows(want)


scd2_key = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
scd2_time = st.integers(min_value=0, max_value=6)
scd2_version = st.tuples(nullable_attr, scd2_time)


@given(
    current=st.dictionaries(scd2_key, scd2_version, max_size=4),
    history=st.lists(
        st.tuples(scd2_key, nullable_attr, st.integers(min_value=0, max_value=3)), max_size=4
    ),
    batch=st.dictionaries(
        scd2_key, st.tuples(nullable_attr, st.one_of(st.none(), scd2_time)), max_size=4
    ),
    tracked=st.booleans(),
)
@example(current={1: (None, 0)}, history=[], batch={1: (None, 1), 2: ("x", 1)}, tracked=False)
@example(current={1: ("a", 1), 2: ("b", 1)}, history=[], batch={1: ("z", None)}, tracked=True)
@settings(**SMALL)
def test_scd2_ordered_matches_python_reference(spark, current, history, batch, tracked):
    """upsert_scd2_ordered == a per-key model: a source row with no
    effective time is ignored, one at or before the open version's start
    is late or replayed and ignored, an equal attribute (any, for no
    tracked attributes) passes the version through, a changed one closes
    it and opens the new one at the source's time, and a key with no
    open version (a NULL key matches nothing) opens one. History passes
    through, and re-applying the batch's keyed rows changes nothing."""
    from incremental_data_pipeline_spark.operators.scd import upsert_scd2_ordered

    attrs = ["a"] if tracked else []
    cut = (lambda row: row) if tracked else (lambda row: row[:1] + row[2:])
    target = [(k, a, f, None, True) for k, (a, f) in current.items()]
    target += [(k, a, f, f + 1, False) for k, a, f in history]
    schema = "k int, a string, valid_from int, valid_to int, is_current boolean"
    tdf = spark.createDataFrame(target or [(None,) * 5], schema).filter(
        "is_current IS NOT NULL"
    ).select("k", *attrs, "valid_from", "valid_to", "is_current")
    sdf = spark.createDataFrame(
        [(k, a, e, True) for k, (a, e) in batch.items()] or [(None,) * 4],
        "k int, a string, eff int, real boolean",
    ).filter("real IS NOT NULL").drop("real")
    got = upsert_scd2_ordered(tdf, sdf, ["k"], attrs, "eff")

    batch = {k: v for k, v in batch.items() if v[1] is not None}  # undated: no event
    want = [row for row in target if not row[4]]
    for k, (a, f) in current.items():
        if k is None or k not in batch:
            want.append((k, a, f, None, True))
            continue
        new_a, eff = batch[k]
        if eff <= f or not tracked or new_a == a:
            want.append((k, a, f, None, True))
        else:
            want += [(k, a, f, eff, False), (k, new_a, eff, None, True)]
    want += [(k, a, e, None, True) for k, (a, e) in batch.items()
             if k is None or k not in current]
    rows = _sorted_rows(got.collect())
    assert rows == _sorted_rows(map(cut, want))
    keyed = sdf.filter("k IS NOT NULL")  # a NULL key is new every time
    replayed = upsert_scd2_ordered(got, keyed, ["k"], attrs, "eff")
    assert _sorted_rows(replayed.collect()) == rows


def test_surrogate_keys_auto_selects_by_size(spark, monkeypatch):
    """scalable=None probes size with an early-terminating limit-count:
    small inputs keep the single-window plan (no bucket column), inputs
    over the threshold switch to the range-bucketed prefix sum (bucket
    window visible in the plan, lazy — no checkpoint LogicalRDD) — and
    the keys are identical either way for unique order keys."""
    from pyspark.sql import functions as F

    from incremental_data_pipeline_spark.operators import scd

    df = spark.range(100).select(F.col("id").alias("nk"))
    small = scd.assign_surrogate_keys(df, "sk", ["nk"])
    plan_small = small._jdf.queryExecution().optimizedPlan().toString()
    assert "__bkt" not in plan_small

    monkeypatch.setattr(scd, "SCALABLE_KEY_THRESHOLD", 10)
    monkeypatch.setattr(scd, "SCALABLE_KEY_ROWS_PER_BUCKET", 10)
    big = scd.assign_surrogate_keys(df, "sk", ["nk"])
    plan_big = big._jdf.queryExecution().optimizedPlan().toString()
    # bucket-windowed prefix-sum path, and lazy: a localCheckpoint would
    # show up as a LogicalRDD scan replacing the real lineage.
    assert "__bkt" in plan_big
    assert "logicalrdd" not in plan_big.lower()
    assert "__bkt" not in big.columns
    assert [r["sk"] for r in big.orderBy("nk").collect()] == list(range(1, 101))
    assert [r["sk"] for r in small.orderBy("nk").collect()] == list(range(1, 101))


def test_surrogate_keys_degenerate_keys_warn_and_stay_correct(spark, monkeypatch, caplog):
    """When the input is over the scalable threshold but every order key
    is identical (no range boundaries exist), the operator must fall back
    to the single-window sort WITH a logged warning — the degradation has
    to be visible at scale — and the keys must still be dense and
    correct (ties take unspecified order, so only the key SET is
    pinned)."""
    import logging

    from pyspark.sql import functions as F

    from incremental_data_pipeline_spark.operators import scd

    monkeypatch.setattr(scd, "SCALABLE_KEY_THRESHOLD", 10)
    df = spark.range(50).select(F.lit("same").alias("nk"), F.col("id").alias("v"))
    with caplog.at_level(logging.WARNING, logger="incremental_data_pipeline_spark.operators.scd"):
        out = scd.assign_surrogate_keys(df, "sk", ["nk"])
        got = sorted(r["sk"] for r in out.collect())
    assert got == list(range(1, 51))
    assert any("single-task global window" in r.message for r in caplog.records)


def test_triangle_auto_batching_engages_on_tight_scratch(spark, monkeypatch):
    """The auto estimator must pick K > 1 when free scratch is small
    relative to the estimated wedge shuffle, and the batched result must
    still match the forced single-job run."""
    from incremental_data_pipeline_spark.operators import graph

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    df = spark.createDataFrame(k4 + [(5, 1)], "src long, dst long")
    single = sorted(map(tuple, graph.triangle_count(df, n_batches=1).collect()))
    # pretend the scratch volume is 16 bytes: any wedge estimate exceeds it
    monkeypatch.setattr(graph, "_free_scratch_bytes", lambda _spark: 32)
    auto = sorted(map(tuple, graph.triangle_count(df).collect()))
    assert auto == single


def test_surrogate_keys_scalable_multi_bucket_with_nulls_and_strings(spark, monkeypatch):
    """Scalable keygen on a composite (string, int) key with NULL-bearing
    rows matches the single-window global row_number exactly (NULLS FIRST
    ordering), across many buckets."""
    from pyspark.sql import functions as F

    from incremental_data_pipeline_spark.operators import scd

    monkeypatch.setattr(scd, "SCALABLE_KEY_ROWS_PER_BUCKET", 25)
    rows = [(f"k{i % 37:02d}" if i % 11 else None, i) for i in range(500)]
    df = spark.createDataFrame(rows, "a string, b int")
    got = scd.assign_surrogate_keys(df, "sk", ["a", "b"], base=7, scalable=True)
    want = scd.assign_surrogate_keys(df, "sk", ["a", "b"], base=7, scalable=False)
    key = lambda r: (r["a"] is not None, r["a"] or "", r["b"])  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)


interval_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),    # entity key
        st.integers(min_value=0, max_value=40),   # start day
        st.integers(min_value=0, max_value=15),   # duration
    ),
    min_size=0,
    max_size=18,
)


@given(rows=interval_rows)
@settings(**SMALL)
def test_interval_overlap_matches_python_reference(spark, rows):
    """The per-entity interval-overlap pair count equals the brute-force
    O(n²) Python reference on ANY interval set (touching endpoints count:
    closed intervals)."""
    import datetime
    import itertools

    from pyspark.sql import functions as F

    base = datetime.date(2024, 1, 1)
    spans = [
        (i, k, base + datetime.timedelta(days=s), base + datetime.timedelta(days=s + d))
        for i, (k, s, d) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        spans or [(None, None, None, None)], "oid int, k int, s date, e date"
    ).filter("oid IS NOT NULL")
    a, b = df.alias("a"), df.alias("b")
    got = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.oid") < F.col("b.oid"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        ).count()
    )
    want = sum(
        1
        for (i1, k1, s1, e1), (i2, k2, s2, e2) in itertools.combinations(spans, 2)
        if k1 == k2 and s1 <= e2 and s2 <= e1
    )
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["x", "y"]),                  # group key
            st.integers(min_value=-50, max_value=50),     # value (cents)
        ),
        min_size=1,
        max_size=30,
    ),
    cut=st.integers(min_value=0, max_value=30),
)
@settings(**SMALL)
def test_signed_merge_invariant_to_split_point(spark, rows, cut):
    """Folding a signed (insert/delete) delta into a base rollup gives the
    same result wherever the base/delta split falls — the retract-stream
    commutativity the streaming gold path relies on. Sign: negative
    payloads retract |v|; zero-count keys must agree too."""
    from pyspark.sql import functions as F

    from incremental_data_pipeline_spark.operators import cdc

    cut = min(cut, len(rows))
    base_rows, delta_rows = rows[:cut], rows[cut:]

    def frame(data):
        return spark.createDataFrame(
            [(k, 1 if v >= 0 else -1, abs(v)) for k, v in data]
            or [(None, None, None)],
            "k string, sign int, v int",
        ).filter("k IS NOT NULL")

    sums = {
        "n": F.sum("sign").cast("long"),
        "s": F.sum(F.col("sign") * F.col("v")).cast("long"),
    }
    base = frame(base_rows).groupBy("k").agg(*[c.alias(n) for n, c in sums.items()])
    merged = cdc.merge_partial_aggs(base, frame(delta_rows), ["k"], sums)
    whole = frame(rows).groupBy("k").agg(*[c.alias(n) for n, c in sums.items()])
    got = {r["k"]: (r["n"], r["s"]) for r in merged.collect()}
    want = {r["k"]: (r["n"], r["s"]) for r in whole.collect()}
    # a key can exist in one side with zero rows in the other; compare on
    # the union, treating absent as (0, 0)
    allk = set(got) | set(want)
    for k in allk:
        assert got.get(k, (0, 0)) == want.get(k, (0, 0)), (k, got, want)


@given(
    deltas=st.lists(
        st.integers(min_value=-(10**12), max_value=10**12),
        min_size=0,
        max_size=200,
    ),
    init=st.integers(min_value=0, max_value=10**12),
)
@settings(max_examples=200, deadline=None)
def test_clamped_prefix_closed_form_equals_sequential_fold(deltas, init):
    """The numpy closed form (prefix-sum minus running-min) is bit-identical
    to the sequential integer fold s_i = max(0, s_{i-1} + y_i) for any
    deltas and any non-negative seed — the contract both the CUSUM seams
    and the clamped balance rely on."""
    from incremental_data_pipeline_spark.operators.relational import clamped_prefix

    got = clamped_prefix(deltas, init=init).tolist()
    s, want = init, []
    for d in deltas:
        s = max(0, s + d)
        want.append(s)
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),     # key
            st.integers(min_value=0, max_value=50),    # order
            st.integers(min_value=-30, max_value=30),  # delta
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SMALL)
def test_clamped_balance_matches_python_reference(spark, rows):
    """The applyInPandas clamped scan equals the obvious per-key Python
    recurrence on ANY delta sequence (ties broken by a unique id)."""
    from incremental_data_pipeline_spark.operators.relational import (
        clamped_running_balance,
    )

    data = [(k, o, i, d) for i, (k, o, d) in enumerate(rows)]
    df = spark.createDataFrame(data, "k int, o int, id int, delta long")
    got = {
        r["k"]: (r["final_bal_cents"], r["n_steps"], r["n_clamps"])
        for r in clamped_running_balance(df, ["k"], ["o", "id"], "delta").collect()
    }
    want = {}
    for k in sorted({r[0] for r in data}):
        seq = sorted([r for r in data if r[0] == k], key=lambda r: (r[1], r[2]))
        bal = clamps = 0
        for _, _, _, d in seq:
            nb = bal + d
            if nb < 0:
                bal, clamps = 0, clamps + 1
            else:
                bal = nb
        want[k] = (bal, len(seq), clamps)
    assert got == want


@given(
    docs=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=40),
        min_size=2,
        max_size=10,
    )
)
@settings(**SMALL)
def test_prefix_jaccard_lossless_random(spark, docs):
    """The prefix-filtered (and length-filtered) Jaccard join finds
    EXACTLY the pairs the brute-force all-pairs computation finds, on
    arbitrary token multisets — the losslessness contract the PPJoin
    pruning must never break."""
    from incremental_data_pipeline_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filter_jaccard_pairs(
            df, "doc_id", "text", n=2, threshold=0.6
        ).collect()
    }

    def shingles(t):
        ws = t.split(" ")
        if len(ws) >= 2:
            return {f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)}
        return {" ".join(ws)}

    want = set()
    for i, (ia, ta) in enumerate(rows):
        for ib, tb in rows[i + 1 :]:
            a, b = shingles(ta), shingles(tb)
            if len(a | b) and len(a & b) / len(a | b) >= 0.6:
                want.add((ia, ib))
    assert got == want


corpus_strategy = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
        min_size=1,
        max_size=10,
    ).map(" ".join),
    min_size=0,
    max_size=10,
)


@given(texts=corpus_strategy)
@settings(**SMALL)
def test_containment_pairs_matches_python_reference(spark, texts):
    """containment_pairs equals the brute-force set-containment reference
    on ANY corpus (with max_df disabled): same pairs, same inner/outer
    orientation (smaller set inside, doc-id tiebreak), same score."""
    from incremental_data_pipeline_spark.operators import dedup

    def shingle_set(t):
        toks = t.split(" ")
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    docs = [(i, t) for i, t in enumerate(texts)]
    expected = {}
    for i, ta in docs:
        for j, tb in docs:
            if i >= j:
                continue
            sa, sb = shingle_set(ta), shingle_set(tb)
            inter = len(sa & sb)
            if (len(sa), i) <= (len(sb), j):
                inner, outer, denom = i, j, len(sa)
            else:
                inner, outer, denom = j, i, len(sb)
            c = inter / denom
            if c >= 0.7:
                expected[(inner, outer)] = c

    if not docs:
        return
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["inner_doc"], r["outer_doc"]): r["containment"]
        for r in dedup.containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.7, max_df=None
        ).collect()
    }
    assert got == expected
    # the lossless prefix-filtered variant finds the identical pair set
    got_prefix = {
        (r["inner_doc"], r["outer_doc"]): r["containment"]
        for r in dedup.prefix_filter_containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.7
        ).collect()
    }
    assert got_prefix == expected


@given(st.integers(min_value=1, max_value=2**17 - 1))
def test_dyadic_cover_partitions_prefix(q):
    """The dyadic cover of [0, q) is a DISJOINT partition: interval
    lengths sum to q and the concatenated intervals tile [0, q)."""
    from incremental_data_pipeline_spark.operators.sketches import dyadic_cover

    cover = dyadic_cover(q, 17)
    ivals = sorted((node << l, (node + 1) << l) for l, node in cover)
    assert sum(b - a for a, b in ivals) == q
    pos = 0
    for a, b in ivals:
        assert a == pos
        pos = b
    assert pos == q
