"""Similarity-search semantics: ANN candidates are a subset of the corpus
scored exactly like brute force; bucket assignment is balanced enough to
actually prune."""

from __future__ import annotations

from pyspark.sql import functions as F

from incremental_data_pipeline_spark.operators import similarity
from incremental_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_DIR, assert_query_matches_oracle


def test_ann_scores_match_brute_force_for_shared_pairs(spark):
    """For any (query, neighbor) pair both strategies surface, the cosine
    must be identical — same quantized math, bucketing only prunes."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    bf = similarity.brute_force_topk(emb, queries, k=100)
    ann = similarity.lsh_topk(emb, queries, k=3)
    joined = ann.alias("a").join(
        bf.alias("b"),
        (F.col("a.query_id") == F.col("b.query_id"))
        & (F.col("a.neighbor_id") == F.col("b.neighbor_id")),
    )
    diff = joined.filter(F.col("a.cosine") != F.col("b.cosine")).count()
    assert diff == 0


def test_lsh_buckets_prune(spark):
    """Bucketing must split the corpus (not collapse into one bucket)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    planes = similarity.hyperplanes(8, 64)
    from incremental_data_pipeline_spark.functions.vector import quantize

    b = emb.select(similarity._bucket(quantize("embedding"), planes).alias("bucket"))
    stats = b.groupBy("bucket").count()
    n_buckets = stats.count()
    biggest = stats.agg(F.max("count")).first()[0]
    total = emb.count()
    assert n_buckets > 16
    assert biggest < total * 0.2


def test_multimodal_decode_batch_shape(spark):
    """The Arrow decode path must preserve row count and produce the
    declared schema even on empty partitions."""
    from incremental_data_pipeline_spark.operators import multimodal

    docs = load_table(spark, SF_DIR, "documents").repartition(8)
    out = multimodal.decode_binary_metadata(multimodal.attach_binary(docs))
    assert out.count() == docs.count()
    assert [f.name for f in out.schema.fields] == [
        "doc_id",
        "n_bytes",
        "first_byte",
        "content_md5",
    ]


def test_embedding_near_dup_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "embedding_near_dup")


def test_embedding_near_dup_or2_oracle(spark, duck):
    """The MULTI-TABLE (OR-amplified) path against its DuckDB twin: both
    engines derive two independent plane sets, union the per-table bucket
    collisions, and confirm each candidate pair exactly once."""
    assert_query_matches_oracle(spark, duck, "embedding_near_dup_or2")


def test_or2_superset_of_single_table(spark):
    """Table 0 of the amplified variant IS the single-table plane set, so
    amplification can only add pairs, never lose one."""
    emb = load_table(spark, SF_DIR, "embeddings")
    one = {
        (r["left_id"], r["right_id"])
        for r in similarity.embedding_near_dup(emb, threshold=0.3).collect()
    }
    two = {
        (r["left_id"], r["right_id"])
        for r in similarity.embedding_near_dup(emb, threshold=0.3, num_tables=2).collect()
    }
    assert one <= two


def test_ann_ivf_topk_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "ann_ivf_topk")


def test_ivf_recall_vs_exact(spark):
    """IVF with nprobe=nlist degenerates to exact search: recall == 1."""
    from pyspark.sql import functions as F

    import os

    from incremental_data_pipeline_spark.operators import similarity as sim
    from incremental_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    codebook = sim.centroid_codebook(emb, nlist=4)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk(emb, q, k=3).collect()
    }
    ivf_all = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.ivf_topk(emb, q, codebook, k=3, nprobe=4).collect()
    }
    assert ivf_all == exact


def test_multimodal_frames_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "multimodal_frames")


def test_multimodal_features_shape(spark):
    """Feature stub: fixed dim, L1-normalized, one row per doc."""
    import math

    from incremental_data_pipeline_spark.operators import multimodal as mm
    from incremental_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    feats = mm.extract_features(mm.attach_binary(docs))
    rows = feats.collect()
    assert len(rows) == docs.count()
    for r in rows[:20]:
        assert len(r["feature"]) == mm.FEATURE_DIM
        assert math.isclose(sum(r["feature"]), 1.0, rel_tol=1e-9)


def test_near_dup_recall_across_plane_counts(spark):
    """Tuning contract of embedding_near_dup (B = num_planes):

    - every emitted pair is exhaustive-correct at ANY B (exact-cosine
      confirm => precision 1.0; only recall varies),
    - recall decays as B grows (bigger B = smaller buckets = more pruning),
    - OR-amplification (num_tables) recovers recall at fixed B.

    Exhaustive ground truth comes from the operator itself at B=0: zero
    planes put the whole corpus in one bucket = all-pairs exact scoring.
    """
    emb = load_table(spark, SF_DIR, "embeddings")
    t = 0.25  # fixture max pairwise cosine ~0.5 — threshold must sit low

    def pairs(**kw):
        return {
            (r["left_id"], r["right_id"])
            for r in similarity.embedding_near_dup(emb, threshold=t, **kw).collect()
        }

    exhaustive = pairs(num_planes=0)
    assert len(exhaustive) > 0
    got = {b: pairs(num_planes=b) for b in (4, 12)}
    for b, p in got.items():
        assert p <= exhaustive, f"B={b} emitted a non-pair"  # precision 1.0
    assert len(got[4]) >= len(got[12])  # more planes prune harder
    assert len(got[4]) > 0
    amplified = pairs(num_planes=12, num_tables=4)
    assert amplified <= exhaustive
    assert len(amplified) >= len(got[12])  # OR across tables recovers recall


def test_kmeans_codebook_recall(spark):
    """Trained (KMeans) cells must match or beat the deterministic prefix
    codebook on top-k recall vs brute force, at identical nlist/nprobe.

    Each strategy re-reads the corpus: brute-force then IVF over the SAME
    DataFrame objects trips a Spark 4.1 AQE attribute-reuse bug (see
    ivf_topk docstring)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(
            emb, emb.filter(F.col("vec_id") < 30), k=3
        ).collect()
    }

    def recall(codebook):
        corpus = load_table(spark, SF_DIR, "embeddings")
        q = corpus.filter(F.col("vec_id") < 30)
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_topk(corpus, q, codebook, k=3, nprobe=2).collect()
        }
        return len(got & truth) / len(truth)

    r_prefix = recall(similarity.centroid_codebook(emb, nlist=8))
    r_kmeans = recall(similarity.kmeans_codebook(emb, nlist=8))
    assert r_kmeans >= r_prefix
    assert r_kmeans > 0.5


def test_pgm_roundtrip_decodes_real_image(spark):
    """attach_pgm_image emits a well-formed netpbm P5 payload and
    decode_image parses it — verified against a hand-decoded example. A
    truncated raster fails loud with the same message in every PGM
    decoder."""
    import pytest

    from incremental_data_pipeline_spark.operators import multimodal as mm

    df = spark.createDataFrame([(7, "abcdefghijklmnopqr")], ["doc_id", "text"])
    payload = bytes(mm.attach_pgm_image(df).collect()[0]["content"])
    # 18 chars -> 16x2 raster padded with 14 spaces
    assert payload.startswith(b"P5\n16 2\n255\n")
    raster = payload.split(b"\n", 3)[3]
    assert len(raster) == 32 and raster[:18] == b"abcdefghijklmnopqr"
    assert set(raster[18:]) == {0x20}

    r = mm.decode_image(mm.attach_pgm_image(df)).collect()[0]
    expected_mean = 1000 * (sum(b"abcdefghijklmnopqr") + 32 * 14) // 32
    assert (r["width"], r["height"], r["maxval"]) == (16, 2, 255)
    assert r["mean_pixel_milli"] == expected_mean

    truncated = spark.createDataFrame(
        [(8, bytearray(b"P5\n4 4\n255\nabc"))], "doc_id long, content binary"
    )
    for decoder in (mm.decode_image, mm.resize_image, mm.ahash_image):
        with pytest.raises(Exception, match="raster size 3 != 4x4"):
            decoder(truncated).collect()


def test_multimodal_arrow_seam_defined_once():
    """Every multimodal operator goes through one Arrow seam and one PGM
    parser: the module fans out, calls mapInPandas and checks the P5
    magic in exactly one place each."""
    import inspect

    from incremental_data_pipeline_spark.operators import multimodal as mm

    src = inspect.getsource(mm)
    for needle in ("mapInPandas(", "fan_out(", 'b"P5"'):
        assert src.count(needle) == 1, needle


def test_multimodal_image_decode_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "multimodal_image_decode")


def test_ivf_argmax_cell_assignment_matches_sorted_path(spark):
    """The array_max argmax used for corpus cell assignment (n=1 fast path)
    must pick exactly the cell the sorted top-n path ranks first."""
    from pyspark.sql import functions as F

    import os

    from incremental_data_pipeline_spark.operators import similarity as sim
    from incremental_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    cb = sim.centroid_codebook(emb, nlist=8)
    via_search = sim.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 8), cb, k=3, nprobe=8
    )
    # nprobe = nlist probes every cell, so results must equal brute force
    brute = sim.brute_force_topk(emb, emb.filter(F.col("vec_id") < 8), k=3)
    got = sorted(map(tuple, via_search.select("query_id", "neighbor_id", "rank").collect()))
    want = sorted(map(tuple, brute.select("query_id", "neighbor_id", "rank").collect()))
    assert got == want


def test_auto_planes_integer_rule_matches_sql_twin():
    """auto_planes' bit_length derivation must equal the DuckDB formula
    (length(bin(q-1))) embedded in the dynamic-B oracles, across counts
    including exact powers of two (the float-log wobble cases)."""
    import duckdb

    from incremental_data_pipeline_spark.operators.similarity import (
        MAX_AUTO_PLANES,
        auto_nlist,
        auto_planes,
    )

    con = duckdb.connect()
    for n in [0, 1, 63, 64, 65, 1024, 2048, 2049, 65536, 10**6, 10**9]:
        for m in [64, 1024]:
            got = auto_planes(n, target_occupancy=m)
            want = con.execute(
                f"""SELECT GREATEST(4, LEAST({MAX_AUTO_PLANES},
                    CASE WHEN q <= 1 THEN 0 ELSE length(bin(q - 1)) END))
                    FROM (SELECT ({max(n,0)} + {m} - 1) // {m} AS q)"""
            ).fetchone()[0]
            if n > 0:
                assert got == want, (n, m, got, want)
            want_nl = con.execute(
                f"SELECT GREATEST(4, LEAST(65536, ({max(n,1)} + {m} - 1) // {m}))"
            ).fetchone()[0]
            assert auto_nlist(max(n, 1), target_cell=m) == want_nl, (n, m)


def test_hyperplanes_prefix_stable():
    """hyperplanes(B) must equal the first B rows of hyperplanes(B_MAX) —
    the property that lets a B-bit bucket be a substring prefix of the
    max-width bit string in the dynamic-B oracle SQL."""
    from incremental_data_pipeline_spark.operators.similarity import (
        MAX_AUTO_PLANES,
        hyperplanes,
    )

    full = hyperplanes(MAX_AUTO_PLANES, 64)
    for b in [4, 8, 16]:
        assert hyperplanes(b, 64) == full[:b]


def test_auto_planes_bounds_bucket_occupancy(spark):
    """With B = auto_planes(N), no LSH bucket may hold more than a small
    multiple of the target occupancy at sf0.1-scale data — the 'buckets
    never go quadratic by omission' guarantee behind the auto default."""
    from incremental_data_pipeline_spark.functions.vector import quantize
    from incremental_data_pipeline_spark.operators import similarity as sim
    from incremental_data_pipeline_spark.operators.similarity import (
        _bucket,
        auto_planes,
        hyperplanes,
    )

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    n = emb.count()
    target = 64
    b = auto_planes(n, target_occupancy=target)
    assert b > 4, "fixture should exercise a non-floor B"
    occ = (
        emb.select(quantize("embedding").alias("v"))
        .select(_bucket(F.col("v"), hyperplanes(b, 64)).alias("bucket"))
        .groupBy("bucket")
        .count()
    )
    max_occ = occ.agg(F.max("count")).first()[0]
    # real embeddings cluster, so allow generous skew over the mean — the
    # assertion rules out degenerate all-in-one-bucket widths, which is
    # what a forgotten fixed B produces at scale.
    assert max_occ <= 16 * target, (n, b, max_occ)


def test_hierarchical_codebook_duplicate_supers_stay_consistent(spark):
    """With two identical super-centroids, the lower id absorbs all fine
    members AND all rows (same tie-break rule), so the unreachable super's
    empty fine list can never drop a row — verified by searching a corpus
    containing exact duplicates of both supers."""
    from incremental_data_pipeline_spark.operators import similarity as sim

    vecs = {
        0: [1000000] + [0] * 63,          # super 0
        1: [1000000] + [0] * 63,          # super 1 — exact duplicate
        2: [0] * 63 + [1000000],          # super 2, distinct direction
        3: [707107] * 2 + [0] * 62,
        4: [0, 1000000] + [0] * 62,
        5: [500000, 500000] + [0] * 62,
        6: [0] * 62 + [707107, 707107],
        7: [1000000] + [0] * 63,          # row duplicate of the supers
        8: [0] * 63 + [999999],
    }
    cb = sorted((i, v) for i, v in vecs.items() if i < 4)
    supers, fine = sim.hierarchical_codebook(cb)
    sids = [sid for sid, _ in supers]
    assert sids == [0, 1]
    assert fine[1] == []            # duplicate super: empty, unreachable
    assert {cid for cid, _ in fine[0]} >= {0, 1}

    df = spark.createDataFrame(
        [(i, [float(x) / 1e6 for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    out = sim.ivf2_topk(df, df.filter("vec_id < 9"), cb, k=2, nprobe=2)
    rows = out.collect()
    # every query got candidates (no row vanished into the empty super)
    assert {r["query_id"] for r in rows} == set(range(9))


def test_wav_roundtrip_is_real_riff_audio(spark):
    """The attached payload is a spec-valid RIFF/WAVE file (Python's
    stdlib wave module opens it), the decode stats match a direct
    recompute, and a corrupt payload fails LOUD, not silently."""
    import io
    import wave

    import numpy as np
    import pytest as _pytest

    from incremental_data_pipeline_spark.operators import multimodal as mm

    df = spark.createDataFrame([(1, "OPQ ABC zz")], "doc_id long, text string")
    payload = bytes(mm.attach_wav_audio(df).first()["content"])
    renamed = mm.attach_wav_audio(df, out="audio")
    assert renamed.columns == ["doc_id", "audio"]
    assert bytes(renamed.first()["audio"]) == payload

    with wave.open(io.BytesIO(payload)) as w:
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2
        assert w.getframerate() == mm.WAV_SAMPLE_RATE
        assert w.getnframes() == 10
        raw = w.readframes(10)
    s = np.frombuffer(raw, dtype="<i2").astype(int)
    want = (np.frombuffer(b"OPQ ABC zz", dtype=np.uint8).astype(int) - 79) * 256
    assert (s == want).all()

    row = mm.decode_wav_audio(mm.attach_wav_audio(df)).first()
    assert row["n_samples"] == 10
    assert row["peak_abs"] == int(np.abs(want).max())
    assert row["mean_square_milli"] == 1000 * int((want * want).sum()) // 10
    sgn = np.sign(want)
    assert row["zero_crossings"] == int(((sgn[:-1] * sgn[1:]) < 0).sum())

    # stride=2 keeps the 1st, 3rd, ... samples
    row2 = mm.decode_wav_audio(mm.attach_wav_audio(df), stride=2).first()
    kept = want[::2]
    assert row2["n_samples"] == 5 and row2["sample_rate"] == mm.WAV_SAMPLE_RATE // 2
    assert row2["peak_abs"] == int(np.abs(kept).max())

    bad = spark.createDataFrame(
        [(9, bytearray(b"not a wav file at all, just bytes padding....."))],
        "doc_id long, content binary",
    )
    with _pytest.raises(Exception, match="RIFF|WAVE"):
        mm.decode_wav_audio(bad).collect()


def test_ahash_groups_visual_replicas(spark):
    """Identical renders hash identically; a visually different document
    (different glyph distribution) hashes differently — so equal-aHash
    buckets are exactly the visual-duplicate groups."""
    from incremental_data_pipeline_spark.operators import multimodal

    body = (
        "the quick brown fox jumps over the lazy dog while seven geese "
        "wander across a frozen meadow seeking grain near the river today"
    )
    other = "zzzz!!!! " * 30
    df = spark.createDataFrame(
        [(1, body), (2, body), (3, other)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["ahash"]
        for r in multimodal.ahash_image(multimodal.attach_pgm_image(df)).collect()
    }
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert len(out[1]) == 64 and set(out[1]) <= {"0", "1"}


def test_ivf_index_probe_prunes_partitions(spark, tmp_path):
    """The persisted-index probe must resolve probed cells as PARTITION
    PRUNING on the parquet scan (cell directories outside the probe set
    are never read) — the property that makes the index probe-local at
    100 TB. Also pins upsert semantics: batch wins on id collision, only
    touched cells rewritten."""
    import os

    from incremental_data_pipeline_spark.operators import similarity as sim
    from incremental_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    codebook = sim.centroid_codebook(emb, nlist=8)
    path = str(tmp_path / "idx")
    sim.ivf_index_build(emb.filter(F.col("vec_id") % 5 != 4), codebook, path)
    before = {d for d in os.listdir(path) if d.startswith("cell=")}
    sim.ivf_index_upsert(
        spark, emb.filter(F.col("vec_id") % 5 == 4), codebook, path
    )
    # index now holds the whole corpus exactly once
    idx = spark.read.parquet(path)
    assert idx.count() == emb.count()
    assert idx.select("vec_id").distinct().count() == emb.count()
    assert {d for d in os.listdir(path) if d.startswith("cell=")} >= before

    queries = emb.filter(F.col("vec_id") < 5)
    out = sim.ivf_index_probe(spark, path, queries, codebook, k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200]
    assert out.count() > 0
    # build/probe agreement: with nprobe=1 a corpus member probes exactly
    # the cell the index stores it under, so every neighbor shares it
    stored = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(path).select("vec_id", "cell").collect()
    }
    one = sim.ivf_index_probe(spark, path, queries, codebook, k=3, nprobe=1).collect()
    assert one
    assert all(stored[r["neighbor_id"]] == stored[r["query_id"]] for r in one)
    # upsert overwrite: re-upserting the same batch is idempotent
    sim.ivf_index_upsert(
        spark, emb.filter(F.col("vec_id") % 5 == 4), codebook, path
    )
    assert spark.read.parquet(path).count() == emb.count()


def test_ivf_index_upsert_allow_moves_evicts_stale_cell_copy(spark, tmp_path):
    """An UPDATE whose new embedding lands in a different cell must not
    leave a stale copy behind: allow_moves=True semi-joins the batch ids
    against the full index and rewrites the old cell too; the default
    (append/replay scope) is pinned to show the documented limitation."""
    from incremental_data_pipeline_spark.operators import similarity as sim
    from incremental_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    codebook = sim.centroid_codebook(emb, nlist=8)

    def build(path):
        sim.ivf_index_build(emb, codebook, path)
        idx = spark.read.parquet(path).select("vec_id", "cell").collect()
        cells = {r["vec_id"]: r["cell"] for r in idx}
        # find two ids in different cells; give `victim` donor's embedding
        victim = min(cells)
        donor = next(v for v, c in sorted(cells.items()) if c != cells[victim])
        moved = (
            emb.filter(F.col("vec_id") == donor)
            .select(F.lit(victim).cast("long").alias("vec_id"), "embedding")
        )
        return moved, victim, cells[victim]

    # default scope: replay-safe only — the stale copy survives in old cell
    p1 = str(tmp_path / "idx_default")
    moved, victim, old_cell = build(p1)
    sim.ivf_index_upsert(spark, moved, codebook, p1)
    n_dup = spark.read.parquet(p1).filter(F.col("vec_id") == victim).count()
    assert n_dup == 2  # documented limitation without allow_moves

    # allow_moves: stale copy evicted, index stays unique on id
    p2 = str(tmp_path / "idx_moves")
    moved, victim, old_cell = build(p2)
    sim.ivf_index_upsert(spark, moved, codebook, p2, allow_moves=True)
    idx = spark.read.parquet(p2)
    rows = idx.filter(F.col("vec_id") == victim).collect()
    assert len(rows) == 1 and rows[0]["cell"] != old_cell
    assert idx.count() == emb.count()
    assert idx.select("vec_id").distinct().count() == emb.count()


def test_ivf_index_upsert_allow_moves_drops_emptied_cell(spark, tmp_path):
    """A cell whose ONLY occupant moves out gets no rows in the merge; the
    merge's commit must still supersede the cell's files and drop its
    directory, or the stale copy survives (ADVICE r6: the multi-survivor
    fixture missed this)."""
    import os

    from incremental_data_pipeline_spark.operators import similarity as sim

    emb = load_table(spark, SF_DIR, "embeddings")
    codebook = sim.centroid_codebook(emb, nlist=8)

    # construct a corpus where one cell has EXACTLY one occupant: assign
    # the full corpus, pick the cell with the fewest members, keep one
    probe = str(tmp_path / "probe_idx")
    sim.ivf_index_build(emb, codebook, probe)
    assigned = spark.read.parquet(probe).select("vec_id", "cell").collect()
    by_cell: dict[int, list[int]] = {}
    for r in assigned:
        by_cell.setdefault(r["cell"], []).append(r["vec_id"])
    lone_cell = min(by_cell, key=lambda c: (len(by_cell[c]), c))
    lone_id = min(by_cell[lone_cell])
    drop = set(by_cell[lone_cell]) - {lone_id}
    donor_cell = next(c for c in sorted(by_cell) if c != lone_cell)
    donor_id = min(by_cell[donor_cell])

    path = str(tmp_path / "idx")
    corpus = emb.filter(~F.col("vec_id").isin(sorted(drop)))
    sim.ivf_index_build(corpus, codebook, path)
    only = spark.read.parquet(path).filter(F.col("cell") == lone_cell).collect()
    assert [r["vec_id"] for r in only] == [lone_id]  # fixture holds

    # UPDATE the lone occupant with an embedding that assigns elsewhere
    moved = emb.filter(F.col("vec_id") == donor_id).select(
        F.lit(lone_id).cast("long").alias("vec_id"), "embedding"
    )
    sim.ivf_index_upsert(spark, moved, codebook, path, allow_moves=True)
    idx = spark.read.parquet(path)
    rows = idx.filter(F.col("vec_id") == lone_id).collect()
    assert len(rows) == 1 and rows[0]["cell"] == donor_cell
    assert idx.filter(F.col("cell") == lone_cell).count() == 0
    assert not os.path.exists(os.path.join(path, f"cell={lone_cell}"))
    assert idx.count() == corpus.count()
    assert idx.select("vec_id").distinct().count() == corpus.count()


def test_ivf_index_upsert_rejects_schema_drift(spark, tmp_path):
    """An index whose stored columns drifted from the upsert batch's must
    fail the upsert loudly and stay untouched: reading it under the batch
    schema would null-fill the missing column, and the partition overwrite
    would write those nulls back."""
    import pytest

    from incremental_data_pipeline_spark.operators import similarity as sim

    emb = load_table(spark, SF_DIR, "embeddings")
    codebook = sim.centroid_codebook(emb, nlist=8)
    good = str(tmp_path / "idx")
    sim.ivf_index_build(emb.filter(F.col("vec_id") % 5 != 4), codebook, good)
    drifted = str(tmp_path / "drifted")
    spark.read.parquet(good).withColumnRenamed("cv", "cv_old").write.partitionBy(
        "cell"
    ).parquet(drifted)

    def snapshot():
        return sorted(
            map(tuple, spark.read.parquet(drifted).select("vec_id", "cell", "cv_old").collect())
        )

    before = snapshot()
    batch = emb.filter(F.col("vec_id") % 5 == 4)
    with pytest.raises(sim.IvfIndexSchemaError, match="cv_old"):
        sim.ivf_index_upsert(spark, batch, codebook, drifted, allow_moves=True)
    assert snapshot() == before
    # the undrifted index still upserts
    sim.ivf_index_upsert(spark, batch, codebook, good, allow_moves=True)
    assert spark.read.parquet(good).count() == emb.count()


def test_operator_families_defined_once():
    """The codebook argmax, the per-query top-k window and the LSH band
    builder each live in one helper; a second copy is a fork that can
    drift (e.g. index build vs probe cell ranking)."""
    from pathlib import Path

    ops = Path(__file__).resolve().parents[1] / "incremental_data_pipeline_spark" / "operators"
    src = "".join((ops / f).read_text() for f in ("similarity.py", "dedup.py"))
    for needle in ('Window.partitionBy("query_id")', "F.array_max(", "band_structs = "):
        assert src.count(needle) == 1, needle


def test_jl_projection_exact_and_distortion_concentrates(spark):
    from incremental_data_pipeline_spark.operators import similarity as sim
    from incremental_data_pipeline_spark.sources.readers import load_table

    # hand-check the integer projection on a tiny vector
    signs = sim.hyperplanes(4, 64)
    vec = [0.0] * 64
    vec[0], vec[3], vec[10] = 1.0, -2.0, 0.5
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    from incremental_data_pipeline_spark.functions.vector import quantize
    row = df.select(
        sim.jl_project_q(quantize("embedding"), signs).alias("y")
    ).collect()[0]
    q = [round(x * 1_000_000) for x in vec]
    expect = [sum(s * v for s, v in zip(srow, q)) for srow in signs]
    assert list(row["y"]) == expect

    # JL lemma: distortion ratios concentrate around 1 (k=16 -> sd ~0.35)
    emb = load_table(spark, SF_DIR, "embeddings")
    rows = sim.jl_distortion_pairs(emb).collect()
    if len(rows) >= 3:
        ratios = [r["distortion"] for r in rows]
        mean = sum(ratios) / len(ratios)
        assert 0.7 < mean < 1.3, ratios
        assert max(ratios) < 3.0 and min(ratios) > 0.1
