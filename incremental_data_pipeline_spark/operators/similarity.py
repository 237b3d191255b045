"""Similarity search and embedding-space dedup over embedding columns.

Top-k search strategies (north-star extension), one per candidate source:

- ``brute_force_topk``: exact — broadcast the (small) query set against the
  corpus and score every pair. The baseline, and the verifier for the ANN
  paths. ``hard_negatives`` is the same scan with a label filter.
- ``lsh_topk``: random-hyperplane LSH — each vector gets a B-bit bucket
  (sign of its dot product with B fixed pseudo-random ±1 planes); search
  touches only the query's bucket, an equi-join on the bucket string, so
  cost scales with bucket occupancy instead of corpus size. Planes are
  derived deterministically from md5 so the DuckDB oracle can reproduce
  bucket assignment exactly.
- ``ivf_topk`` / ``ivf2_topk``: IVF-flat over a fixed flat or two-level
  centroid codebook; queries probe their ``nprobe`` best cells.
- ``pq_topk``: product-quantization ADC over per-subspace codes.
- ``ivf_index_build`` / ``ivf_index_upsert`` / ``ivf_index_probe``: the
  IVF cells persisted as a cell-partitioned parquet index.

Near-dup strategies: ``embedding_near_dup`` (LSH buckets, pairs), and the
SemDeDup keep-masks ``semantic_dedup`` (codebook cells) and
``semantic_dedup_lsh`` (hyperplane buckets).

Cell ranking and top-k are each defined in ONE place, which every strategy
above shares: ``_codebook`` / ``_cell_scores`` / ``_best_cell`` /
``_top_cells`` rank a vector against a codebook (so the persisted index's
build-time assignment and its probe-time ranking cannot disagree), and
``_topk`` / ``_cosine_topk`` run the candidate join → self-match filter →
per-query window → rank tail (WindowGroupLimit: only k rows per query
survive each shuffle stage).

Implementation note: scoring stays in JVM higher-order functions
(zip_with/aggregate) rather than a Pandas UDF — measured at sf0.1, an
Arrow-batched numpy cosine is ~5x SLOWER end-to-end (vector serialization
dominates), while the HOF path runs the candidate set in ~0.5s warm. The
one-shot bench cost of these queries is Catalyst analysis/codegen of the
plane expressions, not execution.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from incremental_data_pipeline_spark.functions.util import fan_out, lit_array
from incremental_data_pipeline_spark.functions.vector import (
    cosine_q,
    dot_q,
    norm_q,
    quantize,
)
from incremental_data_pipeline_spark.sources.sinks import StoredSchemaError, merge_partitions, read_table


MAX_AUTO_PLANES = 24  # 2^24 buckets — occupancy ~60 rows even at 1e9 vectors


def auto_planes(
    n_rows: int,
    target_occupancy: int = 1024,
    min_planes: int = 4,
    max_planes: int = MAX_AUTO_PLANES,
) -> int:
    """Corpus-size-aware plane count: the documented B ≈ log2(N/m) rule as
    integer-exact math, so the DuckDB oracle can re-derive the SAME B from
    the same count (``length(bin(q-1))`` is SQL's bit_length twin).

    Mean bucket occupancy is ~N/2^B and within-bucket work ~occupancy² per
    bucket, so B = ceil(log2(N/m)) holds per-bucket cost at ~m² regardless
    of corpus size — a fixed default B goes quadratic the moment N
    outgrows it, which is exactly the 100 TB failure mode this removes.
    Computed as bit_length(ceil(N/m) - 1): no float log, no boundary
    wobble at powers of two. Clamped to [min_planes, max_planes]; planes
    are prefix-stable (``hyperplanes(B)`` == first B rows of
    ``hyperplanes(MAX_AUTO_PLANES)``), so a B-bit bucket is a prefix of
    the max-width bit string — the property the dynamic-B oracles use.
    """
    if n_rows <= 0:
        return min_planes
    q = (n_rows + target_occupancy - 1) // target_occupancy
    return max(min_planes, min(max_planes, (q - 1).bit_length()))


def auto_nlist(
    n_rows: int,
    target_cell: int = 1024,
    min_nlist: int = 4,
    max_nlist: int = 1 << 16,
) -> int:
    """Corpus-size-aware IVF cell count: nlist = ceil(N/target_cell), so
    mean cell occupancy stays ~target_cell and the within-cell candidate
    scan stays bounded as the corpus grows. Same integer-exact derivation
    discipline as ``auto_planes`` (SQL twin: ``(n + m - 1) // m``). The
    codebook is still ONE plan literal, so raising nlist does not change
    plan-compile complexity class; max_nlist caps the literal's size."""
    if n_rows <= 0:
        return min_nlist
    return max(min_nlist, min(max_nlist, (n_rows + target_cell - 1) // target_cell))


def let(value: Column, body) -> Column:
    """Bind ``value`` once per row and reference it cheaply inside
    ``body`` — a single-element-array ``transform`` acting as a let
    expression. Catalyst's CollapseProject inlines a named column into
    EVERY downstream reference, so an expression like a quantized vector
    or an argmax feeding an N-way transform re-evaluates per element
    (measured 4-10x blowup on the IVF assign at sf1); a lambda variable
    is evaluated exactly once."""
    return F.transform(F.array(value), body).getItem(0)


def hyperplanes(num_planes: int, dim: int, table: int = 0) -> list[list[int]]:
    """Deterministic ±1 hyperplanes: sign(j,i) = parity of the first md5
    nibble of "j:i". Pure data — both engines consume them as literals.
    ``table`` > 0 derives an independent plane set (for OR-amplification)
    from keys "t{table}:{j}:{i}"; table 0 keeps the original keys so every
    existing oracle reproduces bucket assignment unchanged."""
    planes = []
    prefix = "" if table == 0 else f"t{table}:"
    for j in range(num_planes):
        row = []
        for i in range(dim):
            nib = int(hashlib.md5(f"{prefix}{j}:{i}".encode()).hexdigest()[0], 16)
            row.append(1 if nib % 2 else -1)
        planes.append(row)
    return planes


def _bucket(qcol: Column, planes: list[list[int]]) -> Column:
    """B-char '0'/'1' bucket id from integer-exact plane sign bits.

    The plane matrix enters the plan as ONE nested-array literal and the
    per-plane sign bits come from a single transform over it — analysis
    and codegen stay O(1) in num_planes×dim (B×d scalar Literal nodes
    previously dominated these queries' one-shot plan-compile time; same
    fix as the IVF codebook literal)."""
    m = lit_array(planes, "array<array<int>>")
    sums = F.transform(m, lambda row: dot_q(row, qcol))
    return F.array_join(
        F.transform(sums, lambda s: F.when(s > 0, F.lit("1")).otherwise(F.lit("0"))), ""
    )


# ---------------------------------------------------------------------------
# the shared cell ranker and top-k tail
# ---------------------------------------------------------------------------


def _norm(vec: list[int]) -> float:
    """|vec| of a quantized vector: exact int radicand, then IEEE sqrt —
    the same double Spark and DuckDB compute."""
    return math.sqrt(sum(x * x for x in vec))


def _codebook(
    centroids: list[tuple[int, list[int]]], scaled: bool = False
) -> tuple[Column, Column, Column | None]:
    """``(matrix, ids, norms)`` literals for a (centroid_id, quantized
    vector) codebook. Each enters the plan as ONE nested-array literal (not
    nlist×dim scalar Literal nodes), so per-plan analysis/codegen stays O(1)
    in codebook size. ``norms`` (per-centroid |c|) is built only when
    ``scaled``, else None."""
    matrix = lit_array([vec for _, vec in centroids], "array<array<bigint>>")
    ids = lit_array([cid for cid, _ in centroids], "array<int>")
    norms = None
    if scaled:
        norms = lit_array([_norm(vec) for _, vec in centroids], "array<double>")
    return matrix, ids, norms


def _cell_scores(
    matrix: Column, ids: Column, v: Column, norms: Column | None = None
) -> Column:
    """array<struct<cos double, neg_id int>>: one entry per centroid, so
    struct order (score desc, then neg_id desc) ranks cells best first with
    ties to the lowest centroid id. The score is full cosine, or with
    ``norms`` the scaled dot ``dot(v,c)/|c|`` — argmax-equivalent to cosine
    (|v| is constant within a row) at ONE integer dot per centroid instead
    of three. Callers with an oracle mirror whichever doubles they pick."""

    def score(c: Column, i: Column) -> Column:
        if norms is None:
            return cosine_q(v, c)
        return dot_q(v, c).cast("double") / F.element_at(norms, i + F.lit(1))

    return F.transform(
        matrix,
        lambda c, i: F.struct(
            score(c, i).alias("cos"),
            (-F.element_at(ids, i + F.lit(1))).alias("neg_id"),
        ),
    )


def _best_cell(scores: Column) -> Column:
    """Argmax cell id: a single ``array_max`` over the score structs."""
    return -F.array_max(scores)["neg_id"]


def _top_cells(scores: Column, n: int) -> Column:
    """The ``n`` best cell ids, best first. n == 1 takes the ``array_max``
    argmax, which skips the full sort; both pick the same first cell."""
    if n == 1:
        return F.array(_best_cell(scores))
    return F.transform(
        F.slice(F.reverse(F.array_sort(scores)), 1, n), lambda s: -s["neg_id"]
    )


def _topk(scored: DataFrame, k: int, order: Column, cols) -> DataFrame:
    """Keep the k best candidates per ``query_id`` by ``order`` (ties to
    the lower ``neighbor_id``), numbered from 1 in ``rank``."""
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )


def _cosine_topk(
    c: DataFrame, q: DataFrame, k: int, on: str | None = None
) -> DataFrame:
    """Exact-cosine top-k over candidates: corpus rows ``c`` (neighbor_id,
    cv[, on]) join the broadcast queries ``q`` (query_id, qv[, on]) — a
    cross join when ``on`` is None, else an equi-join on that cell/bucket
    key — self-matches are dropped, and the window tail keeps k per query."""
    q = F.broadcast(q)
    pairs = c.crossJoin(q) if on is None else c.join(q, on)
    scored = pairs.filter(F.col("neighbor_id") != F.col("query_id")).withColumn(
        "cosine", cosine_q(F.col("qv"), F.col("cv"))
    )
    return _topk(
        scored, k, F.col("cosine").desc(), ("query_id", "neighbor_id", "cosine", "rank")
    )


def _drop_within_cell(cells: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """The SemDeDup scan over ``cells`` (id_col, ``__v`` quantized vector,
    ``cell``): within each cell, every vector with a LOWER-id neighbor at
    cosine >= ``threshold`` is dropped. Returns (id_col, cell, kept)."""
    # Per-row norm computed ONCE before the barrier: the pair scan then
    # costs one integer dot per candidate pair (dot/(na*nb), identical
    # doubles to the full cosine) instead of three.
    cells = cells.withColumn("__n", norm_q(F.col("__v")))
    # The cell relation feeds BOTH self-join sides and the final join-back;
    # without a barrier the per-row cell function (the dominant narrow-map
    # cost) re-executes three times. Materialize once — same pattern as the
    # connected-components edge checkpoint.
    cells = cells.localCheckpoint(eager=False)
    a = cells.select(
        F.col(id_col).alias("__ida"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), "cell",
    )
    b = cells.select(
        F.col(id_col).alias("__idb"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "cell",
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(
            (
                dot_q(F.col("__va"), F.col("__vb")).cast("double")
                / (F.col("__na") * F.col("__nb"))
            )
            >= F.lit(threshold)
        )
        .select(F.col("__idb").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return cells.join(dropped, id_col, "left").select(
        id_col,
        "cell",
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
    )


# ---------------------------------------------------------------------------
# top-k search
# ---------------------------------------------------------------------------


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query (self-matches excluded)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize(vec_col).alias("qv")
    )
    c = fan_out(corpus).select(F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("cv"))
    return _cosine_topk(c, q, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    num_planes: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket.

    ``num_planes=None`` (the default) sizes B from the corpus row count
    via ``auto_planes`` — one metadata-cheap count() against the scan —
    so a caller who forgets to tune B cannot ship a fixture-sized bucket
    width to a 100 TB corpus. Pass an explicit B to pin bucket assignment
    (e.g. for a static oracle)."""
    if num_planes is None:
        num_planes = auto_planes(corpus.count())
    planes = hyperplanes(num_planes, dim)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(vec_col).alias("qv"),
        let(quantize(vec_col), lambda v: _bucket(v, planes)).alias("bucket"),
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        quantize(vec_col).alias("cv"),
        let(quantize(vec_col), lambda v: _bucket(v, planes)).alias("bucket"),
    )
    return _cosine_topk(c, q, k, on="bucket")


def embedding_near_dup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_planes: int | None = None,
    dim: int = 64,
    num_tables: int = 1,
    target_occupancy: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates from a shared LSH
    bucket, confirmed by exact cosine >= threshold. Returns (left_id,
    right_id, cosine) with left_id < right_id. ``target_occupancy`` feeds
    ``auto_planes`` when ``num_planes`` is None.

    Scale shape: bucketing is a narrow per-row projection; the candidate
    self-join is an equi-join on the bucket key, so the quadratic blow-up is
    confined to single buckets (same trick as MinHash LSH text dedup, but in
    embedding space).

    Tuning ``num_planes`` (B) to corpus size N: mean bucket occupancy for
    spread-out directions is ~N/2^B and within-bucket work is ~occupancy²
    per bucket, so pick **B ≈ log2(N/m)** for a target occupancy m in the
    hundreds-to-thousands (m² comparisons per bucket stays a trivial task).
    N=1e6 → B≈10; N=1e9 → B≈20 — which is exactly what ``auto_planes``
    computes when ``num_planes`` is left None (the default), so buckets
    can no longer go quadratic by omission. The cost of raising B is
    per-pair recall: a pair at angle θ
    shares a bucket with probability (1-θ/π)^B. Recover recall without
    shrinking B by OR-amplification: ``num_tables`` = T independent plane
    sets, candidates unioned across tables (recall 1-(1-p)^T for per-table
    probability p), at T× the bucketing/join cost. num_tables=1 keeps the
    original bucket assignment so existing oracles match unchanged.

    ``num_planes=None`` (the default) auto-sizes B from the corpus count
    via ``auto_planes`` — the forgotten-default-goes-quadratic guard;
    pass an explicit B to pin bucket assignment for a static oracle.
    """
    if num_planes is None:
        num_planes = auto_planes(
            corpus.count(), target_occupancy=target_occupancy
        )
    base = fan_out(corpus)
    if num_tables == 1:
        bucket = let(
            quantize(vec_col),
            lambda v: _bucket(v, hyperplanes(num_planes, dim)),
        )
    else:
        # Prefix the table index so equal bit-strings from different plane
        # sets never collide into one bucket.
        bucket = F.explode(
            let(
                quantize(vec_col),
                lambda v: F.array(
                    *[
                        F.concat(
                            F.lit(f"{t}:"),
                            _bucket(v, hyperplanes(num_planes, dim, t)),
                        )
                        for t in range(num_tables)
                    ]
                ),
            )
        )
    b = base.select(
        F.col(id_col).alias("vid"),
        quantize(vec_col).alias("v"),
        bucket.alias("bucket"),
    )
    left = b.select(
        F.col("vid").alias("left_id"), F.col("v").alias("lv"), "bucket"
    )
    right = b.select(
        F.col("vid").alias("right_id"), F.col("v").alias("rv"), "bucket"
    )
    pairs = (
        left.join(right, "bucket")
        .filter(F.col("left_id") < F.col("right_id"))
    )
    # Confirm cosine BEFORE the cross-table dedup: the dedup is a shuffle,
    # and rows entering it used to carry both quantized vectors (~1 KB/row
    # — ~15 GB at the sf10 point's 15M candidates, the dominant cost in
    # the r6 34x artifact, see NEAR_DUP_SCALE.md). Cosine is a codegen'd
    # 64-mult map; computing it per candidate OCCURRENCE (<= num_tables
    # per pair) and shuffling only confirmed (id, id, cosine) rows is
    # strictly cheaper than deduping first. Same result set: cosine is
    # deterministic per pair, so dedup-of-confirmed == confirm-of-deduped.
    scored = (
        pairs.withColumn("cosine", cosine_q(F.col("lv"), F.col("rv")))
        .filter(F.col("cosine") >= threshold)
        .select("left_id", "right_id", "cosine")
    )
    if num_tables > 1:
        # A pair can collide in several tables; emit each pair once.
        scored = scored.dropDuplicates(["left_id", "right_id"])
    return scored


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 2,
    scaled_dot_assign: bool = False,
) -> DataFrame:
    """IVF-flat approximate top-k with a fixed centroid codebook. Cells
    are ranked by ``_cell_scores`` and picked by ``_best_cell`` (corpus
    side) / ``_top_cells`` (query side) — the same ranker the persisted
    index uses — and candidates go through ``_cosine_topk``.

    ``scaled_dot_assign=True`` ranks cells by ``dot(v,c)/|c|`` against
    per-centroid norm literals — argmax-equivalent to cosine (|v| is
    constant within a row) at ONE integer dot per (row, centroid)
    instead of three; the final candidate ranking stays full cosine.
    Callers with a matching oracle must mirror the same scaled-dot
    doubles in the assignment rank.

    ``centroids`` is a small driver-side list of (centroid_id, quantized
    vector) — in production the output of a sampling/k-means job, here a
    deterministic prefix of the corpus so the oracle can reproduce it.

    Scale shape: cell assignment is a PER-ROW argmax over centroid literals
    (zero shuffle, whole-stage codegen; the codebook rides into every task
    as a constant, the vector analogue of a broadcast dim). Search probes
    only ``nprobe`` cells per query, so the candidate equi-join on cell id
    scales with cell occupancy, not corpus size.

    Known upstream interaction (Spark 4.1, AQE on): running
    ``brute_force_topk`` and then ``ivf_topk`` over the SAME parent
    DataFrame objects in one session can fail with
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — a cross-plan attribute-reuse bug
    in adaptive planning, not an error in either operator (each passes
    alone, and with AQE off the sequence passes). Workaround: re-read the
    corpus per strategy (fresh attribute ids), which is the natural shape
    anyway — every registered query loads its own inputs.
    """
    matrix, ids, norms = _codebook(centroids, scaled_dot_assign)

    def scores(v: Column) -> Column:
        return _cell_scores(matrix, ids, v, norms)

    # let-bind the quantized vector: CollapseProject would otherwise inline
    # the quantize into every per-centroid reference inside the ranker.
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        quantize(vec_col).alias("cv"),
        let(quantize(vec_col), lambda v: _best_cell(scores(v))).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(vec_col).alias("qv"),
        F.explode(
            let(quantize(vec_col), lambda v: _top_cells(scores(v), nprobe))
        ).alias("cell"),
    )
    return _cosine_topk(c, q, k, on="cell")


def hierarchical_codebook(
    centroids: list[tuple[int, list[int]]],
) -> tuple[list[tuple[int, list[int]]], dict[int, list[tuple[int, list[int]]]]]:
    """Split a flat codebook into two levels: the first ceil(sqrt(nlist))
    centroids become SUPER-centroids, and every fine centroid maps to its
    best super by the same (cosine desc, id asc) argmax rule rows use.

    Why: flat IVF assignment costs N×nlist dot products — with
    nlist ∝ N/target_cell that term is N²/target, the one superlinear
    residue the sf1 measurement surfaced. Two levels cost
    N×(s + nlist/s) ≈ N×2√nlist. The mapping is computed driver-side over
    the tiny codebook (nlist×s integer dots, exact Python ints; the
    float divide matches the engines' IEEE doubles bit-for-bit, so the
    DuckDB twin re-derives the identical mapping).

    Reachability invariant: a super's fine list can only be empty when the
    super is a duplicate of a lower-id super — and then NO row can select
    it either (same tie-break), so every reachable super has >= 1 fine
    member and two-level assignment never drops a row.
    """
    n = len(centroids)
    s = max(1, math.ceil(math.sqrt(n)))
    supers = centroids[:s]

    def score(a: list[int], b: list[int]) -> float:
        # scaled dot: dot(a,b)/|b| — argmax-equivalent to cosine for a
        # fixed a, and the SAME double expression Spark and DuckDB
        # evaluate, so the mapping is identical in all three places.
        return sum(x * y for x, y in zip(a, b)) / _norm(b)

    fine_by_super: dict[int, list[tuple[int, list[int]]]] = {
        sid: [] for sid, _ in supers
    }
    for cid, vec in centroids:
        _, neg_best = max((score(vec, svec), -sid) for sid, svec in supers)
        fine_by_super[-neg_best].append((cid, vec))
    return supers, fine_by_super


def ivf2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """Two-level IVF-flat approximate top-k: rows pick their best SUPER
    cell (argmax over √nlist literals), then their best FINE cell within
    it (argmax over that super's members) — same deterministic
    (cosine desc, id asc) rule at both levels, so the DuckDB oracle
    reproduces the assignment exactly. Queries probe their best super's
    top-``nprobe`` fine cells (cross-super misses are the accepted
    approximation, the standard IMI trade).

    Scale shape: assignment is still a zero-shuffle per-row expression,
    but the literal work drops from nlist to ~2√nlist scored dots per
    row — and each scored dot is ONE integer dot product: assignment
    ranks by ``dot(v, c) / |c|`` (argmax-equivalent to cosine, since
    |v| is constant within a row) with the centroid norm precomputed
    driver-side as a double literal, instead of the 3-dot full cosine
    per (row, centroid) that made the flat auto-nlist variant's
    interpreted HOF cost dominate at sf1. The rule stays deterministic
    ((score desc, id asc)) and the oracle reproduces the identical
    doubles. The candidate equi-join on fine cell id is unchanged from
    ``ivf_topk``.
    """
    supers, fine = hierarchical_codebook(centroids)
    smatrix, sids, snorms = _codebook(supers, scaled=True)
    skeys = lit_array([sid for sid, _ in supers], "array<int>")

    def by_super(per_fine, sql_type: str) -> Column:
        # super id -> that super's fine-centroid literal
        values = [[per_fine(cid, v) for cid, v in fine[sid]] for sid, _ in supers]
        return F.map_from_arrays(skeys, lit_array(values, sql_type))

    map_vecs = by_super(lambda cid, v: v, "array<array<array<bigint>>>")
    map_ids = by_super(lambda cid, v: cid, "array<array<int>>")
    map_norms = by_super(lambda cid, v: _norm(v), "array<array<double>>")

    def fine_cells(vraw: Column, n: int) -> Column:
        # HOF "let" bindings: a named column computed with withColumn gets
        # collapse-inlined by Catalyst into EVERY downstream reference, so
        # the per-row quantize and super argmax would re-evaluate per fine
        # centroid (measured 10x+ blowup). Wrapping each intermediate in a
        # single-element array transform binds it to a lambda variable —
        # evaluated exactly once per row, referenced cheaply inside.
        def with_q(qv: Column) -> Column:
            def with_super(scol: Column) -> Column:
                fine_t = F.struct(
                    F.element_at(map_vecs, scol).alias("fv"),
                    F.element_at(map_ids, scol).alias("fi"),
                    F.element_at(map_norms, scol).alias("fn"),
                )
                return let(
                    fine_t,
                    lambda t: _top_cells(_cell_scores(t["fv"], t["fi"], qv, t["fn"]), n),
                )

            return let(_best_cell(_cell_scores(smatrix, sids, qv, snorms)), with_super)

        return let(quantize(vraw), with_q)

    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        quantize(vec_col).alias("cv"),
        fine_cells(F.col(vec_col), 1).getItem(0).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(vec_col).alias("qv"),
        F.explode(fine_cells(F.col(vec_col), nprobe)).alias("cell"),
    )
    return _cosine_topk(c, q, k, on="cell")


def centroid_codebook(
    corpus: DataFrame, nlist: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[int]]]:
    """Deterministic codebook: the nlist lowest-id vectors, quantized. A
    tiny driver-side collect (nlist rows), same pattern as the reference's
    scalar max(key) lookup (gold_dim_branch.py:127-128). Oracle-friendly
    (DuckDB can re-derive it); for search quality prefer
    ``kmeans_codebook``."""
    rows = (
        corpus.select(F.col(id_col), quantize(vec_col).alias("v"))
        .filter(F.col(id_col) < nlist)
        .collect()
    )
    return sorted((r[0], list(r["v"])) for r in rows)


def kmeans_codebook(
    corpus: DataFrame,
    nlist: int,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
) -> list[tuple[int, list[int]]]:
    """Trained codebook: MLlib KMeans centroids (fixed seed), quantized to
    the same integer domain as the vectors so ``ivf_topk`` scores cells
    with the identical exact math. The quality path where an oracle isn't
    required — data-adapted cells cut the top-cell miss rate vs the
    deterministic prefix codebook (asserted in
    tests/test_similarity.py::test_kmeans_codebook_recall).

    Scale shape: one distributed KMeans fit (Lloyd iterations are
    map-reduce: assign = narrow argmax per row, update = one shuffle per
    iteration), then nlist driver-side vectors — the codebook stays a plan
    literal exactly like the prefix variant, so search cost is unchanged.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=nlist, seed=seed, maxIter=max_iter).fit(feats)
    return [
        (cid, [int(round(x * 1_000_000)) for x in center])
        for cid, center in enumerate(model.clusterCenters())
    ]


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style embedding-space deduplication (public method: Abbas
    et al. 2023, "SemDeDup"): cluster the corpus into codebook cells, then
    within each cell drop every vector that has a LOWER-id neighbor with
    cosine >= ``threshold`` (min-id dominance — the deterministic greedy
    "keep one representative" rule; cross-cell near-dups are accepted
    misses, exactly as in the published method).

    Returns every corpus id with its ``cell`` and the ``kept`` verdict, so
    callers can filter, audit drop rates per cell, or join the mask back.

    Scale shape: cell assignment is the same zero-shuffle per-row argmax
    over the codebook literal as ``ivf_topk``; the near-dup scan is a
    self-equi-join on cell id, quadratic only in CELL occupancy — sizing
    nlist ~ N/target_cell_size keeps every cell's pair count bounded, the
    whole point of clustering before comparing. No global all-pairs step.
    Assignment ranks by the scaled dot (``_cell_scores`` with norms): one
    integer dot per (row, centroid) instead of three.
    """
    matrix, ids, norms = _codebook(centroids, scaled=True)
    cells = fan_out(corpus).select(
        F.col(id_col),
        quantize(vec_col).alias("__v"),
        let(
            quantize(vec_col),
            lambda v: _best_cell(_cell_scores(matrix, ids, v, norms)),
        ).alias("cell"),
    )
    return _drop_within_cell(cells, id_col, threshold)


def semantic_dedup_lsh(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_planes: int | None = None,
    dim: int = 64,
    target_occupancy: int = 256,
) -> DataFrame:
    """SemDeDup with HYPERPLANE-BUCKET cells instead of a codebook:
    within each bucket, drop every vector that has a lower-id neighbor
    with cosine >= ``threshold`` (same min-id dominance and same
    accepted-miss contract as ``semantic_dedup``; only the space
    partition differs).

    Why this variant exists (the sf10 lesson): codebook assignment costs
    one dot per (row, centroid), so growing nlist ~ N/target — required
    to keep the within-cell pair scan bounded — makes assignment
    N²/target, and even the hierarchical split only cuts it to
    N·2√nlist. A hyperplane bucket costs B = ceil(log2(N/m)) dots per
    row — LOGARITHMIC in N — so assignment is ~N·log(N/m) while mean
    cell occupancy still holds at ~m. This is the engine's only
    constant-ish-per-row cell function, which makes it the 100 TB
    default for one-shot (non-persisted) semantic dedup; the codebook
    variants remain for persisted-index workflows where assignment cost
    amortizes across runs.
    """
    if num_planes is None:
        num_planes = auto_planes(
            corpus.count(), target_occupancy=target_occupancy
        )
    planes = hyperplanes(num_planes, dim)
    cells = fan_out(corpus).select(
        F.col(id_col),
        quantize(vec_col).alias("__v"),
        let(quantize(vec_col), lambda v: _bucket(v, planes)).alias("cell"),
    )
    return _drop_within_cell(cells, id_col, threshold)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 1,
) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive training: per query, the top-k
    most-similar corpus vectors with a DIFFERENT label — the examples a
    metric-learning loss gains the most from, as opposed to random
    negatives (trivially separable) or same-label neighbors (positives).
    Same exact-cosine discipline as ``brute_force_topk`` with the label
    inequality applied BEFORE ranking, so rank k means k-th hardest
    negative, not k-th neighbor that happens to be negative.

    Scale shape: identical to the brute-force verifier — query side
    broadcast, corpus side fanned out and never shuffled, per-query
    window top-k. For production-size mining swap the candidate source
    for the LSH/IVF bucket join and keep the same label filter."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(vec_col).alias("qv"),
        F.col(label_col).alias("query_label"),
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        quantize(vec_col).alias("cv"),
        F.col(label_col).alias("neg_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neg_label") != F.col("query_label"))
        .withColumn("cosine", cosine_q(F.col("qv"), F.col("cv")))
    )
    return _topk(
        scored, k, F.col("cosine").desc(),
        ("query_id", "neighbor_id", "neg_label", "cosine", "rank"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization ADC top-k (Jegou/Douze/Schmid, PAMI 2011 —
    the compression behind billion-scale FAISS indexes): each vector is
    coded as ``m`` centroid ids (one per ``dim/m``-dim subspace), and
    query-to-vector distance is approximated asymmetrically as the sum of
    the query's precomputed subspace distances to the CODED centroids —
    per-pair cost drops from a dim-wide dot product to ``m`` integer
    table lookups, and the corpus is stored as m small ints per vector
    (16x-64x memory compression), which is what lets a 100 TB embedding
    table fit an in-memory scan.

    The codebook here is the deterministic prefix codebook (see
    ``centroid_codebook``) split into per-subspace sub-codebooks, so the
    DuckDB oracle re-derives codes, distance tables, and ranks exactly:
    all distances are integer sums over quantized components — hash-exact
    cross-engine, tie-broken (distance asc, neighbor id asc).

    Scale shape: encoding is a per-row argmin over the codebook literal
    (zero shuffle, codegen'd — the same constant-ride trick as
    ``ivf_topk``); the scan is corpus x broadcast-queries with the cheap
    ADC expression, and at production scale the same codes compose with
    IVF cell gating (`ivf_topk`) so the scan touches only probed cells.
    """
    dsub = dim // m
    cb = [[vec[s * dsub : (s + 1) * dsub] for _, vec in centroids] for s in range(m)]
    # The m x ksub x dsub codebook is the largest literal in the repo;
    # element-by-element F.lit was ~m*ksub*dsub py4j round-trips of pure
    # driver declaration time per call (the r10 lit_array pathology, guide
    # §4 driver boundary). One rendered SQL literal, identical value.
    cbl = lit_array(cb, "array<array<array<bigint>>>")

    def subv(v: Column, s: Column) -> Column:
        return F.slice(v, s * dsub + 1, dsub)

    def codes(v: Column) -> Column:
        # per subspace: argmin centroid, ties to the lowest code id
        return F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.array_min(
                F.transform(
                    F.element_at(cbl, s + 1),
                    lambda c, j: F.struct(
                        sq_dist_q(subv(v, s), c).alias("d"), j.alias("j")
                    ),
                )
            )["j"],
        )

    def qtab(v: Column) -> Column:
        # [m][ksub] asymmetric distance table for one query
        return F.transform(
            cbl,
            lambda sub_cb, s: F.transform(sub_cb, lambda c: sq_dist_q(subv(v, s), c)),
        )

    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        let(quantize(vec_col), codes).alias("codes"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        let(quantize(vec_col), qtab).alias("tab"),
    )
    adist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("tab"), s + 1),
            (F.element_at(F.col("codes"), s + 1) + 1).cast("int"),
        ),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("approx_dist", adist)
    )
    return _topk(
        scored, k, F.col("approx_dist").asc(),
        ("query_id", "neighbor_id", "approx_dist", "rank"),
    )


# ---------------------------------------------------------------------------
# persisted IVF index: build once / upsert incrementally / probe many
# ---------------------------------------------------------------------------


IvfIndexSchemaError = StoredSchemaError  # the index is a merge_partitions table


def _cell_of(centroids: list[tuple[int, list[int]]], vcol: Column) -> Column:
    """Best cell id for a quantized vector: ``_best_cell`` over the cosine
    ``_cell_scores`` (ties to the lowest centroid id) — the ranker
    ``ivf_index_probe`` and ``ivf_topk`` use, so a probe's best cell is
    the cell its vector is stored under."""
    matrix, ids, _ = _codebook(centroids)
    return _best_cell(_cell_scores(matrix, ids, vcol))


def ivf_index_build(
    corpus: DataFrame,
    centroids: list[tuple[int, list[int]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index on disk: every vector stored under its best
    cell, parquet PARTITIONED BY cell — the build-once/probe-many shape
    real ANN serving uses (FAISS's add() + on-disk inverted lists,
    re-expressed as a partitioned table).

    Why persist: `ivf_topk` re-assigns the whole corpus per query batch;
    at 100 TB assignment is the dominant cost and is identical across
    batches. The partitioned layout turns every probe into PARTITION
    PRUNING — a query batch touching p cells reads p directories, not the
    corpus. The quantized vector is stored alongside the raw one so probes
    skip re-quantization."""
    assigned = fan_out(corpus).select(
        F.col(id_col),
        quantize(vec_col).alias("cv"),
        let(quantize(vec_col), lambda v: _cell_of(centroids, v)).alias("cell"),
    )
    # Cluster by cell before the partitioned write (r10, guide §6): an
    # unclustered dynamic write makes EVERY task open a file in every
    # cell it sees — tasks×nlist small files (256 at local core count;
    # unbounded on a cluster), paid again by every later read/upsert.
    # REBALANCE(cell) is the AQE form: ~one file per cell on small
    # inputs, advisory-size splits of big cells at scale.
    assigned.hint("rebalance", "cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)


def ivf_index_upsert(
    spark,
    new_rows: DataFrame,
    centroids: list[tuple[int, list[int]]],
    path: str,
    id_col: str = "vec_id",
    allow_moves: bool = False,
) -> None:
    """Incrementally add vectors to a persisted IVF index WITHOUT a
    rebuild: assign the batch to cells, then replace exactly the touched
    cell partitions with (existing ∪ batch), deduped on id with the batch
    winning — ``sinks.merge_partitions``, the same merge the
    day-partitioned bronze sink runs, keyed by cell instead of day, and
    committed through the index's commit record. The first batch into a
    missing index writes it. A stored schema that drifted from the
    batch's raises ``IvfIndexSchemaError`` before anything is written.
    Untouched cells are never read or written.

    Dedup scope: with the default ``allow_moves=False`` the id-dedup is
    APPEND/REPLAY-safe only — re-delivery of an identical row is absorbed,
    but an UPDATE whose new embedding assigns to a different cell would
    leave the stale copy in its old (untouched) cell. Pass
    ``allow_moves=True`` when updates are possible: the batch ids are
    semi-joined against the full index's (id, cell) columns — a
    column-pruned scan, no vector bytes move — and any cell holding a
    stale copy joins the touched set, so the old row is dropped too. A
    cell whose only occupants all moved out receives no row: the merge's
    commit supersedes its files and removes its directory.

    The codebook must be the one the index was built with (centroid drift
    requires a rebuild — same contract as any IVF implementation).

    Small-files note: no separate compaction step is needed — the merge
    rewrites each touched cell WHOLESALE through one cell-keyed
    REBALANCE and its commit removes the cell's previous files, so a cell
    is always ~one advisory-sized file set regardless of how many upsert
    bursts touched it (verified: repeated upserts leave one file per cell
    at fixture scale). This is deliberate: an append-based upsert would
    need the compaction cadence `sources/maintenance.compact_table` gives
    plain tables."""
    batch = fan_out(new_rows).select(
        F.col(id_col),
        quantize("embedding").alias("cv"),
        let(quantize("embedding"), lambda v: _cell_of(centroids, v)).alias("cell"),
    ).dropDuplicates([id_col])
    # The assigned batch feeds two jobs in this call (the touched-cell
    # collect and the merge write); persist it for the call's lifetime so
    # the quantize+argmax assignment runs once per batch instead of once
    # per job (r10 — batch-sized state, freed on exit).
    batch.persist()
    try:
        cells = batch.select("cell")
        idx = read_table(spark, path)
        if allow_moves and idx is not None:
            # cells holding a stale copy of an updated id (id+partition
            # cols only — parquet reads no vector bytes for this)
            stale = idx.select(id_col, "cell").join(batch.select(id_col), id_col, "semi")
            cells = cells.unionByName(stale.select("cell"))
        # a missing index takes the batch whole: no cell to collect
        touched = [] if idx is None else sorted({r["cell"] for r in cells.distinct().collect()})
        merge_partitions(spark, batch, path, [id_col], "cell", F.col("cell").isin(touched))
    finally:
        batch.unpersist()


def ivf_index_probe(
    spark,
    path: str,
    queries: DataFrame,
    centroids: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """Search a persisted IVF index: queries probe their ``nprobe`` best
    cells; the index scan is FILTERED to the probed cell set, which the
    parquet source resolves as partition pruning (only those cell
    directories are listed/read — the scan cost is probe-local at any
    corpus size). The probed-cell collect is bounded by nlist — codebook
    -sized control plane, independent of corpus and query-batch size.
    Cells are ranked by the same ``_cell_scores`` the build assigns with."""
    matrix, ids, _ = _codebook(centroids)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(vec_col).alias("qv"),
        F.explode(
            let(
                quantize(vec_col),
                lambda v: _top_cells(_cell_scores(matrix, ids, v), nprobe),
            )
        ).alias("cell"),
    )
    probed = [r["cell"] for r in q.select("cell").distinct().collect()]
    idx = read_table(spark, path).filter(F.col("cell").isin(probed))
    c = idx.select(F.col(id_col).alias("neighbor_id"), "cv", "cell")
    return _cosine_topk(c, q, k, on="cell")


def jl_project_q(qcol: Column, signs: list[list[int]]) -> Column:
    """Johnson–Lindenstrauss projection of an integer-quantized vector:
    y_j = sum_i signs[j][i] * v_i, one BIGINT per output dimension —
    EXACT integer arithmetic (same determinism as the LSH sign bits,
    which use the same ±1 matrices), so both engines compute identical
    projected coordinates. The sign matrix enters the plan as one nested
    literal."""
    m = lit_array(signs, "array<array<bigint>>")
    return F.transform(m, lambda row: dot_q(row, qcol))


def sq_dist_q(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance between quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + t,
    )


def jl_distortion_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    probe_mod: int = 41,
    offsets: tuple[int, ...] = (1, 17),
) -> DataFrame:
    """Distance-preservation audit of the JL ±1 projection [Achlioptas
    2003]: deterministic probe vectors (id % probe_mod == 0) pair with
    the vectors at id+offset (an EQUI-join — the pair population stays
    LINEAR in corpus size, unlike mod×mod sampling which is quadratic),
    and each pair reports its original and projected squared distances
    plus the distortion ratio (||y_a - y_b||² / k) / ||v_a - v_b||²,
    which the JL lemma concentrates around 1. Distances and projections
    are exact BIGINT arithmetic on micro-unit-quantized vectors; the
    ratio is the single double division — bit-identical cross-engine.

    Scale shape: one narrow projection per row (k×dim multiply-adds,
    no shuffle), one equi-join on the probe ids; pairs ~= corpus /
    probe_mod × |offsets|."""
    signs = hyperplanes(k, 64)
    vecs = df.select(F.col(id_col).alias("vid"), quantize(vec_col).alias("v"))
    probes = (
        vecs.filter(F.col("vid") % probe_mod == 0)
        .select(
            F.col("vid").alias("id_a"),
            F.col("v").alias("va"),
            F.explode(F.array(*[F.lit(o) for o in offsets])).alias("off"),
        )
        .withColumn("id_b", F.col("id_a") + F.col("off"))
    )
    joined = probes.join(
        vecs.select(F.col("vid").alias("id_b"), F.col("v").alias("vb")), "id_b"
    )
    d2o = sq_dist_q(F.col("va"), F.col("vb"))
    d2p = sq_dist_q(
        jl_project_q(F.col("va"), signs), jl_project_q(F.col("vb"), signs)
    )
    return (
        joined.select(
            "id_a",
            "id_b",
            d2o.alias("d2_orig"),
            d2p.alias("d2_proj"),
        )
        .filter(F.col("d2_orig") > 0)
        .select(
            "id_a",
            "id_b",
            "d2_orig",
            "d2_proj",
            (
                F.col("d2_proj").cast("double")
                / (F.lit(float(k)) * F.col("d2_orig").cast("double"))
            ).alias("distortion"),
        )
    )
