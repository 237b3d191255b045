"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

The scale path (north-star extension): exact dedup is a hash groupBy
(one shuffle on the content hash); near-dup follows the standard
shingle → minhash → band → bucket-join LSH pipeline so candidate
generation never goes quadratic — only documents sharing a band bucket
are compared. Everything is built-in Spark functions (md5, explode,
groupBy), no UDFs, so the whole pipeline is one Catalyst plan with
map-side partial aggregation.

Cross-engine determinism: every hash is md5 over explicit strings, and
SimHash bit arithmetic is generated as dialect-common SQL (the same
expression text runs under Spark's `expr` and in the DuckDB oracle).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import IntegralType, StructField, StructType

from incremental_data_pipeline_spark.functions.util import (
    fan_out,
    local_relation,
    observation_result,
)

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical content by md5; keep the lowest id as canonical.
    One shuffle on the 128-bit content hash — the 100 TB-safe exact dedup."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The deduplicated corpus: the canonical (min-id) row per content hash."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def exact_dedup_keep_best(
    df: DataFrame,
    text_col: str,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Exact dedup with a QUALITY survivor rule: within each content-hash
    group keep the row with the highest ``score_col`` (ties to lowest id)
    — the cross-shard dedup that keeps the best copy (longest extraction,
    highest quality score) instead of an arbitrary/min-id one. Same single
    shuffle on the md5 hash as ``exact_dedup``; the survivor choice is a
    max-by struct aggregate, map-side combinable."""
    h = F.md5(F.col(text_col))
    best = F.max(
        F.struct(
            F.col(score_col).alias("s"),
            (-F.col(id_col)).alias("neg_id"),
        )
    )
    winners = (
        df.select(h.alias("__h"), id_col, score_col)
        .groupBy("__h")
        .agg(best.alias("__best"))
        .select((-F.col("__best.neg_id")).alias(id_col))
    )
    return df.join(winners, id_col, "left_semi")


def shingles(text_col: str, n: int = 3) -> Column:
    """Word n-gram shingles of a single-space-tokenized text column."""
    t = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.size(t) - F.lit(n))
    gram = lambda i: F.concat_ws(" ", *[F.get(t, i + F.lit(k)) for k in range(n)])  # noqa: E731
    return F.when(F.size(t) >= n, F.transform(idx, gram)).otherwise(
        F.array(F.concat_ws(" ", t))
    )


def doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct (id, shingle) pairs — the set representation for Jaccard.
    Dedup happens per-row with array_distinct BEFORE the explode: same set
    semantics as a global DISTINCT (shingles are already doc-scoped) at zero
    shuffle cost — the explode stays a narrow map."""
    return fan_out(df).select(
        id_col, F.explode(F.array_distinct(shingles(text_col, n))).alias("shingle")
    )


def _shingle60(col: str) -> Column:
    """60-bit integer id for a shingle: first 15 hex chars of its md5, as
    a BIGINT. The exact-dedup operators hash shingles to ints at the
    explode so every downstream shuffle (df aggs, rarity windows, posting
    self-joins, verification arrays) moves 8 bytes instead of a ~25-byte
    string — measured 1.8x whole-query on the containment pair at the
    sf10 point. 60 bits fit a signed BIGINT exactly in both engines
    (DuckDB twin: ``('0x' || substring(md5(shingle), 1, 15))::BIGINT``);
    the registered oracles deliberately stay on RAW STRINGS, so any
    within-pair collision (probability ~|union|²/2^60) would flip the
    hash gate red — every green mirror run certifies collision-freeness
    on that fixture."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# exact n-gram Jaccard near-dup
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_df: int | None = 10000,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold, computed over the
    DISCRIMINATIVE shingle sets: shingles appearing in more than ``max_df``
    documents are dropped before anything else.

    The cap is the scale defense: a candidate join fans out quadratically
    WITHIN each shingle's posting list, so one stopword-heavy 3-gram ("of
    the and") shared by millions of documents would create a mega-bucket
    straggler at 100 TB. With the cap, every posting list is <= max_df rows
    — never corpus². A shingle in >10k documents carries no
    near-dup signal anyway (it can't distinguish its holders), so Jaccard
    over the capped sets is the standard web-dedup semantics. Pass
    ``max_df=None`` for textbook full-set Jaccard (then identical to
    `prefix_filter_jaccard_pairs`); the MinHash-LSH variant remains the
    preferred 100 TB path.

    Shape: the capped sets come from `_ranked_shingles` (window-count df
    and sizes, the cap a filter on the df column, one checkpoint) and the
    pairs from `_prefix_jaccard` — the lossless PPJoin prefix filter of
    `prefix_filter_jaccard_pairs`, run ON the capped sets. Prefix filtering
    never drops a qualifying pair, so the result is the all-pairs capped
    Jaccard, with candidate volume bounded by prefix postings rather than
    by sum(df_i^2). Shingles are 60-bit md5 prefixes from the explode
    onward (`_shingle60`)."""
    return _prefix_jaccard(
        _ranked_shingles(df, id_col, text_col, n, max_df), id_col, threshold
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 10000,
) -> DataFrame:
    """Asymmetric near-dup: pairs where the SMALLER document's shingle set
    is mostly contained in the larger's — containment(A→B) = |A∩B| / |A|.

    Jaccard misses sub-document duplication (a paragraph pasted into a
    10× longer page scores |A|/|B| ≈ 0.1 Jaccard but 1.0 containment), and
    containment is the standard web-crawl measure for it (Broder's
    resemblance-vs-containment distinction). Emits one row per unordered
    pair: ``inner_doc`` (the smaller set; doc-id tiebreak on equal sizes),
    ``outer_doc``, and ``containment`` >= threshold.

    Scale shape: delegates to :func:`prefix_filter_containment_pairs`
    with the cap applied first — the ``max_df`` cap bounds every posting
    list (capped-set semantics: sizes and intersections over the capped
    sets), and the LOSSLESS pigeonhole prefix filter then shrinks the
    candidate join to inner-prefix×full postings, Σ prefix_df·df instead
    of Σ df_i². Counts are integers; the score is one IEEE divide, so the
    oracle reproduces it bit-for-bit. (Round 5: the all-pairs-on-capped-
    sets join this function previously ran was its 10× bottleneck —
    16.1 s at sf1 — with identical output.)"""
    return prefix_filter_containment_pairs(
        df, id_col, text_col, n=n, threshold=threshold, max_df=max_df
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


MINHASH_P = 4294967311  # smallest prime > 2^32


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the affine family h_i = (a*x + b) mod P.
    a < 2^31 and x < 2^32 keep a*x + b < 2^63 (no ANSI overflow). Pure data,
    reproduced identically by the DuckDB oracle."""
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:7], 16) % (2**31 - 1) + 1
        b = int(hashlib.md5(f"b:{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 12, n: int = 3
) -> DataFrame:
    """k MinHashes per document, one column per hash (mh0..mh{k-1}).

    One md5 per shingle (not per shingle×seed): the digest's first 32 bits
    become x, and the k hashes are the classic affine family
    h_i = (a_i*x + b_i) mod P — integer codegen, so widening k costs k
    multiply-adds, not k digests. The signature agg is a single groupBy
    with k elementwise mins (map-side partial agg; no row blow-up)."""
    s = doc_shingles(df, id_col, text_col, n)
    # Stage x once as a named column: embedding the md5+conv subtree in all
    # k hash expressions would k-fold the plan for analysis/codegen.
    x = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
    staged = s.select(id_col, x.alias("__x"))
    hs = [
        ((F.lit(a) * F.col("__x") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return (
        staged.select(id_col, *hs)
        .groupBy(id_col)
        .agg(*[F.min(f"h{i}").alias(f"mh{i}") for i in range(num_hashes)])
    )



def band_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
) -> DataFrame:
    """(id, band, band_sig) rows — the banded-LSH bucket keys for each
    document, shared by the self-join, incremental, and streaming-ingest
    dedup paths. Fixed-order column concats, no collect_list shuffle."""
    sig = minhash_signatures(df, id_col, text_col, num_hashes, n)
    n_bands = num_hashes // rows_per_band
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"mh{j * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("band_sig"),
        )
        for j in range(n_bands)
    ]
    return sig.select(
        id_col, F.explode(F.array(*band_structs)).alias("bs")
    ).select(id_col, "bs.band", "bs.band_sig")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
) -> DataFrame:
    """Near-dup candidates via banded LSH: the k-column signature is cut
    into b = k/r bands; two docs are candidates iff some band is identical.
    Band signatures are fixed-order column concats (no collect_list
    shuffle), and the bucket join is an equi-join on (band, band_sig) —
    candidate volume is bounded by bucket sizes, never by corpus², which is
    what makes this the 100 TB near-dup path."""
    bands = band_signatures(df, id_col, text_col, num_hashes, rows_per_band, n)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def incremental_lsh_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
) -> DataFrame:
    """Incremental near-dup screening: candidate pairs where at least one
    side is a NEW document — the shape of a continuously-ingesting corpus
    (screen today's crawl against everything already accepted, never
    re-pair the existing corpus against itself).

    Signatures are computed for corpus ∪ batch, but the bucket join is
    new-side × all-side: candidate volume scales with the BATCH's bucket
    occupancy, not the corpus's self-join — the incremental analogue of
    the watermark-CDC extract. In production the corpus side's signatures
    are persisted once and re-read (they're content-derived and immutable),
    so each increment costs one signature pass over the new documents plus
    the bucket join."""
    both = corpus.select(id_col, text_col).unionByName(batch.select(id_col, text_col))
    bands = band_signatures(both, id_col, text_col, num_hashes, rows_per_band, n)
    new_ids = batch.select(id_col)
    new_bands = bands.join(new_ids, id_col, "left_semi")
    a = bands.alias("a")
    b = new_bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_b"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# duplicate clustering (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

# The most edges connected_components labels on the driver; above it the
# distributed loop runs. Set a decade under the measured memory bound
# (its docstring).
CC_EDGE_BUDGET = 100_000


def _min_labels(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, labels): each endpoint of the pairs (u[i], v[i]) once, in
    ascending order, and its component's minimum. A min-id union-find on
    compact ids (``np.unique`` order is id order, so the least compact id
    is the least id): every edge hooks both endpoints to the smaller of
    their labels (``np.minimum.at``), then pointer jumping label :=
    label[label] runs to its own fixpoint; repeat until a round changes
    nothing. Labels only decrease and stay inside their component, so it
    ends, and then every edge joins equal labels that label themselves."""
    nodes, ids = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = ids[: len(u)], ids[len(u):]
    label = np.arange(len(nodes))
    while True:
        prev = label.copy()
        np.minimum.at(label, a, label[b])
        np.minimum.at(label, b, label[a])
        while not np.array_equal(jumped := label[label], label):
            label = jumped
        if np.array_equal(label, prev):
            return nodes, nodes[label]


def _held_components(und: DataFrame) -> DataFrame | None:
    """``connected_components`` of the checkpointed pair list ``und``
    (u, v) labelled on the driver, as a local relation of the input's id
    type; None when the loop must run: an id type that is not integral
    (or not the same on both sides), more than ``CC_EDGE_BUDGET`` edges
    (the probe, one job, reads at most one more), or a NULL endpoint."""
    id_type = und.schema["u"].dataType
    if not isinstance(id_type, IntegralType) or und.schema["v"].dataType != id_type:
        return None
    rows = und.limit(CC_EDGE_BUDGET + 1).toArrow()
    u, v = rows.column("u"), rows.column("v")
    if rows.num_rows > CC_EDGE_BUDGET or u.null_count or v.null_count:
        return None
    nodes, labels = _min_labels(u.to_numpy(), v.to_numpy())
    arrow_type = to_arrow_type(id_type)
    table = pa.table({"node": pa.array(nodes, arrow_type),
                      "cluster_id": pa.array(labels, arrow_type)})
    schema = StructType([StructField("node", id_type), StructField("cluster_id", id_type)])
    return local_relation(und.sparkSession, table, schema)


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair list: returns
    (node, cluster_id) where cluster_id is the component's minimum node id.
    The standard final step of corpus dedup — near-dup PAIRS (from MinHash
    LSH, SimHash, or exact hashing) become duplicate CLUSTERS, from which
    one canonical document per cluster survives.

    Two paths, one result. The pair list (u, v) is localCheckpoint()ed
    once, so the upstream pair pipeline (minhash/simhash/LSH) runs once
    on either path, and a probe of it, ``limit(CC_EDGE_BUDGET + 1)``
    collected through Arrow, picks one:

    - at most ``CC_EDGE_BUDGET`` edges of an integral id type and no NULL
      endpoint: the edges are labelled on the driver (``_min_labels``, a
      NumPy min-id union-find) and come back as a local relation (a plan
      literal). The only jobs are the checkpoint's (one over a local
      input, plus the pair pipeline's AQE stages over a real one) and
      the probe's one, whatever the graph's diameter;
      ``max_iterations`` does not apply;
    - otherwise the distributed loop below, the 100 TB path.

    ``last_rounds`` records the loop's rounds, 0 on the held path
    (perfbench reads it as ``dedup.cc_rounds``).

    The budget was measured on ``local[4]`` with a 1 GB driver heap: wall
    seconds of one call on a checkpointed edge list, its result forced
    through the noop sink, held vs loop. The held path won at every
    size that ran: the LSH pairs of ``documents`` at sf0.1 (280 edges,
    0.18 vs 1.14 s) and at ``.scale/sf1`` (3,737 edges, 0.23 vs 1.99 s);
    clusters of three, 1-2 loop rounds, at 10k edges (0.23 vs 1.20 s),
    100k (0.66 vs 1.39 s), 500k (2.8 vs 8.6 s) and 1M (6.2 vs 8.9 s);
    random sparse graphs with a giant component, 6-14 rounds, at 100k
    (0.51 vs 9.7 s) and 1M (4.1 vs 50 s). At 2M edges the held path ran
    the heap out of memory: the labels' one-partition local relation
    travels inside its one task. So there is no time crossover on one
    host, only a memory bound, and the budget sits a decade under it: at
    most 200k label rows, a plan literal of a few MB.

    Loop algorithm: min-label propagation with pointer jumping. Each round,
    every node takes the min of its own label and its neighbors' labels
    (one shuffle), then compresses one indirection step
    label := label(label) (second shuffle) — the jump makes label chains
    halve each round, so convergence is O(log n) rounds for the chain
    graphs that defeat plain propagation, and 1-2 rounds for the
    small/dense clusters real duplicate graphs are made of.

    Scale notes: the driver loop is inherent (iterative fixpoint — same
    shape GraphX/GraphFrames use); per-round cost is two equi-joins on node
    ids, nothing quadratic. Each round's result is localCheckpoint()ed:
    iterative self-joins otherwise double the lineage every round until
    analysis dominates (on a cluster with a configured checkpoint dir,
    ``DataFrame.checkpoint`` is the durable equivalent). The convergence
    probe rides the checkpoint's own action as an ``Observation`` (the
    previous label is carried through the round, so changed-count is a
    metric of the jump plan itself) — ONE job per round, no separate
    count-join; if the observation can't be read a filter-count on the
    already-checkpointed frame stands in.
    """
    connected_components.last_rounds = 0  # type: ignore[attr-defined] — perf diagnostic
    # Materialize the edge set ONCE: the probe and every iteration read
    # it, and without the checkpoint each would re-execute the upstream
    # pair-generation pipeline from scratch.
    und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint()
    held = _held_components(und)
    if held is not None:
        return held
    bidir = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # Fold propagation round 1 into label init: label = min(self, direct
    # neighbors) is exactly what the first loop iteration's min-label step
    # would compute from identity labels, but costs one groupBy instead of
    # a join+groupBy+join+jump round. Real duplicate graphs are mostly
    # 2-3-cliques, which converge AT init — the loop then needs only the
    # single confirming round (changed == 0) instead of two full rounds.
    # NOT checkpointed (r11): the init labels are one groupBy over the
    # already-checkpointed edge set. Round 1 references labels twice (the
    # neighbor join and the propagation join), so skipping the eager
    # materialization recomputes that groupBy twice INSIDE one job —
    # cheaper than a whole extra job barrier, and lineage still truncates
    # at the checkpoint. Rounds 2+ use the previous round's checkpointed jump.
    labels = (
        bidir.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("label"))
        .select(F.col("u").alias("node"), "label")
    )
    from pyspark.sql import Observation

    for _round in range(max_iterations):
        connected_components.last_rounds = _round + 1  # type: ignore[attr-defined]
        nbr = (
            bidir.join(
                labels.select(F.col("node").alias("v"), "label"), "v"
            )
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        prop = labels.join(
            nbr.select(F.col("u").alias("node"), "nbr_label"), "node", "left"
        ).select(
            "node",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        jump = (
            prop.alias("p")
            .join(
                prop.select(
                    F.col("node").alias("plabel_node"),
                    F.col("label").alias("plabel"),
                ),
                F.col("p.label") == F.col("plabel_node"),
                "left",
            )
            .select(
                "node",
                "old_label",
                F.coalesce("plabel", F.col("p.label")).alias("label"),
            )
        )
        obs = Observation()
        jump = jump.observe(
            obs,
            F.coalesce(
                F.sum((F.col("label") != F.col("old_label")).cast("long")),
                F.lit(0),
            ).alias("changed"),
        ).localCheckpoint()  # the checkpoint action populates the observation
        # The checkpoint action just ran, so the bounded probe returns
        # immediately in practice; on timeout (supported-API-only
        # environments), recount with one extra scan of the small frame.
        metrics = observation_result(obs, timeout_s=5.0)
        changed = (
            metrics["changed"]
            if metrics is not None
            else jump.filter(F.col("label") != F.col("old_label")).count()
        )
        labels = jump.select("node", "label")
        if changed == 0:
            break
    else:
        # Silent non-convergence would emit WRONG cluster ids downstream
        # (splits a real duplicate cluster). Pointer jumping covers
        # diameter ~2^max_iterations, so hitting this means the budget is
        # misconfigured, not that the graph is merely large.
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


def duplicate_clusters(
    corpus: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, cluster_id) covering the WHOLE corpus: documents in some
    near-dup component get the component's min doc id, isolated documents
    are their own cluster. Downstream, `cluster_id == doc_id` selects the
    canonical survivor per cluster (min-id policy, matching exact_dedup)."""
    cc = connected_components(pairs, "doc_a", "doc_b")
    return corpus.join(
        cc.select(F.col("node").alias(id_col), "cluster_id"), id_col, "left"
    ).select(
        id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id")
    )


def incremental_components(
    old_labels: DataFrame,
    delta_edges: DataFrame,
    new_nodes: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "cluster_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Fold a batch of NEW near-dup edges (and new documents) into stored
    component labels WITHOUT re-running the fixpoint over the full graph —
    the clustering analogue of the watermark-CDC extract.

    Every delta edge is CONTRACTED onto the stored labels: each endpoint
    is replaced by its component id (unseen endpoints stand for
    themselves), so the min-label fixpoint runs on the QUOTIENT graph
    whose node set is {components touched by the batch} ∪ {new
    documents} — sized by the batch, not the corpus. Stored component
    ids are component MINIMA (``connected_components``' invariant), so
    the quotient minimum equals the full-graph minimum and the
    incremental result is bit-identical to a from-scratch run over
    base ∪ delta — which is exactly what the oracle recomputes.

    Scale shape: two hash-join label lookups on the delta's endpoints +
    a fixpoint over ≤ |delta| contracted edges (held on the driver under
    ``CC_EDGE_BUDGET`` edges, like any ``connected_components`` call);
    untouched components never leave the stored label table (one
    broadcast-or-hash left join to apply the relabel map at the end)."""
    lab = old_labels.select(
        F.col(id_col).alias("__n"), F.col(label_col).alias("__l")
    )
    contracted = (
        delta_edges.select(F.col(src).alias("__u"), F.col(dst).alias("__v"))
        .join(
            lab.select(F.col("__n").alias("__u"), F.col("__l").alias("__lu")),
            "__u",
            "left",
        )
        .join(
            lab.select(F.col("__n").alias("__v"), F.col("__l").alias("__lv")),
            "__v",
            "left",
        )
        .select(
            F.coalesce("__lu", F.col("__u")).alias("doc_a"),
            F.coalesce("__lv", F.col("__v")).alias("doc_b"),
        )
        # edges inside one existing component contract to self-loops:
        # already merged, nothing to propagate
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    relabel = connected_components(contracted, "doc_a", "doc_b").select(
        F.col("node").alias("__q"), F.col("cluster_id").alias("__new")
    )
    # Fresh nodes = declared new documents PLUS any delta-edge endpoint
    # not already labeled: an endpoint outside old_labels ∪ new_nodes
    # participates in the quotient fixpoint, so silently omitting it
    # from the universe would make it vanish from the output instead of
    # gaining its component label.
    endpoints = (
        delta_edges.select(F.col(src).alias(id_col))
        .unionByName(delta_edges.select(F.col(dst).alias(id_col)))
        .distinct()
    )
    fresh = (
        new_nodes.select(F.col(id_col))
        .unionByName(endpoints)
        .distinct()
        .join(old_labels.select(id_col), id_col, "left_anti")
        .select(F.col(id_col), F.col(id_col).alias(label_col))
    )
    universe = old_labels.select(id_col, label_col).unionByName(fresh)
    return (
        universe.join(
            relabel, universe[label_col] == relabel["__q"], "left"
        )
        .select(
            id_col,
            F.coalesce("__new", F.col(label_col)).alias(label_col),
        )
    )


# ---------------------------------------------------------------------------
# SimHash (dialect-common bit arithmetic)
# ---------------------------------------------------------------------------

def simhash_bit_terms() -> list[str]:
    """32 per-token ±1 contributions, one per bit, as dialect-common SQL
    over a column ``hv`` = the first 8 hex chars of md5(token) as a BIGINT
    (each engine stages that integer its own way; the terms themselves run
    verbatim in both Spark SQL and DuckDB, which is how the oracle matches
    bit-for-bit). Fingerprint bit b maps to value-bit p of ``hv`` so the
    output is byte-identical to the original per-hex-char formulation; a
    term is two integer ops (% and >=) — staging one integer instead of 32
    instr/substr string probes cut both plan-compile and per-token cost.
    """
    terms = []
    for b in range(32):
        k, j = b // 4 + 1, b % 4
        p = 4 * (8 - k) + j  # value-bit of hv holding fingerprint bit b
        terms.append(
            f"(CASE WHEN (hv % {2 ** (p + 1)}) >= {2**p} THEN 1 ELSE -1 END)"
        )
    return terms


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit TF-weighted SimHash: tokens vote ±1 per bit via their md5;
    bit b of the fingerprint is set iff the vote sum is positive."""
    tok = df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("token"))
    hashed = tok.withColumn(
        "hv", F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
    )
    terms = simhash_bit_terms()
    agg = hashed.groupBy(id_col).agg(
        *[F.sum(F.expr(t)).alias(f"s{b}") for b, t in enumerate(terms)]
    )
    out = None
    for b in range(32):
        piece = F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        out = piece if out is None else out + piece
    return agg.select(id_col, out.cast("long").alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-duplicate pairs: Hamming distance <= max_hamming on the
    32-bit fingerprint.

    Candidate generation uses the block-pigeonhole trick: split the 32 bits
    into (max_hamming + 1) blocks — any pair within the distance budget must
    agree EXACTLY on at least one block, so candidates come from equi-joins
    on (block_idx, block_value) and the quadratic comparison never happens.
    Exact bit_count(xor) confirms. The standard web-scale simhash dedup
    layout (per Manku et al.'s near-duplicate detection, public literature).
    """
    n_blocks = max_hamming + 1
    width = 32 // n_blocks
    sh = simhash(df, id_col, text_col)
    blocks = [
        F.struct(
            F.lit(j).alias("blk"),
            F.shiftrightunsigned(F.col("simhash"), j * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("blk_val"),
        )
        for j in range(n_blocks)
    ]
    banded = sh.select(
        id_col, "simhash", F.explode(F.array(*blocks)).alias("b")
    ).select(id_col, "simhash", "b.blk", "b.blk_val")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# prefix-filtered exact set-similarity join (PPJoin-style, lossless)
# ---------------------------------------------------------------------------


def _ranked_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_df: int | None = None,
) -> DataFrame:
    """The rarity-ranked shingle relation every prefix filter consumes:
    one row per (doc, 60-bit shingle) with its global document frequency
    ``df``, rarity rank within the doc ``rn`` (df asc, shingle asc), and
    doc set size ``sz`` — checkpointed once, since prefix selection,
    full postings, and the verification arrays all read it.

    Shape (r11): ``df`` and ``sz`` are WINDOW counts, not join-backs.
    The previous ``raw.join(raw.groupBy(shingle).count())`` +
    ``.join(raw.groupBy(id).count())`` shape executed the shingle
    explode once per aggregation side and paid two extra join shuffles;
    a count over ``Window.partitionBy(shingle)`` / ``(id)`` computes the
    identical value with one explode pass and exactly two exchanges (one
    per key), and the doc-side ``row_number`` rides the same doc-keyed
    exchange as ``sz``. Measured at sf0.1: 3.3 → 2.5 s whole-query on
    both prefix pairs, identical output.

    ``max_df`` (capped-set semantics) filters on the window count before
    the doc-side ranking — same post-count filter as before, so
    surviving shingles' df values are unchanged.

    Skew note: a shingle-keyed WINDOW cannot be split by AQE's skew
    handling (joins only), so the task holding the hottest posting list
    buffers df_max rows where the old SMJ could be skew-split. Measured
    irrelevant through the 10x point (window-df 1.6-1.7x faster than the
    join shape at .scale/sf1, identical output) because the downstream
    candidate join co-locates the same posting lists anyway; for corpora
    with unbounded stopword postings the ``max_df`` capped path is the
    production guardrail (CONTAINMENT_SCALE.md §5) — the cap bounds the
    candidate join's work, and the one uncapped window task degrades to
    a spilled linear count, not a quadratic step."""
    raw = doc_shingles(df, id_col, text_col, n).select(
        id_col, _shingle60("shingle").alias("shingle")
    )
    s = raw.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    if max_df is not None:
        s = s.filter(F.col("df") <= max_df)
    wd = Window.partitionBy(id_col)
    s = s.withColumn(
        "rn",
        F.row_number().over(wd.orderBy(F.col("df").asc(), F.col("shingle").asc())),
    ).withColumn("sz", F.count(F.lit(1)).over(wd))
    return s.localCheckpoint(eager=True)


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold via PREFIX
    FILTERING — lossless, unlike the ``max_df`` cap (which drops signal
    from frequent shingles) or MinHash-LSH (probabilistic recall).

    The pigeonhole argument (Chaudhuri/Ganti/Kaushik SSJoin; Xiao et al.
    PPJoin): order every document's shingles by GLOBAL rarity (ascending
    document frequency, ties by shingle). If Jaccard(A,B) >= t then
    |A∩B| >= ceil(t·|A|), so the intersection cannot fit entirely in A's
    last ceil(t·|A|)-1 shingles — at least one shared shingle lies in A's
    first |A| - ceil(t·|A|) + 1 (its PREFIX), and symmetrically for B.
    Joining prefix postings against prefix postings therefore finds every
    qualifying pair, and exact verification on the candidates removes
    false positives.

    Scale shape: posting lists shrink from per-shingle document frequency
    to per-shingle PREFIX frequency — and because prefixes keep each
    document's globally RAREST shingles, frequent shingles (the
    mega-bucket stragglers) fall out of most documents' prefixes
    naturally rather than by a lossy cap. Candidate volume is
    sum(prefix_df_i²) over rare shingles; verification joins only
    candidate pairs to their token sets, so cost is candidate-bounded,
    never corpus². The rarity ranking itself is two shuffles (shingle-df
    agg, per-doc row_number).
    """
    return _prefix_jaccard(_ranked_shingles(df, id_col, text_col, n), id_col, threshold)


def _prefix_jaccard(s: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Candidate generation and exact verification of the Jaccard prefix
    filter over a `_ranked_shingles` relation ``s`` — shared by
    `prefix_filter_jaccard_pairs` (full sets) and `ngram_jaccard_pairs`
    (``max_df``-capped sets; the filter is lossless on any set family).
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b."""
    # ``s`` feeds four consumers (prefix postings ×2 and both verification
    # sides); `_ranked_shingles` materializes it once with window-count
    # df/sz (r11 — see its docstring for the join-back shape this
    # replaces). Shingles are 60-bit ints from the explode (`_shingle60`):
    # every downstream shuffle moves 8-byte keys; the string-side oracle
    # certifies collision-freeness.
    # prefix length |x| - ceil(t·|x|) + 1; a float-rounding overshoot in
    # ceil only LENGTHENS the prefix (safe direction).
    prefix = s.filter(
        F.col("rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select(id_col, "shingle", "sz", "rn")
    pa = prefix.select(
        F.col(id_col).alias("doc_a"), "shingle",
        F.col("sz").alias("sz_a"), F.col("rn").alias("rn_a"),
    )
    pb = prefix.select(
        F.col(id_col).alias("doc_b"), "shingle",
        F.col("sz").alias("sz_b"), F.col("rn").alias("rn_b"),
    )
    # LENGTH filter (SSJoin/PPJoin): J(A,B) >= t forces t·|A| <= |B| and
    # t·|B| <= |A| (J <= min/max), so size-incompatible postings never
    # pair — applied INSIDE the posting-list join, before the distinct.
    # The 1e-6 slack covers the one-ulp case where t·sz rounds above the
    # exact rational product (pruning must stay strictly lossless).
    size_ok = (
        F.col("sz_b") >= F.lit(threshold) * F.col("sz_a") - F.lit(1e-6)
    ) & (F.col("sz_a") >= F.lit(threshold) * F.col("sz_b") - F.lit(1e-6))
    # POSITIONAL filter (PPJoin): at the SMALLEST common shingle of a
    # qualifying pair — which is always a join row, since prefixes are
    # downward-closed within each set and the prefix lemma guarantees
    # some common shingle in both prefixes — every other common shingle
    # ranks after it on both sides, so overlap <= 1 + min(remaining).
    # Requiring that bound to reach alpha = ceil(t/(1+t)·(sz_a+sz_b))
    # prunes late-prefix matches; rows for non-smallest common shingles
    # may pass spuriously (extra candidates, never lost pairs). Measured
    # at the sf10 point: 18.9M candidate rows without it -> pruned
    # before the distinct (candidate generation is the only stage whose
    # volume grows faster than the data).
    pos_ok = (
        1
        + F.least(
            F.col("sz_a") - F.col("rn_a"), F.col("sz_b") - F.col("rn_b")
        )
    ) >= (
        F.lit(threshold) / (1 + F.lit(threshold))
        * (F.col("sz_a") + F.col("sz_b"))
        - F.lit(1e-6)
    )
    cand = (
        pa.join(pb, "shingle")
        .filter((F.col("doc_a") < F.col("doc_b")) & size_ok & pos_ok)
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Verification joins each candidate to the two docs' SORTED SHINGLE
    # ARRAYS and counts the overlap with one array_intersect per pair —
    # the row-explosion form (candidates x |A| rows re-grouped by pair)
    # shuffled sum(|A|+|B|) rows and dominated the sf10 wall.
    sets = s.groupBy(id_col).agg(
        F.array_sort(F.collect_list("shingle")).alias("arr"),
        F.count(F.lit(1)).alias("sz"),
    )
    za = sets.select(
        F.col(id_col).alias("doc_a"), F.col("arr").alias("arr_a"),
        F.col("sz").alias("sz_a"),
    )
    zb = sets.select(
        F.col(id_col).alias("doc_b"), F.col("arr").alias("arr_b"),
        F.col("sz").alias("sz_b"),
    )
    inter = (
        cand.join(za, "doc_a")
        .join(zb, "doc_b")
        .withColumn(
            "inter", F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b")))
        )
    )
    return (
        inter.withColumn(
            "jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _prefix_containment_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    max_df: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Candidate-generation stage of the asymmetric prefix filter —
    shared by :func:`prefix_filter_containment_pairs` (verification) and
    ``scripts/containment_volume_probe.py`` (diagnostics: candidate
    volume vs true pair count is the number that decides whether the
    verification join is the bottleneck at scale). Returns
    ``(s, cand)``: the checkpointed capped shingle relation and the
    distinct (inner_doc, outer_doc) candidate pairs.

    Shingles are identified by their 60-bit md5 prefix from the explode
    onward, so every downstream shuffle (df agg, rarity window, posting
    join, arrays) moves 8-byte ints instead of ~25-byte strings —
    measured 1.8x whole-query at the sf10 point (116 -> 65 s) with
    identical pairs. The ORACLES stay on raw strings deliberately: a
    60-bit collision inside any candidate pair's shingle union
    (probability ~|union|^2/2^60 per pair) would flip the hash gate red,
    so every green mirror run doubles as a collision-freeness
    certificate for the fixture corpus."""
    # Rarity-ranked checkpointed shingle relation with window-count df/sz
    # (r11 — the cap is a post-count filter on the df column, exactly as
    # the previous post-join filter: surviving shingles' df values are
    # unchanged, and no corpus-sized frequency relation ever becomes a
    # broadcast candidate).
    s = _ranked_shingles(df, id_col, text_col, n, max_df)
    # ceil float overshoot only LENGTHENS the prefix — safe direction.
    prefix = s.filter(
        F.col("rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select(
        F.col(id_col).alias("inner_doc"), "shingle",
        F.col("sz").alias("sz_i"), F.col("rn").alias("rn_i"),
    )
    full = s.select(
        F.col(id_col).alias("outer_doc"), "shingle",
        F.col("sz").alias("sz_o"), F.col("rn").alias("rn_o"),
    )
    bigger = (F.col("sz_o") > F.col("sz_i")) | (
        (F.col("sz_o") == F.col("sz_i")) & (F.col("inner_doc") < F.col("outer_doc"))
    )
    # POSITIONAL filter at the smallest common shingle (always a join
    # row: it sits in the inner prefix by downward-closure and trivially
    # in the outer full postings): every other common shingle ranks
    # after it on BOTH sides, so overlap <= 1 + min(remaining); require
    # that to reach alpha = ceil(t·|inner|). Non-smallest rows may pass
    # spuriously — extra candidates only, never lost pairs.
    pos_ok = (
        1 + F.least(F.col("sz_i") - F.col("rn_i"), F.col("sz_o") - F.col("rn_o"))
    ) >= (F.lit(threshold) * F.col("sz_i") - F.lit(1e-6))
    cand = (
        prefix.join(full, "shingle")
        .filter(bigger & pos_ok)
        .select("inner_doc", "outer_doc")
        .distinct()
    )
    return s, cand


def prefix_filter_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.7,
    max_df: int | None = None,
) -> DataFrame:
    """Lossless prefix-filtered CONTAINMENT pairs — the asymmetric
    companion to `prefix_filter_jaccard_pairs`, replacing
    `containment_pairs`' lossy ``max_df`` cap with the pigeonhole prefix
    bound: if |A∩B|/|A| >= t for the smaller set A, the intersection has
    >= ceil(t·|A|) shingles and cannot fit in A's last ceil(t·|A|)-1, so
    at least one shared shingle lies in A's rarest-first PREFIX of length
    |A| - ceil(t·|A|) + 1. The OUTER side has no prefix (its share of the
    overlap may be arbitrarily small — that's what containment is for),
    so candidates join inner-prefix postings against FULL postings of
    every not-smaller document: volume Σ prefix_df·df per shingle —
    the (1-t) prefix shrink applied to one side — versus Σ df² unfiltered.
    Orientation (smaller set inside, doc-id tiebreak on equal sizes) is
    fixed during candidate generation, then candidates are verified
    exactly.

    Scale shape: one checkpointed shingle explode feeds df counts, sizes,
    ranking, and both verification sides; every join is an equi-join on
    shingle or the pair key. Exact verification is candidate-bounded.

    ``max_df`` (optional) first drops shingles held by more than that many
    documents — the capped-set containment SEMANTICS of
    :func:`containment_pairs` (sizes and intersections over the capped
    sets). The prefix filter then runs losslessly ON the capped sets, so
    the result is identical to the all-pairs capped join while also
    bounding the worst posting list: belt (cap) and suspenders (prefix)."""
    # The cap is a filter on the window-counted df column (see
    # `_ranked_shingles`): dropping capped shingles doesn't change the df
    # of surviving ones (df counts rows per shingle, not per co-occurring
    # shingle), so capped-set semantics cost one codegen predicate — no
    # separate semi-join pass, no second materialization of the corpus
    # postings, and both cap settings share one plan shape. The ranked
    # relation feeds three consumers (prefix, full postings, verification
    # arrays); it is the one thing worth materializing — the explode
    # feeding it is a narrow recomputable map.
    s, cand = _prefix_containment_candidates(
        df, id_col, text_col, n, threshold, max_df
    )
    # Array verification: one array_intersect per candidate pair instead
    # of re-exploding both documents' postings and re-grouping by pair
    # (the sum(|A|+|B|)-row shuffle dominated the sf10 wall).
    sets = s.groupBy(id_col).agg(
        F.array_sort(F.collect_list("shingle")).alias("arr"),
        F.count(F.lit(1)).alias("sz"),
    )
    zi = sets.select(
        F.col(id_col).alias("inner_doc"), F.col("arr").alias("arr_i"),
        F.col("sz").alias("sz_i"),
    )
    zo = sets.select(
        F.col(id_col).alias("outer_doc"), F.col("arr").alias("arr_o")
    )
    return (
        cand.join(zi, "inner_doc")
        .join(zo, "outer_doc")
        .withColumn(
            "inter", F.size(F.array_intersect(F.col("arr_i"), F.col("arr_o")))
        )
        .withColumn("containment", F.col("inter") / F.col("sz_i"))
        .filter(F.col("containment") >= threshold)
        .select("inner_doc", "outer_doc", "containment")
    )


# ---------------------------------------------------------------------------
# blocked edit-distance near-dup (character-level verification)
# ---------------------------------------------------------------------------


def blocked_edit_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 20,
    band: int = 32,
    head_tokens: int = 4,
) -> DataFrame:
    """Character-level near-dup pairs: candidates are generated by BLOCKING
    (same ``head_tokens``-token head AND adjacent length band), then
    verified with exact Levenshtein distance — the classic entity
    -resolution/dedup shape when shingle overlap is too coarse (small
    edits anywhere in the document body).

    Blocking key = (first ``head_tokens`` whitespace tokens, length div
    band). A pair whose lengths differ by more than ``band`` can't be a
    candidate, which is SOUND for max_dist <= band: every single-character
    edit changes length by at most 1, so lev(a, b) >= |len(a) - len(b)| —
    pairs more than one band apart are guaranteed beyond ``max_dist``.
    Band-boundary pairs are caught by probing each doc's own band AND the
    next one (the standard two-band trick). Each unordered pair is
    emitted exactly once by ORIENTING on (band, id): a cross-band pair is
    kept only on the lower-band doc's upward probe (whatever the id
    order), a same-band pair only in id order — then ids are
    canonicalized with least/greatest so ``doc_a < doc_b`` always holds.
    (Orienting on id alone, as a naive two-band join does, silently drops
    every cross-band pair whose lower-band member has the HIGHER id —
    recall would depend on id assignment.) Documents that disagree inside
    the head are declared out of scope for this detector (blocking recall
    contract — MinHash/SimHash cover head-edited/rearranged duplicates).

    Scale shape: the head key is what keeps blocks from saturating as the
    corpus grows — a single leading token's block population grows
    LINEARLY with corpus size (vocabulary of first words is finite), so
    Σ block² would go quadratic; a multi-token head keeps block sizes
    O(true duplicate cliques + hash-collision noise) (measured on the
    fixtures: one-token blocks grew Σ block² 55x for 10x docs, four-token
    heads 10x, with identical found pairs). Levenshtein runs only on
    candidates. At 100 TB the (head, band) blocks are the unit of shuffle
    — same geometry as the LSH bucket join.
    """
    if max_dist > band:
        raise ValueError(
            f"max_dist={max_dist} > band={band} breaks the adjacent-band "
            "soundness guarantee (lev >= length difference)"
        )
    head = F.concat_ws(
        " ", F.slice(F.split(F.col(text_col), " "), 1, head_tokens)
    )
    base = df.select(
        F.col(id_col),
        F.col(text_col),
        F.length(text_col).alias("__len"),
        head.alias("__head"),
        F.expr(f"length({text_col}) div {band}").alias("__band"),
    )
    # probe side: each doc lands in its own band and the next (one-way);
    # __pband keeps the probe doc's OWN band for the orientation filter
    probe = base.select(
        id_col, text_col, "__len", "__head",
        F.col("__band").alias("__pband"),
        F.explode(F.array(F.col("__band"), F.col("__band") + 1)).alias("__b"),
    )
    build = base.select(
        F.col(id_col).alias("__rid"),
        F.col(text_col).alias("__rtext"),
        F.col("__len").alias("__rlen"),
        "__head",
        F.col("__band").alias("__b"),
    )
    # orient on (band, id), NOT id alone: cross-band pairs survive only on
    # the lower-band doc's upward probe (regardless of id order); same-band
    # pairs only in id order.  id-alone orientation drops cross-band pairs
    # whose lower-band member has the higher id.
    cand = probe.join(build, ["__head", "__b"]).filter(
        (
            (F.col("__pband") < F.col("__b"))
            | ((F.col("__pband") == F.col("__b")) & (F.col(id_col) < F.col("__rid")))
        )
        # cheap length pre-filter: lev >= |len difference|
        & (F.abs(F.col("__len") - F.col("__rlen")) <= max_dist)
    )
    # canonicalize the pair key (doc_a < doc_b) and defensively distinct
    # before the (expensive) edit-distance verification
    cand = cand.select(
        F.least(F.col(id_col), F.col("__rid")).alias("doc_a"),
        F.greatest(F.col(id_col), F.col("__rid")).alias("doc_b"),
        F.col(text_col).alias("__ta"),
        F.col("__rtext").alias("__tb"),
    ).dropDuplicates(["doc_a", "doc_b"])
    return (
        cand.withColumn("edit_dist", F.levenshtein("__ta", "__tb"))
        .filter(F.col("edit_dist") <= max_dist)
        .select("doc_a", "doc_b", F.col("edit_dist").cast("long").alias("edit_dist"))
    )


def qgram_edit_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 3,
    q: int = 3,
    group_cols: tuple = (),
) -> DataFrame:
    """LOSSLESS small-edit-distance pair join via q-gram prefix filtering
    (the ED-Join family, Xiao et al. 2008): all pairs (within the same
    ``group_cols`` block, if given) with levenshtein <= ``max_dist`` —
    candidates bounded WITHOUT any attribute whose cardinality is
    constant in the corpus (a brand-only block has ~25 values forever,
    so within-block pairs grow quadratically with the table; measured: a
    heap OOM at the 100x point).

    Soundness: one edit destroys at most ``q`` distinct q-grams, so two
    strings within distance k share all but <= k*q of the longer side's
    distinct grams. Under any global total order on grams (rarest-first
    here, for minimal candidates), prefixes of length k*q + 1 must then
    intersect — every true pair is found by the (group, gram) equi-join
    on prefixes. Strings with <= k*q grams carry a sentinel gram in
    their prefix (their whole gram set is below the bound's bite point,
    so short-short pairs get no guarantee otherwise); short-long pairs
    are covered by the long side's theorem. The |len(a)-len(b)| <= k
    filter (lev >= length difference) prunes before verification.

    Scale shape — three output-proportional stages, because duplicate
    VALUES are collapsed before anything pairwise runs (the fixture
    family has a CONSTANT name vocabulary, so same-value cliques — and
    the contract's true output — grow with the table; any design that
    pairs rows instead of values pays clique² in candidates):
    (1) one groupBy collapses rows to distinct (group, value) cliques
    with their sorted member-id arrays; (2) same-value pairs (distance
    0) explode directly from each clique array — output-sized, no join;
    (3) the q-gram prefix join runs over DISTINCT VALUES only (postings
    bounded by the value vocabulary, not the row count), verified pairs
    then expand back through the two cliques' id arrays — again
    output-sized. The oracle twin stays the quadratic reference
    definition, so the gate certifies losslessness at every mirrored
    SF."""
    gcols = list(group_cols)
    prefix_len = max_dist * q + 1
    grams_expr = F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({text_col})"
        f" - {q - 1}, 1)), i -> substring({text_col}, i, {q})))"
    )
    # NULL text never pairs: the reference definition (levenshtein) is
    # NULL on NULL input, so a NULL-valued clique must NOT emit
    # distance-0 pairs — drop those rows before the clique groupBy.
    # NULL group values likewise never pair: the quadratic reference
    # definition blocks on a group equi-join, and SQL equality never
    # matches NULL = NULL — without this filter the clique groupBy
    # (which treats NULLs as equal) would emit distance-0 pairs the
    # stage-3 equi-join and the oracle both exclude.
    df = df.filter(F.col(text_col).isNotNull())
    for g in gcols:
        df = df.filter(F.col(g).isNotNull())
    cliq = df.groupBy(*gcols, text_col).agg(
        F.array_sort(F.collect_list(id_col)).alias("__ids"),
        F.count(F.lit(1)).alias("__n"),
    )
    # (2) same-value pairs: every row pair inside a clique is a true
    # distance-0 result; nested-transform pair explode (basket_lift's
    # narrow fan-out), never a join
    pair_structs = F.flatten(
        F.transform(
            "__ids",
            lambda x, i: F.transform(
                F.slice("__ids", i + 2, F.size("__ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    same = (
        cliq.filter(F.col("__n") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", F.lit(0).cast("int").alias("edit_dist"))
    )
    # (3) prefix join over distinct values
    reps = cliq.select(
        *gcols, text_col, "__ids", F.length(text_col).alias("__len")
    )
    base = reps.select(
        *gcols, text_col, "__len", F.explode(grams_expr).alias("__g")
    )
    dfreq = base.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    from pyspark.sql import Window

    w = Window.partitionBy(*gcols, text_col).orderBy("__df", "__g")
    ranked = base.join(dfreq, "__g").select(
        *gcols, text_col, "__len", "__g",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy(*gcols, text_col)
        ).alias("__ng"),
    )
    pref = ranked.filter(F.col("__rn") <= prefix_len).select(
        *gcols, text_col, "__len", "__g"
    )
    # sentinel for values whose whole gram set is <= k*q: short-short
    # pairs are below the prefix theorem's bite point, so they all meet
    # in one per-group sentinel bucket (bounded: only values shorter
    # than (k+1)*q characters land here)
    sentinel = (
        ranked.filter((F.col("__rn") == 1) & (F.col("__ng") <= max_dist * q))
        .select(*gcols, text_col, "__len")
        .withColumn("__g", F.lit("\x00"))
    )
    pref = pref.unionByName(sentinel)
    a = pref.select(
        *gcols,
        F.col(text_col).alias("__ta"),
        F.col("__len").alias("__la"),
        "__g",
    )
    b = pref.select(
        *gcols,
        F.col(text_col).alias("__tb"),
        F.col("__len").alias("__lb"),
        "__g",
    )
    cand = (
        a.join(b, [*gcols, "__g"])
        # lexicographic orientation: each unordered VALUE pair once
        .filter(
            (F.col("__ta") < F.col("__tb"))
            & (F.abs(F.col("__la") - F.col("__lb")) <= max_dist)
        )
        .select(*gcols, "__ta", "__tb")
        .dropDuplicates([*gcols, "__ta", "__tb"])
    )
    vpairs = cand.withColumn(
        "edit_dist", F.levenshtein("__ta", "__tb").cast("int")
    ).filter(F.col("edit_dist") <= max_dist)
    # expand verified value pairs through both cliques' member ids
    ids_a = reps.select(
        *gcols, F.col(text_col).alias("__ta"), F.col("__ids").alias("__idsa")
    )
    ids_b = reps.select(
        *gcols, F.col(text_col).alias("__tb"), F.col("__ids").alias("__idsb")
    )
    cross = (
        vpairs.join(ids_a, [*gcols, "__ta"])
        .join(ids_b, [*gcols, "__tb"])
        .select(
            "edit_dist",
            F.explode("__idsa").alias("__xa"),
            "__idsb",
        )
        .select(
            "edit_dist", "__xa", F.explode("__idsb").alias("__xb")
        )
        .select(
            F.least("__xa", "__xb").alias("id_a"),
            F.greatest("__xa", "__xb").alias("id_b"),
            "edit_dist",
        )
    )
    return same.unionByName(cross.select("id_a", "id_b", "edit_dist"))


# ---------------------------------------------------------------------------
# repeated-span removal (token-level substring dedup)
# ---------------------------------------------------------------------------


def repeated_span_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-wide repeated-SPAN removal: every SLIDING ``k``-token window
    that occurs at least ``min_count`` times anywhere in the corpus
    (across documents OR repeated within one) is cut out of every
    document, and the surviving text is reconstructed — the training-data
    "exact substring dedup" step (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better") that whole-document and
    near-dup filters cannot express: they keep or drop documents, this
    removes the duplicated PASSAGE and keeps the rest. Reference scope:
    the reference pipeline has no text curation at all; this extends the
    medallion silver layer the same way `dedup_cross_doc_spans` does,
    but with removal semantics instead of a keep/drop signal.

    Returns one row per input document: ``(id, n_tokens, n_removed,
    clean_text)`` where ``n_removed`` counts tokens covered by at least
    one duplicated window and ``clean_text`` is the remaining tokens
    re-joined in order ('' when everything was duplicated).

    Scale shape (the suffix-array pipeline, re-expressed as joins):
    - window hashing is a narrow per-row map (one md5 per token via
      array ``transform`` — no explode until the count);
    - the duplicate-window set is one map-side-combinable count shuffle
      on the 128-bit window hash;
    - coverage explodes ``k`` rows PER DUPLICATED WINDOW OCCURRENCE, so
      the expensive path is proportional to how much duplicated text
      exists, not to corpus size;
    - full token explode + order-preserving rebuild runs ONLY for
      documents that contain at least one duplicated window (left-semi
      gate) — untouched documents (the vast majority of a healthy
      corpus) never leave the narrow path and pass their text through
      unchanged.
    All hashes are md5 over explicit strings -> the DuckDB oracle
    reproduces the result bit-for-bit, including the rebuilt text.
    """
    toks = F.split(F.col(text_col), " ")
    docs = df.select(
        F.col(id_col),
        F.col(text_col).alias("__text"),
        toks.alias("__t"),
        F.size(toks).alias("__n"),
    )
    # (id, start, window-hash) for every sliding k-window. Spark's
    # sequence(1, 0) is the DESCENDING [1, 0], not empty — short docs
    # must short-circuit explicitly (same trap as dedup_cross_doc_spans).
    #
    # Window ids are 64-bit xxhash64 values, built WITHOUT strings: each
    # token is hashed once per document, and a window's id is xxhash64
    # over the k-long slice of that hash array. The original md5-over-
    # concat built an O(k·chars) string plus a crypto hash PER WINDOW
    # (O(n·k) bytes corpus-wide); this folds k longs — measured faster at
    # every point, and the 8-byte key quarters the two corpus-window-
    # sized shuffles (duplicate count + dup-starts semi-join) vs 32-char
    # md5 hex. The window id never reaches the output and the registered
    # oracle hashes RAW md5 strings, so any xxhash collision (window- or
    # token-level, ~windows²/2^64) would remove extra tokens and flip the
    # value-hash gate red — every green mirror certifies collision-
    # freeness on that fixture.
    grams = docs.select(
        id_col,
        F.transform(F.col("__t"), lambda w: F.xxhash64(w)).alias("__th"),
        F.col("__n"),
    ).select(
        id_col,
        F.explode(
            F.when(
                F.col("__n") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.col("__n") - (k - 1)),
                    lambda i: F.struct(
                        i.alias("s"),
                        F.xxhash64(F.slice("__th", i, k)).alias("h"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<s:int,h:bigint>>"))
        ).alias("__g"),
    ).select(id_col, F.col("__g.s").alias("s"), F.col("__g.h").alias("h"))
    # Duplicate-window detection as ONE window count over the hash key
    # (r11): the previous groupBy(h) + left-semi join back executed the
    # gram explode once per side and shuffled it twice (once combined,
    # once full); a count over Window.partitionBy(h) computes the same
    # occurrence count with a single full shuffle of the gram relation
    # and no join (guide §2.4 — same-keyed operations share one
    # exchange). Identical survivor set: h kept iff corpus-wide count
    # >= min_count.
    dup_starts = (
        grams.withColumn(
            "__c", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .filter(F.col("__c") >= min_count)
        .select(id_col, "s")
    )
    covered = dup_starts.select(
        id_col,
        F.explode(F.sequence(F.col("s"), F.col("s") + (k - 1))).alias("j"),
    ).distinct()
    n_removed = covered.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_removed")
    )
    # rebuild ONLY affected documents: explode to (id, position, token),
    # anti-join the covered positions, re-join in order
    affected_toks = (
        docs.join(n_removed.select(id_col), id_col, "left_semi")
        .select(id_col, F.posexplode("__t").alias("j0", "w"))
        .select(id_col, (F.col("j0") + 1).alias("j"), "w")
    )
    survivors = affected_toks.join(covered, [id_col, "j"], "left_anti")
    rebuilt = survivors.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "w"))),
                lambda x: x["w"],
            ),
            " ",
        ).alias("__ct")
    )
    return (
        docs.join(n_removed, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.col("__n").cast("bigint").alias("n_tokens"),
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
            F.when(F.col("n_removed").isNull(), F.col("__text"))
            .otherwise(F.coalesce("__ct", F.lit("")))
            .alias("clean_text"),
        )
    )
