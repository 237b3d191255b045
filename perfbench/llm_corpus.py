"""``llm_corpus``: the LLM-data user. A persisted IVF vector index kept
current by a stream, probed between updates, and a corpus curation pass
(filters -> exact dedup -> MinHash-LSH -> connected components) per round.

One round of the closed loop:

- write: one file of new and moved vectors lands in the stream source and
  is drained with ``foreach_batch_exactly_once`` ->
  ``ivf_index_upsert(allow_moves=True)`` (the ``stream_ivf_index_upsert``
  shape);
- PROBES_PER_ROUND reads: one query batch each through ``ivf_index_probe``;
- one curation pass: ``QUERIES["corpus_curation"]`` over the corpus, with
  its result collected and checked.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from incremental_data_pipeline_spark.operators import dedup, similarity, text
from incremental_data_pipeline_spark.plans import queries as queries_mod
from incremental_data_pipeline_spark.plans.queries import ORACLE, QUERIES
from incremental_data_pipeline_spark.sources.readers import load_table
from incremental_data_pipeline_spark.streaming import pipeline as streaming

import gen
import oracles
import tracing

PROBES_PER_ROUND = 1
K = 10
NPROBE = 2


def _vectors(path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    flat = t.column("embedding").combine_chunks().flatten().to_numpy()
    return ids, flat.reshape(len(ids), gen.DIM)


class LlmCorpus:
    """Workload state and operations; the round is described above."""

    def __init__(self, spark, tracer, inputs: dict, work: str, threads: int):
        self.spark, self.tracer, self.work, self.threads = spark, tracer, work, threads
        self.corpus = inputs["corpus"]
        self.vec = inputs["vectors"]
        self.sf_dir = os.path.dirname(self.corpus["path"])
        self.pending = list(self.vec["upserts"])
        self.probes = list(self.vec["probes"])
        self.delivered_bytes = os.path.getsize(self.vec["base"])
        self.expected_curation = oracles.curation_expected(
            self.corpus["path"], ORACLE["corpus_curation"], threads
        )
        self.state = None
        self.recalls: list[float] = []
        self.micro_batches: list[int] = []
        self.cells_rewritten: list[int] = []
        self.probe_results = 0
        self.pairs_df = None
        self.pair_stats: list[tuple[int, int, int]] = []  # (candidates, planted, cc rounds)

    def shim_targets(self):
        capture = self._capture_pairs
        return [
            (queries_mod, "load_table", "readers.load_table"),
            (text, "quality_score", "text.quality_score"),
            (text, "gopher_repetition_filter", "text.gopher_repetition_filter"),
            (dedup, "exact_dedup", "dedup.exact_dedup"),
            (dedup, "lsh_candidate_pairs", "dedup.lsh_candidate_pairs", capture),
            (dedup, "duplicate_clusters", "dedup.duplicate_clusters"),
            (dedup, "connected_components", "dedup.connected_components"),
        ]

    def _capture_pairs(self, df):
        self.pairs_df = df
        return df

    # -- set-up ---------------------------------------------------------------

    def setup(self, rep: int) -> None:
        """Codebook plus a fresh persisted index over the base vectors."""
        if self.state is not None:
            shutil.rmtree(self.state)
        self.state = os.path.join(self.work, f"state{rep}")
        self.index = os.path.join(self.state, "index")
        self.src = os.path.join(self.state, "stream_src")
        os.makedirs(self.src)
        emb = load_table(self.spark, os.path.dirname(self.vec["base"]), "embeddings")
        with self.tracer.span("similarity.centroid_codebook"):
            self.codebook = similarity.centroid_codebook(emb, gen.NLIST)
        with self.tracer.span("similarity.ivf_index_build"):
            similarity.ivf_index_build(emb, self.codebook, self.index)
        self.stream = (
            self.spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(self.src)
        )
        self.twin = oracles.IvfTwin(self.codebook)
        self.twin.upsert(*_vectors(self.vec["base"]))

    # -- timed operations --------------------------------------------------------

    def deliver(self) -> None:
        path = self.pending.pop(0)
        self.delivered = os.path.join(self.src, os.path.basename(path))
        os.replace(path, self.delivered)
        self.delivered_bytes += os.path.getsize(self.delivered)

    def write(self) -> tuple[int, str | None]:
        tracer = self.tracer
        calls = []
        with tracer.span("streaming.drain") as drain:

            def apply(batch, epoch):
                # Runs on the stream's callback thread: parent given explicitly.
                with tracer.span("streaming.apply", parent=drain):
                    with tracer.span("similarity.ivf_index_upsert"):
                        similarity.ivf_index_upsert(
                            self.spark, batch, self.codebook, self.index, allow_moves=True
                        )
                calls.append(epoch)

            streaming.foreach_batch_exactly_once(
                self.stream, apply, os.path.join(self.state, "ckpt"),
                os.path.join(self.state, "ledger"),
            )
        self.micro_batches.append(len(calls))
        self.twin.upsert(*_vectors(self.delivered))
        n = gen.NEW_PER_UPSERT + gen.MOVED_PER_UPSERT
        if len(calls) != 1:
            return n, f"drain applied {len(calls)} micro-batches, expected 1"
        return n, None

    def read(self) -> tuple[int, str | None]:
        path = self.probes.pop(0)
        with self.tracer.span("similarity.ivf_index_probe"):
            rows = similarity.ivf_index_probe(
                self.spark, self.index, self.spark.read.parquet(path), self.codebook,
                k=K, nprobe=NPROBE,
            ).collect()
        got = sorted(tuple(r) for r in rows)
        self.probe_results += len(got)
        qids, qvecs = _vectors(path)
        expected, exact = self.twin.probe(qids, qvecs, K, NPROBE)
        by_q: dict[int, set] = {}
        for q, nb, _cos, _rank in got:
            by_q.setdefault(q, set()).add(nb)
        self.recalls.append(
            sum(len(by_q.get(q, set()) & ex) for q, ex in zip(qids.tolist(), exact))
            / max(1, sum(len(ex) for ex in exact))
        )
        if got != sorted(expected):
            return len(qids), f"probe {os.path.basename(path)} differs from the IVF twin"
        return len(qids), None

    def curate(self) -> tuple[int, str | None]:
        with self.tracer.span("queries.callable"):
            df = QUERIES["corpus_curation"](self.spark, self.sf_dir)
        with self.tracer.span("queries.action"):
            got = sorted(tuple(r) for r in df.collect())
        if got != self.expected_curation:
            return gen.N_DOCS, "corpus_curation differs from its DuckDB oracle"
        return gen.N_DOCS, None

    def _score_pairs(self) -> None:
        """Traced run only, after the op: candidate count and the share of
        candidates inside one planted near-dup family."""
        with self.tracer.span("diag.pairs"):
            pairs = self.pairs_df.collect()
        fam = self.corpus["family"]
        planted = sum(
            1 for a, b in pairs if a in fam and fam.get(a) == fam.get(b)
        )
        # connected_components records its round count on the function object
        # it is called through, which in the traced run is the shim.
        rounds = getattr(dedup.connected_components, "last_rounds", 0)
        self.pair_stats.append((len(pairs), planted, rounds))
        self.pairs_df = None

    def rounds(self, warmup: bool = False):
        """One closed-loop round. The warm-up round has one probe."""
        yield "write", self.write, self.deliver
        for _ in range(1 if warmup else PROBES_PER_ROUND):
            yield "read", self.read, None
        yield "curate", self.curate, None

    # -- checks and metrics -----------------------------------------------------

    def final_checks(self) -> list[str]:
        t = pq.read_table(self.index, columns=["vec_id", "cell"])
        got = set(zip(t.column("vec_id").to_pylist(), [int(c) for c in t.column("cell").to_pylist()]))
        problems = []
        if t.num_rows != len(got) or got != self.twin.index_rows():
            problems.append(
                f"index holds {t.num_rows} rows ({len(got)} distinct), "
                f"twin expects {len(self.twin.ids)}"
            )
        return problems

    def input_bytes(self) -> int:
        return self.delivered_bytes

    def state_bytes(self) -> int:
        return tracing.tree_bytes(self.state)

    def before_op(self, kind: str):
        if kind == "write" and self.tracer.enabled:
            return tracing.tree_stats(self.index)
        return None

    def after_op(self, kind: str, snap) -> None:
        if kind == "curate" and self.pairs_df is not None:
            self._score_pairs()
        if snap is not None:
            after = tracing.tree_stats(self.index)
            cells = {p.split(os.sep)[0] for p, st in after.items() if snap.get(p) != st}
            cells |= {p.split(os.sep)[0] for p in snap if p not in after}
            self.cells_rewritten.append(len({c for c in cells if c.startswith("cell=")}))

    def start_timed(self) -> None:
        """Forget counters from set-up and warm-up."""
        self.recalls.clear()
        self.micro_batches.clear()
        self.cells_rewritten.clear()
        self.pair_stats.clear()
        self.probe_results = 0

    def report(self) -> dict:
        return {f"recall@{K}": sum(self.recalls) / max(1, len(self.recalls))}

    def layer_metrics(self, agg) -> dict:
        m = {
            "queries.callable.share": agg.share("queries.callable"),
            "queries.action.share": agg.share("queries.action"),
            "dedup.connected_components.share": agg.share("dedup.connected_components"),
            "streaming.drain.share": agg.share("streaming.drain"),
            "streaming.apply.share": agg.share("streaming.apply"),
            "streaming.overhead.share": agg.share("streaming.drain") - agg.share("streaming.apply"),
            "streaming.micro_batches": sum(self.micro_batches) / max(1, len(self.micro_batches)),
            "similarity.ivf_index_upsert.share": agg.share("similarity.ivf_index_upsert"),
            "similarity.ivf_index_probe.share": agg.share("similarity.ivf_index_probe"),
            "similarity.cells_rewritten_per_upsert": (
                sum(self.cells_rewritten) / max(1, len(self.cells_rewritten))
            ),
            "similarity.rows_scanned_per_result": (
                agg.input_rows("similarity.ivf_index_probe") / max(1, self.probe_results)
            ),
            "similarity.index_files": sum(
                1 for p in tracing.tree_stats(self.index) if p.endswith(".parquet")
            ),
            "similarity.recall": sum(self.recalls) / max(1, len(self.recalls)),
        }
        cand = sum(c for c, _, _ in self.pair_stats)
        m["dedup.candidate_pairs"] = cand / max(1, len(self.pair_stats))
        m["dedup.pair_precision"] = sum(p for _, p, _ in self.pair_stats) / max(1, cand)
        m["dedup.cc_rounds"] = sum(r for _, _, r in self.pair_stats) / max(1, len(self.pair_stats))
        return m
