"""Seeded input generators for the benchmark workloads.

Every input is a pure function of the seed: the same seed writes
byte-identical tables, a different seed writes different rows of the
same sizes. Nothing here touches Spark; the engine only ever sees the
parquet files these functions write.

    python3 perfbench/gen.py --selftest     # determinism check
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- medallion_cdc ----------------------------------------------------------

HIST_ROWS = 100_000  # the size of the sf0.1 events table
HIST_DAYS = 30
BATCH_ROWS = HIST_ROWS // 1000  # 0.1% of the history per watermark batch
BATCH_HOURS = 12
MAX_BATCHES = 40  # more than one run can consume
BASE_USERS = 10_000
BASE_TYPES = ("view", "click", "cart", "buy", "search", "share", "error", "signup")
NEW_USER_FRAC = 0.1  # share of batch rows from users never seen before
NEW_TYPE_PROB = 0.25  # chance that a batch introduces a new event_type
T0_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
DAY_US = 86_400 * 10**6

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _events(rng, n, lo_us, hi_us, id0, users, types) -> pa.Table:
    """``n`` events with timestamps in the half-open window [lo_us, hi_us)."""
    ts = np.sort(rng.integers(lo_us, hi_us, n))
    # Zipf-like user skew: a few heavy users, a long tail.
    uid = users[np.minimum(rng.zipf(1.3, n) - 1, len(users) - 1)]
    etype = np.asarray(types, dtype=object)[rng.integers(0, len(types), n)]
    return pa.table(
        {
            "event_id": np.arange(id0, id0 + n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": uid.astype(np.int64),
            "event_type": pa.array(etype, pa.string()),
            "value": np.round(rng.gamma(2.0, 25.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        },
        schema=EVENTS_SCHEMA,
    )


def medallion_inputs(seed: int, out_dir: str) -> dict:
    """History file plus MAX_BATCHES pending watermark batches.

    - ``src/events.parquet/part-00000.parquet``: the history (batch 0);
    - ``pending/batch-NNNNN.parquet``: batch N, delivered one per write.

    Batch N's timestamps lie strictly after every earlier row, so an open
    watermark window picks exactly that batch. Event ids are unique, and
    dim attributes derive from the key, so no sink or dim survivor choice
    can change the result.
    """
    rng = np.random.default_rng([seed, 1])
    src = os.path.join(out_dir, "src", "events.parquet")
    pending = os.path.join(out_dir, "pending")
    os.makedirs(src)
    os.makedirs(pending)
    users = np.sort(rng.choice(1 << 22, BASE_USERS, replace=False)).astype(np.int64)
    rng.shuffle(users)  # heavy users are not the lowest ids
    types = list(BASE_TYPES)
    hist_hi = T0_US + HIST_DAYS * DAY_US
    pq.write_table(
        _events(rng, HIST_ROWS, T0_US, hist_hi, 0, users, types),
        os.path.join(src, "part-00000.parquet"),
    )
    next_id, next_user = HIST_ROWS, 1 << 22
    batches = []
    for b in range(1, MAX_BATCHES + 1):
        lo = hist_hi + (b - 1) * BATCH_HOURS * 3600 * 10**6
        hi = lo + BATCH_HOURS * 3600 * 10**6
        n_new_users = int(BATCH_ROWS * NEW_USER_FRAC)
        fresh = np.arange(next_user, next_user + n_new_users, dtype=np.int64)
        next_user += n_new_users
        if rng.random() < NEW_TYPE_PROB:
            types.append(f"type_b{b:03d}")
        t = _events(rng, BATCH_ROWS, lo, hi, next_id, users, types)
        # Seeded share of brand-new members: overwrite some user ids with
        # users no earlier batch has seen.
        uid = t.column("user_id").to_numpy().copy()
        pos = rng.choice(BATCH_ROWS, n_new_users, replace=False)
        uid[pos] = fresh
        t = t.set_column(2, "user_id", pa.array(uid))
        users = np.concatenate([users, fresh])
        path = os.path.join(pending, f"batch-{b:05d}.parquet")
        pq.write_table(t, path)
        batches.append(path)
        next_id += BATCH_ROWS
    return {"history": os.path.join(src, "part-00000.parquet"), "src": src,
            "batches": batches}


# -- llm_corpus: documents ---------------------------------------------------

N_DOCS = 1_000
STOPWORDS = ("the", "a", "and", "of", "to", "is", "in")
OTHER_LANGS = ("de", "es", "fr", "zh")


def _vocab(rng, n: int) -> np.ndarray:
    syl = ["ka", "lo", "mi", "ren", "to", "vas", "el", "qu", "dor", "ia",
           "sen", "ul", "pra", "ne", "bi", "os", "tal", "fe", "gri", "um"]
    words = set()
    while len(words) < n:
        k = rng.integers(2, 4)
        words.add("".join(syl[i] for i in rng.integers(0, len(syl), k)))
    return np.array(sorted(words), dtype=object)


def _text(rng, vocab, n_tokens: int) -> list[str]:
    toks = vocab[rng.integers(0, len(vocab), n_tokens)].tolist()
    for i in np.flatnonzero(rng.random(n_tokens) < 0.2):
        toks[i] = STOPWORDS[rng.integers(0, len(STOPWORDS))]
    return toks


def _mutate(rng, vocab, toks: list[str], positions) -> list[str]:
    out = list(toks)
    for p in positions:
        out[p] = vocab[rng.integers(0, len(vocab))]
    return out


def corpus(seed: int, path: str) -> dict:
    """Documents with the sf0.1 ``documents`` schema, plus planted structure:

    - exact copies (same text, new id) for exact dedup;
    - near-dup cliques of 2-5 one-token variants of a base text;
    - chains of 6-9 docs, each one token away from the previous one, so
      far ends share little and connected components needs several
      pointer-jumping rounds;
    - non-English docs, short low-quality docs and repetitive docs that the
      language, quality and repetition filters must drop.

    Returns the planted near-dup families (doc_id -> family id) that the
    pair-precision metric scores candidates against; the engine never sees
    them.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 600)
    texts: list[list[str]] = []
    family: dict[int, int] = {}
    fam = 0

    def add(toks, fam_id=None):
        if fam_id is not None:
            family[len(texts)] = fam_id
        texts.append(toks)

    while len(texts) < N_DOCS:
        r = rng.random()
        n_tok = int(rng.integers(30, 60))
        if r < 0.03 and len(texts) < N_DOCS - 10:  # chain
            toks = _text(rng, vocab, n_tok)
            for _ in range(int(rng.integers(6, 10))):
                add(toks, fam)
                toks = _mutate(rng, vocab, toks, [int(rng.integers(0, n_tok))])
            fam += 1
        elif r < 0.15 and len(texts) < N_DOCS - 5:  # near-dup clique
            base = _text(rng, vocab, n_tok)
            for _ in range(int(rng.integers(2, 6))):
                add(_mutate(rng, vocab, base, [int(rng.integers(0, n_tok))]), fam)
            fam += 1
        elif r < 0.21:  # low quality: short and repetitive
            w = vocab[rng.integers(0, len(vocab))]
            add([w] * int(rng.integers(2, 6)))
        elif r < 0.27:  # fails the Gopher repetition filter
            a, b = vocab[rng.integers(0, len(vocab), 2)]
            add([a, b] * int(rng.integers(10, 25)))
        else:
            add(_text(rng, vocab, n_tok))
    texts = texts[:N_DOCS]
    family = {d: f for d, f in family.items() if d < N_DOCS}
    # Exact copies: overwrite 8% of the singleton docs with another
    # singleton's text (the copy keeps its own id, source and language).
    singles = [d for d in range(N_DOCS) if d not in family]
    for d in rng.choice(singles, int(0.08 * N_DOCS), replace=False):
        texts[d] = texts[singles[int(rng.integers(0, len(singles)))]]
    text = [" ".join(t) for t in texts]
    lang = np.where(
        rng.random(N_DOCS) < 0.85,
        "en",
        np.asarray(OTHER_LANGS, dtype=object)[rng.integers(0, len(OTHER_LANGS), N_DOCS)],
    )
    # Shuffle ids so planted families are not contiguous id ranges.
    perm = rng.permutation(N_DOCS)
    doc_id = perm.astype(np.int64)
    table = pa.table(
        {
            "doc_id": doc_id,
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 10, N_DOCS)]),
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    ).sort_by("doc_id")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return {"path": path, "family": {int(perm[d]): f for d, f in family.items()}}


# -- llm_corpus: vectors -----------------------------------------------------

DIM = 64
N_VECS = 6_000  # 3x the sf0.1 embeddings table
N_CLUSTERS = 24
NLIST = 16
NEW_PER_UPSERT = 40
MOVED_PER_UPSERT = 10
QUERIES_PER_PROBE = 16
MAX_UPSERTS = 40
MAX_PROBES = 120
QUERY_ID0 = 1 << 40

EMB_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
)


def _vec_table(ids, x, labels) -> pa.Table:
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    emb = pa.ListArray.from_arrays(np.arange(0, x.size + 1, DIM, dtype=np.int32), flat)
    return pa.table(
        {"vec_id": pa.array(ids, pa.int64()), "embedding": emb,
         "label": pa.array(labels, pa.int32())},
        schema=EMB_SCHEMA,
    )


def vectors(seed: int, out_dir: str) -> dict:
    """Clustered unit vectors: the initial corpus, MAX_UPSERTS stream files
    (new ids plus moved ids re-embedded near another cluster) and
    MAX_PROBES query batches."""
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(size=(N_CLUSTERS, DIM))

    def draw(n):
        lab = rng.integers(0, N_CLUSTERS, n)
        x = centers[lab] + 0.45 * rng.normal(size=(n, DIM))
        return x / np.linalg.norm(x, axis=1, keepdims=True), lab

    os.makedirs(os.path.join(out_dir, "pending"))
    os.makedirs(os.path.join(out_dir, "queries"))
    x, lab = draw(N_VECS)
    base = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(_vec_table(np.arange(N_VECS), x, lab), base)
    upserts, next_id = [], N_VECS
    for u in range(MAX_UPSERTS):
        moved = rng.choice(np.arange(NLIST, N_VECS), MOVED_PER_UPSERT, replace=False)
        ids = np.concatenate([np.arange(next_id, next_id + NEW_PER_UPSERT), moved])
        next_id += NEW_PER_UPSERT
        y, ylab = draw(len(ids))
        path = os.path.join(out_dir, "pending", f"upsert-{u:05d}.parquet")
        pq.write_table(_vec_table(ids, y, ylab), path)
        upserts.append(path)
    probes = []
    for p in range(MAX_PROBES):
        q, qlab = draw(QUERIES_PER_PROBE)
        ids = QUERY_ID0 + p * QUERIES_PER_PROBE + np.arange(QUERIES_PER_PROBE)
        path = os.path.join(out_dir, "queries", f"q-{p:05d}.parquet")
        pq.write_table(_vec_table(ids, q, qlab), path)
        probes.append(path)
    return {"base": base, "upserts": upserts, "probes": probes}


# -- determinism check --------------------------------------------------------


def generate(workload: str, seed: int, out_dir: str) -> dict:
    if workload == "medallion_cdc":
        return medallion_inputs(seed, out_dir)
    if workload == "llm_corpus":
        return {
            "corpus": corpus(seed, os.path.join(out_dir, "sf", "documents.parquet")),
            "vectors": vectors(seed, os.path.join(out_dir, "vec")),
        }
    raise ValueError(f"unknown workload {workload!r}")


def row_digest(root: str) -> tuple[str, int]:
    """(sha256 over every row of every parquet file under ``root``, rows)."""
    h, rows = hashlib.sha256(), 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(dirpath, f))
                rows += t.num_rows
                h.update(os.path.relpath(os.path.join(dirpath, f), root).encode())
                for batch in t.to_batches():
                    for col in batch.columns:
                        h.update(str(col.to_pylist()).encode())
    return h.hexdigest(), rows


def selftest(scratch: str) -> bool:
    ok = True
    for wl in ("medallion_cdc", "llm_corpus"):
        digests = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(scratch, f"{wl}-{tag}")
            shutil.rmtree(d, ignore_errors=True)
            generate(wl, seed, d)
            digests[tag] = row_digest(d)
            shutil.rmtree(d)
        same = digests["a"] == digests["b"]
        differ = digests["a"][0] != digests["c"][0]
        sizes = digests["a"][1] == digests["c"][1]
        print(f"{wl}: rows={digests['a'][1]} same-seed-identical={same} "
              f"other-seed-differs={differ} other-seed-same-size={sizes}")
        ok &= same and differ and sizes
    return ok


if __name__ == "__main__":
    if sys.argv[1:] != ["--selftest"]:
        sys.exit("usage: python3 perfbench/gen.py --selftest")
    work = os.path.join(os.getcwd(), ".perfbench_work", "selftest")
    try:
        good = selftest(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("determinism check:", "PASS" if good else "FAIL")
    sys.exit(0 if good else 1)
