"""Independent recomputations the benchmark checks the engine against.

- medallion: DuckDB rebuilds the gold dims and fact from the delivered
  batches. Surrogate keys follow first-seen batch, then natural key,
  which generalizes the ``medallion_e2e`` oracle to any number of batches.
- corpus curation: the registry's own DuckDB twin,
  ``ORACLE["corpus_curation"]``, over the generated documents.
- IVF index: a NumPy twin of the quantized cosine math in
  ``functions/vector.py`` with the same cell and neighbor tie-breaks as
  ``operators/similarity.py``, so probe results must match exactly.
"""

from __future__ import annotations

import duckdb
import numpy as np

# -- medallion ------------------------------------------------------------------

TIER_SQL = "'t' || CAST(user_id % 7 AS VARCHAR)"
CATEGORY_SQL = "substring(event_type, 1, 3)"


def _connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    return con


def medallion_check(delivered: list[str], gold: dict[str, str], threads: int) -> list[str]:
    """Compare the gold tables on disk with a DuckDB rebuild from the
    delivered source files (``delivered[b]`` is batch b; b=0 is the
    history). Returns a list of mismatch descriptions, empty when equal."""
    con = _connect(threads)
    union = " UNION ALL ".join(
        f"SELECT *, {b} AS b FROM read_parquet('{p}')" for b, p in enumerate(delivered)
    )
    con.execute(f"CREATE TEMP TABLE ev AS {union}")
    con.execute(f"""
        CREATE TEMP TABLE exp_dim_user AS
        SELECT CAST(row_number() OVER (ORDER BY fb, user_id) AS BIGINT) AS dim_user_key,
               user_id, {TIER_SQL} AS tier
        FROM (SELECT user_id, min(b) AS fb FROM ev GROUP BY user_id)""")
    con.execute(f"""
        CREATE TEMP TABLE exp_dim_event_type AS
        SELECT CAST(row_number() OVER (ORDER BY fb, event_type) AS BIGINT) AS dim_event_type_key,
               event_type, {CATEGORY_SQL} AS category
        FROM (SELECT event_type, min(b) AS fb FROM ev GROUP BY event_type)""")
    con.execute("""
        CREATE TEMP TABLE exp_fact AS
        SELECT e.event_id, epoch_us(e.ts) AS ts_us, e.value, u.dim_user_key, t.dim_event_type_key
        FROM ev e
        LEFT JOIN exp_dim_user u USING (user_id)
        LEFT JOIN exp_dim_event_type t USING (event_type)""")
    actual = {
        "dim_user": "SELECT dim_user_key, user_id, tier FROM {src}",
        "dim_event_type": "SELECT dim_event_type_key, event_type, category FROM {src}",
        "fact": "SELECT event_id, epoch_us(ts) AS ts_us, value, dim_user_key, "
                "dim_event_type_key FROM {src}",
    }
    problems = []
    for table, sql in actual.items():
        src = f"read_parquet('{gold[table]}/*.parquet')"
        got = sql.format(src=src)
        exp = f"SELECT * FROM exp_{table}"
        n_got = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
        n_exp = con.execute(f"SELECT count(*) FROM ({exp})").fetchone()[0]
        extra = con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {exp})").fetchone()[0]
        missing = con.execute(f"SELECT count(*) FROM ({exp} EXCEPT ALL {got})").fetchone()[0]
        if n_got != n_exp or extra or missing:
            problems.append(
                f"gold {table}: rows {n_got} vs expected {n_exp}, "
                f"{extra} unexpected, {missing} missing"
            )
    con.close()
    return problems


def star_query_expected(delivered: list[str], threads: int) -> list[tuple]:
    """The gold star aggregate over the delivered rows: (tier, category,
    events, value_sum as a 2-decimal string), sorted."""
    con = _connect(threads)
    files = ", ".join(f"'{p}'" for p in delivered)
    rows = con.execute(f"""
        SELECT {TIER_SQL} AS tier, {CATEGORY_SQL} AS category, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS v
        FROM read_parquet([{files}])
        GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    con.close()
    return [tuple(r) for r in rows]


# -- corpus curation ------------------------------------------------------------


def curation_expected(docs_path: str, oracle_sql: str, threads: int) -> list[tuple]:
    con = _connect(threads)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    rows = sorted(tuple(r) for r in con.execute(oracle_sql).fetchall())
    con.close()
    return rows


# -- IVF index ------------------------------------------------------------------


def quantize(x: np.ndarray) -> np.ndarray:
    """round(double(x) * 1e6) half-up, as int64 — ``vector.quantize``."""
    v = x.astype(np.float64) * 1_000_000
    a = np.abs(v)
    f = np.floor(a)
    return (np.sign(v) * (f + (a - f >= 0.5))).astype(np.int64)


def cosines(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """cosine_q for every (row of a, row of b): integer dot over the product
    of the two double norms, the same IEEE operations in the same order."""
    dot = (a @ b.T).astype(np.float64)
    na = np.sqrt((a * a).sum(axis=1).astype(np.float64))
    nb = np.sqrt((b * b).sum(axis=1).astype(np.float64))
    return dot / (na[:, None] * nb[None, :])


class IvfTwin:
    """Index contents and IVF probe semantics, kept in step with every
    upsert the engine applies."""

    def __init__(self, codebook: list[tuple[int, list[int]]]):
        self.cids = np.array([c for c, _ in codebook], dtype=np.int64)
        self.cents = np.array([v for _, v in codebook], dtype=np.int64)
        self.rows: dict[int, int] = {}  # vec_id -> row in self.q
        self.ids = np.zeros(0, dtype=np.int64)
        self.q = np.zeros((0, self.cents.shape[1]), dtype=np.int64)
        self.cell = np.zeros(0, dtype=np.int64)

    def _top_cells(self, qv: np.ndarray, n: int) -> np.ndarray:
        """Best ``n`` cells per row: cosine desc, centroid id asc."""
        cos = cosines(qv, self.cents)
        order = np.lexsort((np.broadcast_to(self.cids, cos.shape), -cos), axis=1)
        return self.cids[order[:, :n]]

    def upsert(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        qv = quantize(vecs)
        cells = self._top_cells(qv, 1)[:, 0]
        new_ids, new_q, new_c = [], [], []
        for i, vid in enumerate(ids.tolist()):
            r = self.rows.get(vid)
            if r is None:
                self.rows[vid] = len(self.ids) + len(new_ids)
                new_ids.append(vid)
                new_q.append(qv[i])
                new_c.append(cells[i])
            else:
                self.q[r] = qv[i]
                self.cell[r] = cells[i]
        if new_ids:
            self.ids = np.concatenate([self.ids, np.array(new_ids, dtype=np.int64)])
            self.q = np.vstack([self.q, np.array(new_q, dtype=np.int64)])
            self.cell = np.concatenate([self.cell, np.array(new_c, dtype=np.int64)])

    def index_rows(self) -> set[tuple[int, int]]:
        return set(zip(self.ids.tolist(), self.cell.tolist()))

    def probe(self, qids: np.ndarray, qvecs: np.ndarray, k: int, nprobe: int):
        """(expected probe rows, exact top-k neighbor sets) per query."""
        qv = quantize(qvecs)
        probed = self._top_cells(qv, nprobe)
        cos = cosines(qv, self.q)
        rows, exact = [], []
        for i, qid in enumerate(qids.tolist()):
            ok = self.ids != qid
            cand = np.flatnonzero(ok & np.isin(self.cell, probed[i]))
            top = cand[np.lexsort((self.ids[cand], -cos[i, cand]))[:k]]
            rows += [(qid, int(self.ids[j]), float(cos[i, j]), r + 1) for r, j in enumerate(top)]
            allc = np.flatnonzero(ok)
            best = allc[np.lexsort((self.ids[allc], -cos[i, allc]))[:k]]
            exact.append({int(self.ids[j]) for j in best})
        return rows, exact
