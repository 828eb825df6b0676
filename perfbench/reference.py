"""Independent references for every checked operation, computed outside the
timed region and never through Spark:

- registry queries: their DuckDB twins (``oracle_sql``), digested with
  ``tools/check.py``'s ``canon`` and ``table_hash``;
- served BM25 and fuzzy BM25: from-scratch scoring in Python over the
  corpus the index was built from;
- a BM25 index build: its postings, vocabulary and stats against the same
  from-scratch tokenization;
- served ANN: exact IVF probing in NumPy over the corpus vectors and the
  index's stored quantizer;
- the curation funnel: ``q_curation_funnel``'s DuckDB twin, with its
  recursive transitive closure replaced by a union-find over the same
  MinHash candidate pairs (same result, seconds instead of minutes).
"""

from __future__ import annotations

import math
import re
import zlib
from collections import Counter

import duckdb
import numpy as np
import pyarrow.parquet as pq

from tools.check import canon, table_hash

SCORE_TOL = 1.5e-4  # one unit of the 4-decimal rounding, plus float noise


def digest(pdf) -> tuple[int, str]:
    cols, lines = canon(pdf)
    return len(lines), table_hash([",".join(cols)] + lines)


def duckdb_digests(views: dict[str, str], queries: dict[str, str]) -> dict:
    """Digest of each query in ``queries`` (name -> SQL), run over parquet
    ``views`` (name -> path or glob)."""
    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        for name, path in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return {q: digest(con.execute(sql).fetchdf()) for q, sql in queries.items()}
    finally:
        con.close()


# ---- BM25 --------------------------------------------------------------------

def tokens(text: str) -> list[str]:
    return [t for t in re.split("[^a-z0-9]+", text.lower()) if t]


def auto_fuzziness(term: str) -> int:
    """Elasticsearch ``fuzziness: AUTO``: 0 up to 2 letters, 1 up to 5, else 2."""
    return 0 if len(term) <= 2 else (1 if len(term) <= 5 else 2)


def levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class Corpus:
    """Tokenized documents, for scoring served reads from scratch."""

    def __init__(self, docs_path: str):
        t = pq.read_table(docs_path, columns=["doc_id", "text"])
        self.tf = {
            d: Counter(tokens(x))
            for d, x in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
        }
        self.dl = {d: sum(c.values()) for d, c in self.tf.items()}
        self.avg_dl = sum(self.dl.values()) / len(self.dl)
        self.vocab = sorted({w for c in self.tf.values() for w in c})

    def _score(self, matches: dict[str, list[str]], k1=1.2, b=0.75) -> dict:
        n = len(self.tf)
        scores: dict[int, float] = {}
        for q, variants in matches.items():
            tf = {d: sum(c[v] for v in variants) for d, c in self.tf.items()}
            tf = {d: x for d, x in tf.items() if x}
            idf = math.log(1.0 + (n - len(tf) + 0.5) / (len(tf) + 0.5))
            for d, x in tf.items():
                s = idf * (x * (k1 + 1)) / (x + k1 * (1 - b + b * self.dl[d] / self.avg_dl))
                scores[d] = scores.get(d, 0.0) + s
        return {d: round(s, 4) for d, s in scores.items()}

    def same_index(self, index: dict) -> bool:
        """``index`` (from ``read_bm25_index``) holds exactly this corpus:
        every (term, doc, doc length, tf) posting in the bucket its term
        hashes to, the vocabulary, and the stats."""
        stats, n_buckets = index["stats"], index["stats"]["n_buckets"]
        postings = {
            (t, d, self.dl[d], n, zlib.crc32(t.encode()) % n_buckets)
            for d, c in self.tf.items()
            for t, n in c.items()
        }
        return (
            index["postings"] == postings
            and index["vocab"] == {(t, b) for t, _, _, _, b in postings}
            and stats["n_docs"] == len(self.dl)
            and math.isclose(stats["avg_dl"], self.avg_dl, rel_tol=1e-12)
        )

    def bm25(self, terms) -> dict:
        qs = list(dict.fromkeys(t.lower() for t in terms))
        return self._score({q: [q] for q in qs})

    def bm25_fuzzy(self, terms) -> dict:
        qs = list(dict.fromkeys(t.lower() for t in terms))
        return self._score({
            q: [
                v for v in self.vocab
                if abs(len(v) - len(q)) <= auto_fuzziness(q)
                and levenshtein(v, q) <= auto_fuzziness(q)
            ]
            for q in qs
        })


def read_bm25_index(path: str) -> dict:
    """What ``build_search_index`` wrote to ``path``, read without Spark."""
    postings = pq.read_table(
        f"{path}/postings", columns=["term", "doc_id", "dl", "tf", "term_bucket"]
    ).to_pylist()
    vocab = pq.read_table(f"{path}/vocab", columns=["term", "term_bucket"]).to_pylist()
    return {
        "postings": {
            (r["term"], r["doc_id"], r["dl"], r["tf"], int(r["term_bucket"])) for r in postings
        },
        "vocab": {(r["term"], int(r["term_bucket"])) for r in vocab},
        "stats": pq.read_table(f"{path}/stats").to_pylist()[0],
    }


def same_scores(served: dict, ref: dict) -> bool:
    return served.keys() == ref.keys() and all(
        abs(served[d] - ref[d]) <= SCORE_TOL for d in ref
    )


# ---- ANN ---------------------------------------------------------------------

def _cos(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cosine with the package's left-to-right dot product (cumulative sums
    add in the same order), rounded to 4 decimals like the served score."""
    dot = np.cumsum(a * b, axis=-1)[..., -1]
    na = np.sqrt(np.cumsum(a * a, axis=-1)[..., -1])
    nb = np.sqrt(np.cumsum(b * b, axis=-1)[..., -1])
    return np.round(dot / (na * nb), 4)


class IvfReference:
    """Exact IVF search: assign every vector to its best centroid, probe the
    query's ``nprobe`` best lists, rank by cosine (ties to the lower id)."""

    def __init__(self, vectors: np.ndarray, centroids_dir: str):
        t = pq.read_table(centroids_dir).sort_by("cent_id")
        self.cent_ids = np.array(t.column("cent_id").to_pylist())
        self.cents = np.array(t.column("cv").to_pylist(), dtype=np.float64)
        self.vectors = vectors
        self.lists = np.array([self._rank_cents(v)[0] for v in vectors])

    def _rank_cents(self, v: np.ndarray) -> list[int]:
        cos = _cos(self.cents, v[None, :])
        return [int(c) for _, c in sorted(zip(-cos, self.cent_ids))]

    def search(self, q, nprobe: int = 2) -> list[tuple[int, float]]:
        """Every vector in the probed lists, best first."""
        q = np.asarray(q, dtype=np.float64)
        probe = self._rank_cents(q)[:nprobe]
        ids = np.flatnonzero(np.isin(self.lists, probe))
        scores = _cos(self.vectors[ids], q[None, :])
        return sorted(zip(ids.tolist(), scores.tolist()), key=lambda x: (-x[1], x[0]))


def same_ranking(served: list[tuple[int, float]], ranked: list[tuple[int, float]]) -> bool:
    """``served`` is the reference's top of ``ranked``: rank by rank the
    scores agree within rounding, and an id may differ only where the
    reference scores it equal within that tolerance."""
    ref = ranked[: len(served)]
    all_scores = dict(ranked)
    if len(served) != min(len(ranked), 5) or not served:
        return False
    for (sid, s), (_, r) in zip(served, ref):
        if abs(s - r) > SCORE_TOL or abs(all_scores.get(sid, math.inf) - s) > SCORE_TOL:
            return False
    return len({sid for sid, _ in served}) == len(served)


# ---- curation funnel ----------------------------------------------------------

def funnel_digest(docs_path: str) -> tuple[int, str]:
    """``q_curation_funnel``'s twin over ``docs_path``; the near-dup closure
    comes from a union-find over the twin's own candidate pairs."""
    import pandas as pd

    from projet_data_engineering_spark.operators.dedup import _minhash_oracle
    from projet_data_engineering_spark.recipes.curation import _funnel_oracle

    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for a, b in con.execute(_minhash_oracle()).fetchall():
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = sorted(set(parent) | set(parent.values()))
        con.register(
            "clusters_df",
            pd.DataFrame({"node": nodes, "root": [find(n) for n in nodes]}),
        )
        sql = _funnel_oracle()
        closure_start, closure_end = sql.index("WITH RECURSIVE"), sql.index("base AS (")
        sql = (
            sql[:closure_start]
            + "WITH clusters AS (SELECT node, root FROM clusters_df),\n    "
            + sql[closure_end:]
        )
        return digest(con.execute(sql).fetchdf())
    finally:
        con.close()
