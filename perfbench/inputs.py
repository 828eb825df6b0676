"""Seeded inputs. The seed reaches the package only through what is made
here: the generated tables (``tools/gen_sf.generate``) and the request
parameters (terms and query vectors)."""

from __future__ import annotations

import contextlib
import io

import numpy as np
import pyarrow.parquet as pq

from tools import gen_sf

# Requests per dashboard round, by class. The reference app has no traffic
# log, so the weights are an assumption: KPI tiles load on every page view,
# searches are typed less often. The weights also keep each reported
# quantile inside a latency cluster rather than on the edge between two:
# the three cheap KPI aggregates are two thirds of a round (p50 falls at
# about their 75th percentile) and the two slowest classes, fuzzy BM25 and
# IVF, 4 of 27 (p90 falls at about their 30th percentile).
DASHBOARD_ROUND = {
    "q_avg": 6,
    "q_mode": 6,
    "q_value_counts": 6,
    "q_tpch_q1": 1,
    "q_search_fuzzy": 1,
    "q_search_fridge": 1,
    "q_bm25_topk": 1,
    "bm25_serve": 1,
    "bm25_serve_fuzzy": 2,
    "ann_serve": 2,
}
TERMS_PER_QUERY = 2

LETTERS = "abcdefghijklmnopqrstuvwxyz"


def generate_tables(out_dir: str, sf: float, seed: int) -> None:
    """The corpus and star-schema tables for ``seed`` at scale ``sf``."""
    with contextlib.redirect_stdout(io.StringIO()):
        gen_sf.generate(out_dir, sf, seed)


def _skewed_terms(rng, order, k: int, min_len: int = 1) -> list[str]:
    """``k`` distinct vocabulary words of at least ``min_len`` letters,
    Zipf-skewed over the seed's word ``order``, so the same few terms are hot
    all run long, as in a real query log."""
    words = [gen_sf.VOCAB[i] for i in order if len(gen_sf.VOCAB[i]) >= min_len]
    p = 1.0 / np.arange(1, len(words) + 1)
    return [words[i] for i in rng.choice(len(words), size=k, replace=False, p=p / p.sum())]


def _typo(rng, word: str) -> str:
    """One substituted letter: a typo AUTO fuzziness must still match."""
    i = int(rng.integers(len(word)))
    return word[:i] + LETTERS[int(rng.integers(len(LETTERS)))] + word[i + 1:]


def dashboard_round(seed: int, round_idx: int, embeddings: np.ndarray) -> list[tuple]:
    """Round ``round_idx`` of the seeded request sequence: every class
    ``DASHBOARD_ROUND`` times, in seeded order, each with its parameters."""
    order = np.random.default_rng([seed, 0]).permutation(len(gen_sf.VOCAB))
    rng = np.random.default_rng([seed, 1, round_idx])
    classes = [c for c, n in DASHBOARD_ROUND.items() for _ in range(n)]
    requests = []
    for c in (classes[i] for i in rng.permutation(len(classes))):
        if c == "bm25_serve":
            param = tuple(_skewed_terms(rng, order, TERMS_PER_QUERY))
        elif c == "bm25_serve_fuzzy":
            words = _skewed_terms(rng, order, TERMS_PER_QUERY, min_len=4)
            param = tuple(_typo(rng, w) for w in words)
        elif c == "ann_serve":
            base = embeddings[int(rng.integers(len(embeddings)))]
            param = tuple(float(x) for x in base + rng.normal(0.0, 0.05, base.shape))
        else:
            param = None
        requests.append((c, param))
    return requests


def read_embeddings(data_dir: str) -> np.ndarray:
    col = pq.read_table(f"{data_dir}/embeddings.parquet", columns=["embedding"])
    return np.array(col.column("embedding").to_pylist(), dtype=np.float64)
