"""The seed alone decides the inputs: same seed, same tables and requests;
another seed, other ones."""

import pyarrow.parquet as pq

from perfbench import inputs

TABLES = ("documents", "embeddings", "lineitem", "orders")


def _make(tmp_path, name, seed):
    out = tmp_path / name
    inputs.generate_tables(str(out), 0.002, seed)
    tables = {t: pq.read_table(out / f"{t}.parquet") for t in TABLES}
    emb = inputs.read_embeddings(str(out))
    rounds = [inputs.dashboard_round(seed, r, emb) for r in range(3)]
    return tables, rounds


def test_same_seed_same_inputs(tmp_path):
    a_tables, a_rounds = _make(tmp_path, "a", 7)
    b_tables, b_rounds = _make(tmp_path, "b", 7)
    assert all(a_tables[t].equals(b_tables[t]) for t in TABLES)
    assert a_rounds == b_rounds


def test_other_seed_other_inputs(tmp_path):
    a_tables, a_rounds = _make(tmp_path, "a", 7)
    c_tables, c_rounds = _make(tmp_path, "c", 8)
    assert not any(a_tables[t].equals(c_tables[t]) for t in ("documents", "embeddings", "lineitem"))
    assert a_rounds != c_rounds


def test_every_round_carries_the_stated_mix(tmp_path):
    _, rounds = _make(tmp_path, "a", 3)
    for r in rounds:
        counts = {}
        for name, _ in r:
            counts[name] = counts.get(name, 0) + 1
        assert counts == inputs.DASHBOARD_ROUND
    # rounds differ in order and parameters, not in mix
    assert rounds[0] != rounds[1]
