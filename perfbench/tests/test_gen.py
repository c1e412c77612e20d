"""Generator determinism: a seed fixes the inputs and the model."""

import hashlib
import os

import numpy as np

import gen


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_corpus_same_seed_same_bytes(tmp_path):
    gen.write_corpus(str(tmp_path / "a"), 3, 200, 60)
    gen.write_corpus(str(tmp_path / "b"), 3, 200, 60)
    gen.write_corpus(str(tmp_path / "c"), 4, 200, 60)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_mor_table_model_by_seed(tmp_path):
    a = gen.write_mor_table(str(tmp_path / "a"), 5, 3000, 4)
    b = gen.write_mor_table(str(tmp_path / "b"), 5, 3000, 4)
    c = gen.write_mor_table(str(tmp_path / "c"), 6, 3000, 4)
    assert a.expected == b.expected and a.live_rows == b.live_rows
    assert a.expected != c.expected
    # 1% position deletes on every file; 1% equality deletes that only
    # the files older than the delete lose
    removed = sum(f.pos_count for f in a.files) + sum(
        f.eq_count - f.pos_count // 2
        for f in a.files
        if f.sequence_number < gen.EQ_SEQ
    )
    assert a.live_rows == 3000 - removed


def _batches(seed: int, n: int):
    model = gen.ChurnModel(rows_per_file=10, next_id=1000)
    model.ver = dict.fromkeys(range(1000), 0)
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n):
        b = gen.next_batch(rng, model, 40)
        model.apply(b)
        out.append(b)
    return model, out


def test_churn_batches_by_seed():
    m1, b1 = _batches(7, 5)
    m2, b2 = _batches(7, 5)
    m3, b3 = _batches(8, 5)
    assert all(x.table.equals(y.table) for x, y in zip(b1, b2))
    assert m1.expected() == m2.expected()
    assert any(not x.table.equals(y.table) for x, y in zip(b1, b3))
    # keys in a batch are unique; inserts extend the key space
    for b in b1:
        ids = b.table["id"].to_pylist()
        assert len(ids) == len(set(ids)) == 40
    assert m1.next_id == 1000 + 5 * 20


def test_churn_model_range_matches_full_filter():
    model, _ = _batches(9, 3)
    rows, _ = model.expected(100, 200)
    assert rows == 100
    assert model.expected(5000, 6000) == (0, 0)


def test_fingerprint_ignores_row_order():
    import pyarrow as pa

    t = pa.table({"id": [1, 2, 3], "ver": [0, 0, 1], "payload": ["a", "b", "c"]})
    rev = t.take(pa.array([2, 1, 0]))
    assert gen.fingerprint(t, gen.CHURN_SCHEMA) == gen.fingerprint(
        rev, gen.CHURN_SCHEMA
    )
    assert gen.fingerprint(t, gen.CHURN_SCHEMA) != gen.fingerprint(
        t.slice(0, 2), gen.CHURN_SCHEMA
    )
