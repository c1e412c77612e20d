"""Seeded inputs for the benchmark workloads, and the independent models
that say what the engine must return for them.

Nothing here imports the engine: every expected result is computed with
numpy/pyarrow/pandas from the generated inputs, so a model is a second,
independent implementation of the answer, not a rerun of the code under
test.  The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_KEYS = ("l_orderkey", "l_linenumber")
LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)
CHURN_SCHEMA = pa.schema(
    [("id", pa.int64()), ("ver", pa.int64()), ("payload", pa.string())]
)

# Sequence numbers of the MOR table.  Equality deletes are committed at
# EQ_SEQ; data files at OLD_DATA_SEQ are older and lose rows to them,
# files at NEW_DATA_SEQ are newer and keep every row (Iceberg's strict
# "delete seq > data seq" rule).  Position deletes sit above both.
OLD_DATA_SEQ, EQ_SEQ, NEW_DATA_SEQ, POS_SEQ = 1, 2, 3, 4
HIDDEN_SEQ = "sys_hidden_seq_num"
HIDDEN_FILE = "sys_hidden_file_path"
HIDDEN_POS = "sys_hidden_pos"


def fingerprint(table: pa.Table, schema: pa.Schema) -> tuple[int, int]:
    """(rows, order-insensitive content hash) of ``table`` cast to
    ``schema``: the sum, modulo 2**64, of one 64-bit hash per row."""
    if table.num_rows == 0:
        return 0, 0
    t = table.select(schema.names).cast(schema)
    rows = pd.util.hash_pandas_object(t.to_pandas(), index=False)
    return t.num_rows, int(rows.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))


# ---------------------------------------------------------------------------
# compact_mor: a lineitem table with position and equality deletes
# ---------------------------------------------------------------------------


def lineitem(rng: np.random.Generator, n_rows: int) -> pa.Table:
    """TPC-H-shaped lineitem rows: 1-7 lines per order, sparse order keys,
    rows shuffled so no data file is key-clustered."""
    lines = rng.integers(1, 8, size=n_rows)  # more orders than needed
    ends = np.cumsum(lines)
    n_orders = int(np.searchsorted(ends, n_rows)) + 1
    lines = lines[:n_orders]
    lines[-1] -= int(lines.sum()) - n_rows
    order_idx = np.repeat(np.arange(n_orders), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n_rows) - starts + 1).astype(np.int32)
    orderkey = order_idx.astype(np.int64) * 4 + 1
    perm = rng.permutation(n_rows)
    qty = rng.integers(1, 51, size=n_rows).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, size=n_rows), 2)
    days = rng.integers(8036, 10591, size=n_rows)  # 1992-01-01 .. 1998-12-31
    return pa.table(
        {
            "l_orderkey": orderkey[perm],
            "l_partkey": rng.integers(1, 20001, size=n_rows),
            "l_suppkey": rng.integers(1, 1001, size=n_rows),
            "l_linenumber": linenumber[perm],
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, size=n_rows) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_rows) / 100.0,
            "l_returnflag": pa.array(
                np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_rows)]
            ),
            "l_linestatus": pa.array(
                np.array(["F", "O"])[rng.integers(0, 2, size=n_rows)]
            ),
            "l_shipdate": pa.array(
                days.astype("datetime64[D]").astype("datetime64[us]")
            ),
        },
        schema=LINEITEM_SCHEMA,
    )


@dataclass
class MorFile:
    """One generated data file and the delete files attached to it."""

    data_path: str
    sequence_number: int
    pos_path: str
    pos_count: int
    eq_path: str
    eq_count: int


@dataclass
class MorTable:
    root: str
    files: list[MorFile]
    expected: tuple[int, int]  # fingerprint of the live rows
    live_rows: int


def write_mor_table(
    root: str, seed: int, n_rows: int, n_files: int, delete_share: float = 0.01
) -> MorTable:
    """Write ``n_files`` lineitem data files under ``root`` (plus their
    delete files under ``root/deletes``) and model the live rows.

    Each file gets a position-delete file over ``delete_share`` of its
    rows and an equality-delete file on ``(l_orderkey, l_linenumber)``
    over another ``delete_share``, half of whose keys are rows the
    position delete already removed.  Every fourth file is written at a
    sequence number above its equality delete, which therefore must not
    remove any of its rows."""
    rng = np.random.default_rng(seed)
    table = lineitem(rng, n_rows)
    os.makedirs(os.path.join(root, "deletes"), exist_ok=True)
    bounds = np.linspace(0, n_rows, n_files + 1).astype(int)
    files: list[MorFile] = []
    live_parts: list[pa.Table] = []
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        n = part.num_rows
        data_path = os.path.join(root, f"data-{i:03d}.parquet")
        pq.write_table(part, data_path)
        k = max(1, int(n * delete_share))
        pos = np.sort(rng.choice(n, size=k, replace=False))
        pos_path = os.path.join(root, "deletes", f"pos-{i:03d}.parquet")
        pq.write_table(
            pa.table(
                {
                    HIDDEN_FILE: pa.array([data_path] * k, pa.string()),
                    HIDDEN_POS: pa.array(pos, pa.int64()),
                }
            ),
            pos_path,
        )
        # equality keys: half over position-deleted rows, half fresh
        keep_mask = np.ones(n, dtype=bool)
        keep_mask[pos] = False
        fresh = rng.choice(np.flatnonzero(keep_mask), size=k, replace=False)
        eq_rows = np.concatenate([pos[: k // 2], fresh])
        eq_path = os.path.join(root, "deletes", f"eq-{i:03d}.parquet")
        keys = part.select(list(LINEITEM_KEYS)).take(pa.array(eq_rows))
        pq.write_table(
            keys.append_column(
                HIDDEN_SEQ, pa.array([EQ_SEQ] * len(eq_rows), pa.int64())
            ),
            eq_path,
        )
        seq = NEW_DATA_SEQ if i % 4 == 3 else OLD_DATA_SEQ
        if seq < EQ_SEQ:
            keep_mask[fresh] = False
        live_parts.append(part.filter(pa.array(keep_mask)))
        files.append(
            MorFile(data_path, seq, pos_path, k, eq_path, len(eq_rows))
        )
    live = pa.concat_tables(live_parts)
    return MorTable(
        root, files, fingerprint(live, LINEITEM_SCHEMA), live.num_rows
    )


# ---------------------------------------------------------------------------
# ingest_churn: a many-file keyed table under seeded upserts
# ---------------------------------------------------------------------------


def _payload(ids: np.ndarray, ver: int) -> list[str]:
    return [f"p{ver:05d}-{i:09d}" for i in ids.tolist()]


@dataclass
class ChurnModel:
    """Live key set of the churn table: ``id -> ver`` plus the payload
    rule ``_payload``; every read and the final state are checked
    against it."""

    rows_per_file: int
    next_id: int
    ver: dict[int, int] = field(default_factory=dict)
    batches: int = 0
    # batches never update keys below this, so a reader of [0, it)
    # races no writer
    min_update_key: int = 0

    def apply(self, batch: "UpsertBatch") -> None:
        """Record a batch the table has committed."""
        for i, v in zip(
            batch.table["id"].to_pylist(), batch.table["ver"].to_pylist()
        ):
            self.ver[i] = v

    def expected(self, lo: int = None, hi: int = None) -> tuple[int, int]:
        """Fingerprint of the live rows with ``lo <= id < hi``."""
        ids = np.fromiter(self.ver.keys(), dtype=np.int64, count=len(self.ver))
        vers = np.fromiter(
            self.ver.values(), dtype=np.int64, count=len(self.ver)
        )
        if lo is not None:
            sel = (ids >= lo) & (ids < hi)
            ids, vers = ids[sel], vers[sel]
        payload = [f"p{v:05d}-{i:09d}" for i, v in zip(ids.tolist(), vers.tolist())]
        t = pa.table(
            {"id": ids, "ver": vers, "payload": pa.array(payload, pa.string())},
            schema=CHURN_SCHEMA,
        )
        return fingerprint(t, CHURN_SCHEMA)


def write_churn_table(
    root: str, n_files: int, rows_per_file: int
) -> ChurnModel:
    """``n_files`` key-clustered files (file i holds ids
    ``[i*rows_per_file, (i+1)*rows_per_file)``) so column bounds let a
    key-range read prune to a handful of files."""
    os.makedirs(root, exist_ok=True)
    model = ChurnModel(rows_per_file, n_files * rows_per_file)
    for i in range(n_files):
        ids = np.arange(i * rows_per_file, (i + 1) * rows_per_file, dtype=np.int64)
        pq.write_table(
            pa.table(
                {
                    "id": ids,
                    "ver": np.zeros(len(ids), dtype=np.int64),
                    "payload": pa.array(_payload(ids, 0), pa.string()),
                },
                schema=CHURN_SCHEMA,
            ),
            os.path.join(root, f"base-{i:05d}.parquet"),
            row_group_size=rows_per_file,
        )
    model.ver = dict.fromkeys(range(model.next_id), 0)
    return model


@dataclass
class UpsertBatch:
    table: pa.Table
    lo: int  # the batch's updated keys are [lo, hi); inserts are above
    hi: int


def next_batch(
    rng: np.random.Generator, model: ChurnModel, size: int
) -> UpsertBatch:
    """A batch of ``size`` unique keys: half updates of a contiguous key
    window of existing rows, half inserts of brand-new keys.  The model
    records it only once the caller reports the commit (``apply``)."""
    model.batches += 1
    ver = model.batches
    n_upd = size // 2
    lo = int(rng.integers(model.min_update_key, model.next_id - n_upd))
    upd = np.arange(lo, lo + n_upd, dtype=np.int64)
    new = np.arange(model.next_id, model.next_id + size - n_upd, dtype=np.int64)
    model.next_id += len(new)
    ids = np.concatenate([upd, new])
    t = pa.table(
        {
            "id": ids,
            "ver": np.full(len(ids), ver, dtype=np.int64),
            "payload": pa.array(_payload(ids, ver), pa.string()),
        },
        schema=CHURN_SCHEMA,
    )
    return UpsertBatch(t, lo, lo + n_upd)


# ---------------------------------------------------------------------------
# curation_mix: a document corpus and an embedding set
# ---------------------------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])


def write_corpus(
    root: str, seed: int, n_docs: int, n_vecs: int, dim: int = 64
) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` under ``root``,
    shaped like the engine's test corpus: short texts over a 30-word
    vocabulary with ~5% near-duplicates (an earlier doc plus " dup") and
    a few exact duplicates, and unit-norm embeddings in 10 clusters."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), size=n)]))
    docs = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.integers(0, len(LANGS), size=n_docs)]),
            "source": pa.array(
                [f"src{j}" for j in rng.integers(0, 20, size=n_docs).tolist()]
            ),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    pq.write_table(docs, os.path.join(root, "documents.parquet"))
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, size=n_vecs)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": labels.astype(np.int32),
        }
    )
    pq.write_table(emb, os.path.join(root, "embeddings.parquet"))
