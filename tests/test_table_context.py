"""Every compaction entry point binds its plans to the table the same way
(``Manifest.compaction_plans``) and commits catalog tables through the
same loop (``Compaction.commit_catalog``)."""

import os
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_compaction_spark import service
from iceberg_compaction_spark.commit import CommitConflict
from iceberg_compaction_spark.compaction import (
    AutoCompaction,
    Compaction,
    upgrade_format_version,
)
from iceberg_compaction_spark.config import CommitRetryConfig, CompactionConfig
from iceberg_compaction_spark.plans.auto import AutoCompactionConfig
from iceberg_compaction_spark.plans.datamodel import POSITION_DELETE
from iceberg_compaction_spark.service import MaintenancePolicy, maintain
from iceberg_compaction_spark.sources.catalog import FileCatalog
from iceberg_compaction_spark.sources.ingest import (
    delete_where,
    read_table_mor,
    upsert,
)
from iceberg_compaction_spark.sources.manifest import Manifest
from iceberg_compaction_spark.sources.puffin import is_puffin_file

CELL = 10  # truncate width of the partitioned table


def _write_files(root: str, n_files: int, rows: int) -> None:
    os.makedirs(root)
    for f in range(n_files):
        ids = list(range(f * rows, (f + 1) * rows))
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, type=pa.int64()),
                    "val": [f"v{i}" for i in ids],
                }
            ),
            os.path.join(root, f"part{f}.parquet"),
        )


def _rows(spark, m):
    return sorted(tuple(r) for r in read_table_mor(spark, m).collect())


def _policy(**auto):
    return MaintenancePolicy(
        auto=AutoCompactionConfig(**auto),
        keep_snapshots=100,
        clean_orphans=False,
    )


def test_maintain_v3_deletion_vectors(spark, tmp_path):
    """maintain on a v3 table reads deletion vectors reader-side (the
    group carries the format version) instead of opening the puffin
    files as parquet deletes."""
    root = str(tmp_path / "data")
    _write_files(root, 4, 20)
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("t", Manifest.from_parquet_dir(root, sequence_number=1))
    upgrade_format_version(cat, "t", 3)
    delete_where(spark, cat, "t", "id % 7 = 0")
    delete_where(spark, cat, "t", "id % 5 = 1")
    head = cat.load_table("t")
    deletes = [d for t in head.data_files for d in t.deletes]
    assert deletes and all(is_puffin_file(d.path) for d in deletes)
    want = _rows(spark, head)

    r = maintain(spark, cat, "t", _policy(min_delete_file_count_threshold=1))

    assert r.stats.input_files_count > 0
    live = cat.load_table("t")
    assert _rows(spark, live) == want
    assert not [
        d
        for t in live.data_files
        for d in t.deletes
        if d.content == POSITION_DELETE and not is_puffin_file(d.path)
    ]


def _partitioned_table(spark, tmp_path) -> FileCatalog:
    """Four files, one per ``truncate[10](id)`` cell, under spec id 1 with
    a declared sort order; one upsert puts equality deletes on the
    cells 0 and 10."""
    root = str(tmp_path / "data")
    _write_files(root, 4, CELL)
    m = Manifest.from_parquet_dir(root, sequence_number=1)
    m.partition_spec = [
        {"source": "id", "transform": f"truncate[{CELL}]", "name": "id_t"}
    ]
    m.default_spec_id = 1
    m.sort_order = [
        {"source": "id", "direction": "desc", "null-order": "nulls-last"}
    ]
    m.properties["schema.columns"] = ["id", "val"]
    for t in m.data_files:
        t.partition = (int(t.column_bounds["id"][0]) // CELL * CELL,)
        t.spec_id = 1
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("t", m)
    upsert(
        spark,
        cat,
        "t",
        spark.createDataFrame([(1, "one"), (11, "eleven")], ["id", "val"]),
        keys=["id"],
    )
    return cat


def _run_entry_point(spark, cat, entry: str) -> None:
    if entry == "maintain":
        maintain(spark, cat, "t", _policy(min_delete_file_count_threshold=1))
    elif entry == "auto":
        head = cat.load_table("t")
        new, _, _ = AutoCompaction(
            spark=spark,
            config=AutoCompactionConfig(min_delete_file_count_threshold=1),
        ).compact(head, out_root=os.path.join(head.table_root, "auto-out"))
        cat.commit_table("t", head.snapshot_id, new)
    else:
        Compaction(
            spark, CompactionConfig.files_with_deletes(min_delete_file_count=1)
        ).compact_catalog(cat, "t")


@pytest.mark.parametrize("entry", ["maintain", "auto", "compact_catalog"])
def test_entry_points_bind_table_context(spark, tmp_path, monkeypatch, entry):
    """All three entry points plan with the table's schema columns,
    current spec and declared order, so their outputs carry spec id 1
    and their partition cell — and a later upsert into another cell
    leaves them alone."""
    cat = _partitioned_table(spark, tmp_path)
    before = cat.load_table("t")
    want = _rows(spark, before)

    plans = []
    real_execute = Compaction.execute_plans

    def recording(self, manifest, ps, *a, **k):
        plans.extend(ps)
        return real_execute(self, manifest, ps, *a, **k)

    monkeypatch.setattr(Compaction, "execute_plans", recording)
    _run_entry_point(spark, cat, entry)

    assert plans
    for p in plans:
        assert p.schema_columns == ("id", "val")
        assert p.partition_spec == (("id", f"truncate[{CELL}]", "id_t"),)
        assert p.spec_id == 1
        assert p.sort_order == (("id", "desc", "nulls-last"),)
    after = cat.load_table("t")
    assert _rows(spark, after) == want
    old = set(before.paths())
    outs = [t for t in after.data_files if t.data_file_path not in old]
    assert outs
    for t in outs:
        assert t.spec_id == 1
        ids = pq.read_table(t.data_file_path, columns=["id"])["id"]
        cells = {i // CELL * CELL for i in ids.to_pylist()}
        assert cells == {int(t.partition[0])}

    upsert(
        spark,
        cat,
        "t",
        spark.createDataFrame([(35, "thirty-five")], ["id", "val"]),
        keys=["id"],
    )
    head = cat.load_table("t")
    by_path = head.by_path()
    for t in outs:
        assert by_path[t.data_file_path].deletes == []


def test_validated_rewrite_of_fully_deleted_partition(spark, tmp_path):
    """A group whose rows are all deleted writes no file under the
    partitioned writer; the validated rewrite still commits and drops
    the group's files."""
    cat = _partitioned_table(spark, tmp_path)
    delete_where(spark, cat, "t", "id >= 20 AND id < 30")
    before = cat.load_table("t")
    want = _rows(spark, before)
    cfg = replace(
        CompactionConfig.files_with_deletes(min_delete_file_count=1),
        enable_validate_compaction=True,
    )

    new, _ = Compaction(spark, cfg).compact_catalog(cat, "t")

    assert _rows(spark, new) == want
    assert all(t.deletes == [] for t in new.data_files)
    (emptied,) = [t for t in before.data_files if t.partition == (2 * CELL,)]
    assert emptied.data_file_path not in new.paths()
    assert len(new.data_files) == len(before.data_files) - 1


def test_maintain_retries_commit_conflict(spark, tmp_path, monkeypatch):
    """A CAS conflict on the first commit is retried from a fresh head:
    one compaction snapshot lands and the maintenance engine counts it."""
    root = str(tmp_path / "data")
    _write_files(root, 8, 16)
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("t", Manifest.from_parquet_dir(root, sequence_number=1))
    want = _rows(spark, cat.load_table("t"))

    calls = []
    real_commit = cat.commit_table

    def conflicting(name, expected, new, to_branch=None):
        calls.append(expected)
        if len(calls) == 1:
            raise CommitConflict("injected: ref moved")
        return real_commit(name, expected, new, to_branch=to_branch)

    monkeypatch.setattr(cat, "commit_table", conflicting)
    engines = []

    class RecordingCompaction(Compaction):
        def __post_init__(self):
            super().__post_init__()
            engines.append(self)

    monkeypatch.setattr(service, "Compaction", RecordingCompaction)
    policy = _policy(min_small_files_count=2)
    policy.engine = replace(
        policy.engine,
        retry=CommitRetryConfig(initial_backoff_s=0.01, max_backoff_s=0.01),
    )

    r = maintain(spark, cat, "t", policy)

    assert calls == [1, 1]
    assert cat.table_history("t") == [1, 2]
    assert r.snapshot_after == 2
    assert _rows(spark, cat.load_table("t")) == want
    (engine,) = engines
    assert engine.metrics.commit_counter.value == 1
    assert engine.metrics.commit_failed_counter.value == 0
    assert engine.metrics.commit_duration.n == 1
