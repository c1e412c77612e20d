"""The benchmark workloads.

Each workload builds its inputs from the seed (``gen``), warms every op
it will time, runs closed-loop clients until the deadline, and checks
the engine's outputs against the generator's independent model.  An op
that raises or returns a wrong result counts as failed.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field, replace

import numpy as np
import pyarrow as pa

import gen
from measure import summary


@dataclass
class Sample:
    """One timed op: what ran, on which client, when (seconds after the
    measured window opened) and for how long."""

    op: str
    client: str
    start: float
    wall: float = 0.0
    ok: bool = True
    error: str | None = None
    span: int | None = None
    # an op's output, held until it is checked after the op
    result: object = None
    result_range: tuple = ()


class Recorder:
    """Times ops and keeps every raw sample; thread-safe."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.samples: list[Sample] = []
        self.t0 = time.perf_counter()
        self._lock = threading.Lock()

    def open_window(self) -> None:
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def op(self, name: str, client: str, keep: bool = True):
        """Time one op.  An exception ends the op as failed and is not
        re-raised: a closed-loop client keeps going after a failed op."""
        start = time.perf_counter()
        s = Sample(name, client, start - self.t0)
        with self.tracer.span("op." + name, client) as sp:
            s.span = sp.id if sp is not None else None
            try:
                yield s
            except Exception:
                s.ok = False
                s.error = traceback.format_exc(limit=4)
        s.wall = time.perf_counter() - start
        if keep:
            with self._lock:
                self.samples.append(s)

    def walls(self, name: str) -> list[float]:
        return [s.wall for s in self.samples if s.op == name]


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    recorder: Recorder
    tracer: object
    warmup: list[Sample] = field(default_factory=list)
    notes: list[str] = field(default_factory=list)

    @contextlib.contextmanager
    def warm(self, name: str, client: str):
        """Time an op outside the measured window; kept for the record."""
        with self.recorder.op("warmup." + name, client, keep=False) as s:
            yield s
        self.warmup.append(s)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# ingest_churn
# ---------------------------------------------------------------------------


class IngestChurn:
    """Two closed-loop clients on one many-file table.

    The ingest client upserts seeded batches of ``BATCH`` unique keys;
    every ``READ_EVERY``-th op is instead a predicate-scoped DataSource
    read of the last batch's updated key range.  The maintenance client
    runs ``service.maintain`` whenever ``K`` upserts have landed since
    its last pass (a count, not a timer), so its short, capped passes
    run back to back and upserts meet maintenance all through the
    window.  The table is partitioned by
    ``truncate[ROWS_PER_FILE](id)``, one file per partition, so an
    upsert's equality delete attaches only to the files it can touch and
    the head manifest keeps ``N_FILES``+ entries through maintenance:
    metadata IO scales with the table while Spark work per op stays
    small."""

    name = "ingest_churn"
    headline = "upsert"
    N_FILES = 1000
    ROWS_PER_FILE = 100
    BATCH = 200
    READ_EVERY = 5
    K = 1
    PLANS_PER_PASS = 2
    TABLE = "churn"

    def setup(self, ctx: Context) -> None:
        from iceberg_compaction_spark import service
        from iceberg_compaction_spark.plans.auto import AutoCompactionConfig
        from iceberg_compaction_spark.sources.catalog import FileCatalog
        from iceberg_compaction_spark.sources.datasource import register
        from iceberg_compaction_spark.sources.manifest import Manifest

        self.wh = os.path.join(ctx.work, "wh")
        root = os.path.join(self.wh, self.TABLE, "data")
        self.model = gen.write_churn_table(root, self.N_FILES, self.ROWS_PER_FILE)
        m = Manifest.from_parquet_dir(root, sequence_number=1)
        r = self.ROWS_PER_FILE
        m.partition_spec = [
            {"source": "id", "transform": f"truncate[{r}]", "name": "id_r"}
        ]
        m.default_spec_id = 1
        for t in m.data_files:
            t.partition = (int(t.column_bounds["id"][0]) // r * r,)
            t.spec_id = 1
        self.cat = FileCatalog(warehouse=self.wh)
        self.cat.create_table(self.TABLE, m)
        register(ctx.spark)
        self.rng = np.random.default_rng(ctx.seed)
        engine = service.MaintenancePolicy().engine
        # every file carrying a delete is a compaction candidate; a pass
        # rewrites at most PLANS_PER_PASS groups, one at a time, each
        # validated -- a background service sharing the session with
        # live ingest, whose passes stay short and alike
        self.policy = service.MaintenancePolicy(
            auto=AutoCompactionConfig(
                min_delete_file_count_threshold=1,
                max_auto_plans_per_run=self.PLANS_PER_PASS,
            ),
            engine=replace(
                engine,
                enable_validate_compaction=True,
                max_concurrent_compaction_plans=1,
            ),
        )
        self.seen: dict[str, int] = {}
        self.written = 0
        self._files_lock = threading.Lock()
        self._track_writes(initial=True)

    # -- ops ----------------------------------------------------------------

    def _upsert(self, ctx: Context) -> None:
        from iceberg_compaction_spark.sources import ingest

        batch = gen.next_batch(self.rng, self.model, self.BATCH)
        df = ctx.spark.createDataFrame(batch.table)
        new = ingest.upsert(ctx.spark, self.cat, self.TABLE, df, keys=["id"])
        self.model.apply(batch)
        self.last = batch
        if not new.snapshot_id:
            raise AssertionError("upsert returned no snapshot")

    def _scoped_read(self, ctx: Context, s: Sample, lo: int, hi: int):
        """Time the read inside the op; check it against the model after
        the op has ended, so the check is never timed."""
        with ctx.tracer.span("datasource.read"):
            s.result = (
                ctx.spark.read.format("iceberg-table")
                .option("warehouse", self.wh)
                .option("table", self.TABLE)
                .load()
                .where(f"id >= {lo} AND id < {hi}")
                .toArrow()
            )
        s.result_range = (lo, hi)

    def _check_read(self, s: Sample) -> None:
        if not s.ok:
            return
        lo, hi = s.result_range
        have = gen.fingerprint(s.result, gen.CHURN_SCHEMA)
        want = self.model.expected(lo, hi)
        s.result = None
        if have != want:
            s.ok = False
            s.error = f"scoped read [{lo},{hi}): {have} != model {want}"

    def _maintain(self, ctx: Context) -> None:
        from iceberg_compaction_spark import service

        service.maintain(ctx.spark, self.cat, self.TABLE, self.policy)

    def _track_writes(self, initial: bool = False) -> None:
        """Add every file under the warehouse that is new or changed
        since the last look to ``written`` (bytes).  Called between ops,
        so a file created and removed inside one op is not seen."""
        now = {}
        for d, _, files in os.walk(self.wh):
            for f in files:
                p = os.path.join(d, f)
                with contextlib.suppress(OSError):
                    now[p] = os.path.getsize(p)
        with self._files_lock:
            if not initial:
                self.written += sum(
                    size for p, size in now.items() if self.seen.get(p) != size
                )
            self.seen.update(now)

    # -- phases -------------------------------------------------------------

    def warm_up(self, ctx: Context) -> None:
        """One upsert and, in parallel, one scoped read of keys the upsert
        cannot touch; then one maintenance pass and one more read."""
        lo = 0

        def read_base():
            with ctx.warm("scoped_read", "ingest") as s:
                self._scoped_read(ctx, s, lo, lo + self.BATCH // 2)
            self._check_read(s)

        self.model.min_update_key = self.BATCH
        reader = threading.Thread(target=read_base)
        reader.start()
        with ctx.warm("upsert", "ingest"):
            self._upsert(ctx)
        reader.join()
        with ctx.warm("maintain", "maintenance"):
            self._maintain(ctx)
        with ctx.warm("scoped_read", "ingest") as s:
            self._scoped_read(ctx, s, self.last.lo, self.last.hi)
        self._check_read(s)

    def run(self, ctx: Context, deadline: float) -> None:
        rec = ctx.recorder
        cond = threading.Condition()
        state = {"pending": 0, "done": False}

        def ingest_client():
            i = 0
            try:
                while time.perf_counter() < deadline:
                    i += 1
                    if i % self.READ_EVERY == 0:
                        with rec.op("scoped_read", "ingest") as s:
                            self._scoped_read(
                                ctx, s, self.last.lo, self.last.hi
                            )
                        self._check_read(s)
                    else:
                        with rec.op("upsert", "ingest") as s:
                            self._upsert(ctx)
                        if s.ok:
                            with cond:
                                state["pending"] += 1
                                cond.notify()
                    self._track_writes()
            finally:
                with cond:
                    state["done"] = True
                    cond.notify()

        def maintenance_client():
            while True:
                with cond:
                    while state["pending"] < self.K and not state["done"]:
                        cond.wait(timeout=0.5)
                    if state["done"]:
                        return
                    state["pending"] = 0
                with rec.op("maintain", "maintenance"):
                    self._maintain(ctx)
                self._track_writes()

        threads = [
            threading.Thread(target=ingest_client, name="ingest"),
            threading.Thread(target=maintenance_client, name="maintenance"),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def check(self, ctx: Context) -> list[str]:
        """Final state: the head's live rows must equal the model.  A
        mismatch fails every upsert and maintenance op of the run, since
        any of them could have caused it."""
        problems = []
        head = self.cat.load_table(self.TABLE)
        have = gen.fingerprint(_live_rows(head), gen.CHURN_SCHEMA)
        want = self.model.expected()
        if have != want:
            problems.append(f"final table {have} != model {want}")
            for s in ctx.recorder.samples:
                if s.op in ("upsert", "maintain") and s.ok:
                    s.ok, s.error = False, "final state differs from the model"
        if len(head.data_files) < self.N_FILES:
            problems.append(f"head holds {len(head.data_files)} data files")
        live = _file_size(self.cat._version_path(self.TABLE, head.snapshot_id))
        dels = {d.path: d.file_size_in_bytes for t in head.data_files for d in t.deletes}
        live += sum(t.file_size_in_bytes for t in head.data_files) + sum(dels.values())
        self.live_bytes = live
        self.head_files = len(head.data_files)
        return problems

    def headline_walls(self, ctx: Context) -> list[float]:
        return ctx.recorder.walls("upsert")

    def metrics(self, ctx: Context) -> dict:
        rec = ctx.recorder
        up, rd, mt = rec.walls("upsert"), rec.walls("scoped_read"), rec.walls("maintain")
        return {
            "upsert_s": _named(up, "s"),
            "upsert_tail_s": _tail(up, "s"),
            "maintain_s": _named(mt, "s"),
            "scoped_read_s": _named(rd, "s"),
            "write_amp": {
                "value": self.written / self.live_bytes if self.live_bytes else 0.0,
                "unit": "ratio",
                "written_bytes": self.written,
                "live_bytes": self.live_bytes,
                "head_files": self.head_files,
            },
        }


def _live_rows(head) -> pa.Table:
    """A snapshot's live rows by Iceberg's rules, read with pyarrow alone:
    an equality delete removes matching keys from data files with a
    strictly lower sequence number.  The churn table never carries
    position deletes; meeting one is reported, not skipped."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    keys: dict[str, pa.Array] = {}
    parts = []
    for t in head.data_files:
        rows = pq.read_table(t.data_file_path, columns=gen.CHURN_SCHEMA.names)
        for d in t.deletes:
            if not d.equality_ids:
                raise AssertionError(f"unexpected position delete {d.path}")
            if d.sequence_number <= t.sequence_number:
                continue
            if d.path not in keys:
                keys[d.path] = pq.read_table(d.path, columns=["id"])["id"]
            rows = rows.filter(pc.invert(pc.is_in(rows["id"], keys[d.path])))
        parts.append(rows)
    return pa.concat_tables(parts)


def _file_size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def _named(values: list[float], unit: str) -> dict:
    """Median of ``values`` with its sample count."""
    if not values:
        return {"value": None, "unit": unit, "n": 0}
    return {"value": statistics.median(values), "unit": unit, "n": len(values)}


def _tail(values: list[float], unit: str) -> dict:
    if not values:
        return {"value": None, "unit": unit, "n": 0}
    t = summary(values)["tail"]
    return {"value": t["value"], "unit": unit, "percentile": t["level"],
            "beyond": t["beyond"], "n": t["n"]}


# ---------------------------------------------------------------------------
# curation_mix
# ---------------------------------------------------------------------------

CURATION_ENTRIES = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_semantic",
    "text_quality",
    "text_repetition",
    "pipeline_curation_full",
    "pipeline_dsir_weights",
    "ann_topk",
)


def _oracle_hash():
    """``tools/oracle_check.py``'s order-insensitive result hash."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_hash


class CurationMix:
    """One closed-loop client; one op is one pass over the registry's
    LLM-curation entries in a seeded order, each written to the noop
    sink.  Touches no table metadata, commit or planning code."""

    name = "curation_mix"
    headline = "pass"
    N_DOCS = 1000
    N_VECS = 400

    def setup(self, ctx: Context) -> None:
        self.data = os.path.join(ctx.work, "corpus")
        gen.write_corpus(self.data, ctx.seed, self.N_DOCS, self.N_VECS)
        self.rng = np.random.default_rng(ctx.seed)
        self.wrong: set[str] = set()

    def warm_up(self, ctx: Context) -> None:
        """Each entry once collected, compared with the registry's DuckDB
        oracle, and once into the noop sink.  Entries run four at a time
        so their cold starts overlap."""
        from concurrent.futures import ThreadPoolExecutor

        import duckdb

        from iceberg_compaction_spark import registry

        table_hash = _oracle_hash()
        results = {}

        def spark_rows(entry):
            with ctx.warm(entry, "curation"):
                df = registry.QUERIES[entry](ctx.spark, self.data)
                results[entry] = (
                    [c.lower() for c in df.columns],
                    [tuple(r) for r in df.collect()],
                )

        def noop(entry):
            with ctx.warm(entry, "curation"):
                _noop(registry.QUERIES[entry](ctx.spark, self.data))

        with ThreadPoolExecutor(4) as pool:
            futures = [pool.submit(spark_rows, e) for e in CURATION_ENTRIES]
            futures += [pool.submit(noop, e) for e in CURATION_ENTRIES]
            for f in futures:
                f.result()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data}/{t}.parquet')"
                )
            for e in CURATION_ENTRIES:
                if e not in results:
                    self.wrong.add(e)
                    continue
                at = con.sql(registry.ORACLES[e]).arrow()
                ocols = [c.lower() for c in at.column_names]
                orows = [tuple(d.values()) for d in at.to_pylist()]
                scols, srows = results[e]
                if sorted(scols) != sorted(ocols) or table_hash(
                    scols, srows
                ) != table_hash(ocols, orows):
                    self.wrong.add(e)
                    ctx.notes.append(
                        f"{e}: {len(srows)} rows vs oracle {len(orows)}"
                    )
        finally:
            con.close()

    def run(self, ctx: Context, deadline: float) -> None:
        from iceberg_compaction_spark import registry

        rec = ctx.recorder
        self.passes: list[Sample] = []
        while time.perf_counter() < deadline:
            order = list(self.rng.permutation(len(CURATION_ENTRIES)))
            start = time.perf_counter()
            p = Sample("pass", "curation", start - rec.t0)
            with ctx.tracer.span("op.pass", "curation") as sp:
                for i in order:
                    e = CURATION_ENTRIES[i]
                    with rec.op(e, "curation") as s:
                        with ctx.tracer.span("operators." + e):
                            _noop(registry.QUERIES[e](ctx.spark, self.data))
                    p.ok = p.ok and s.ok
            p.wall = time.perf_counter() - start
            p.span = sp.id if sp is not None else None
            self.passes.append(p)

    def check(self, ctx: Context) -> list[str]:
        for s in ctx.recorder.samples:
            if s.op in self.wrong and s.ok:
                s.ok, s.error = False, "result differs from the DuckDB oracle"
        for p in self.passes:
            p.ok = p.ok and not self.wrong
        return [f"{e} differs from its oracle" for e in sorted(self.wrong)]

    def metrics(self, ctx: Context) -> dict:
        walls = [p.wall for p in self.passes]
        out = {
            "curation_pass_s": _named(walls, "s"),
            "curation_pass_tail_s": _tail(walls, "s"),
        }
        for e in CURATION_ENTRIES:
            out[e + "_s"] = _named(ctx.recorder.walls(e), "s")
        return out

    def headline_walls(self, ctx: Context) -> list[float]:
        return [p.wall for p in self.passes]


# ---------------------------------------------------------------------------
# compact_mor
# ---------------------------------------------------------------------------


class CompactMor:
    """Spark-stage stress on a merge-on-read table: per iteration a full
    MOR read through Spark, the same read through the Python DataSource
    (both into the noop sink), and a validated ``compact_catalog`` whose
    writer target splits the output into several files.  Planning,
    metadata and commit do almost nothing here.  The pre-compaction
    metadata is restored between iterations, untimed."""

    name = "compact_mor"
    headline = "compact"
    N_ROWS = 600_000
    N_FILES = 16
    TARGET_FILE_BYTES = 4 << 20
    TABLE = "lineitem"

    def setup(self, ctx: Context) -> None:
        from iceberg_compaction_spark.config import CompactionConfig
        from iceberg_compaction_spark.plans.datamodel import (
            EQUALITY_DELETE,
            POSITION_DELETE,
            DeleteFile,
        )
        from iceberg_compaction_spark.sources.catalog import FileCatalog
        from iceberg_compaction_spark.sources.datasource import register
        from iceberg_compaction_spark.sources.manifest import Manifest

        self.wh = os.path.join(ctx.work, "wh")
        self.root = os.path.join(self.wh, self.TABLE, "data")
        self.mt = gen.write_mor_table(
            self.root, ctx.seed, self.N_ROWS, self.N_FILES
        )
        m = Manifest.from_parquet_dir(self.root, sequence_number=gen.POS_SEQ)
        by_path = {f.data_path: f for f in self.mt.files}
        for t in m.data_files:
            f = by_path[t.data_file_path]
            t.sequence_number = f.sequence_number
            t.deletes = [
                DeleteFile(
                    path=f.pos_path,
                    content=POSITION_DELETE,
                    file_size_in_bytes=os.path.getsize(f.pos_path),
                    record_count=f.pos_count,
                    sequence_number=gen.POS_SEQ,
                ),
                DeleteFile(
                    path=f.eq_path,
                    content=EQUALITY_DELETE,
                    file_size_in_bytes=os.path.getsize(f.eq_path),
                    record_count=f.eq_count,
                    sequence_number=gen.EQ_SEQ,
                    equality_ids=gen.LINEITEM_KEYS,
                ),
            ]
        self.cat = FileCatalog(warehouse=self.wh)
        self.cat.create_table(self.TABLE, m)
        self.meta_dir = self.cat._metadata_dir(self.TABLE)
        self.meta_keep = set(os.listdir(self.meta_dir))
        register(ctx.spark)
        cfg = CompactionConfig.full()
        self.config = replace(
            cfg,
            enable_validate_compaction=True,
            writer=replace(cfg.writer, target_file_size_bytes=self.TARGET_FILE_BYTES),
        )

    # -- ops ----------------------------------------------------------------

    def _mor(self, ctx: Context):
        from iceberg_compaction_spark.sources import ingest

        return ingest.read_table_mor(ctx.spark, self.cat.load_table(self.TABLE))

    def _ds(self, ctx: Context):
        with ctx.tracer.span("datasource.read"):
            return (
                ctx.spark.read.format("iceberg-table")
                .option("warehouse", self.wh)
                .option("table", self.TABLE)
                .load()
            )

    def _compact(self, ctx: Context, s: Sample) -> None:
        from iceberg_compaction_spark.compaction import Compaction

        s.result, _ = Compaction(
            spark=ctx.spark, config=self.config
        ).compact_catalog(self.cat, self.TABLE)

    def _check_compact(self, s: Sample) -> None:
        """The committed files must hold exactly the model's live rows,
        spread over several files; then the pre-compaction metadata is
        restored."""
        import pyarrow.parquet as pq

        new, s.result = s.result, None
        if s.ok:
            files = [t.data_file_path for t in new.data_files]
            got = pa.concat_tables([pq.read_table(p) for p in files])
            have = gen.fingerprint(got, gen.LINEITEM_SCHEMA)
            if have != self.mt.expected or len(files) < 2 or any(
                t.deletes for t in new.data_files
            ):
                s.ok = False
                s.error = (
                    f"compaction output {have} in {len(files)} files != "
                    f"model {self.mt.expected}"
                )
        self._restore()

    def _restore(self) -> None:
        import shutil

        for n in os.listdir(self.meta_dir):
            if n not in self.meta_keep:
                os.remove(os.path.join(self.meta_dir, n))
        for n in os.listdir(self.root):
            if n.startswith("compacted"):
                shutil.rmtree(os.path.join(self.root, n))

    def _check_read(self, s: Sample, table) -> None:
        have = gen.fingerprint(table, gen.LINEITEM_SCHEMA)
        if have != self.mt.expected:
            s.ok = False
            s.error = f"read {have} != model {self.mt.expected}"

    # -- phases -------------------------------------------------------------

    def warm_up(self, ctx: Context) -> None:
        """One iteration whose reads are collected and compared with the
        model (once per run, untimed as measurement)."""
        with ctx.warm("mor_read", "compact") as s:
            got = self._mor(ctx).toArrow()
        self._check_read(s, got)
        with ctx.warm("ds_read", "compact") as s:
            got = self._ds(ctx).toArrow()
        self._check_read(s, got)
        with ctx.warm("compact", "compact") as s:
            self._compact(ctx, s)
        self._check_compact(s)

    def run(self, ctx: Context, deadline: float) -> None:
        rec = ctx.recorder
        while time.perf_counter() < deadline:
            with rec.op("mor_read", "compact"):
                _noop(self._mor(ctx))
            with rec.op("ds_read", "compact"):
                _noop(self._ds(ctx))
            with rec.op("compact", "compact") as s:
                self._compact(ctx, s)
            self._check_compact(s)

    def check(self, ctx: Context) -> list[str]:
        return []

    def headline_walls(self, ctx: Context) -> list[float]:
        return ctx.recorder.walls("compact")

    def metrics(self, ctx: Context) -> dict:
        rec = ctx.recorder
        cp = rec.walls("compact")
        return {
            "mor_read_s": _named(rec.walls("mor_read"), "s"),
            "ds_read_s": _named(rec.walls("ds_read"), "s"),
            "compact_s": _named(cp, "s"),
            "compact_tail_s": _tail(cp, "s"),
        }


WORKLOADS = {w.name: w for w in (IngestChurn, CurationMix, CompactMor)}
