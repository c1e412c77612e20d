"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_churn --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}`` with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  The line before it carries every named metric of the
workload, and the full record -- every raw op sample, the host canary,
and with ``--trace 1`` every span and the per-op layer breakdown -- is
written to ``.perfbench/records/``.  All scratch state lives under
``.perfbench/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

import measure
import spans
from workloads import WORKLOADS, Context, Recorder

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")



def contract() -> tuple[dict[str, str], dict[str, str]]:
    """Metric name -> unit, end-to-end and per-layer, as BENCHMARK.json
    declares them: the result line prints exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in bench["end_to_end"]},
        {m["name"]: m["unit"] for m in bench["per_layer"]},
    )


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _preflight() -> str | None:
    """Why the engine cannot run here, or None."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import iceberg_compaction_spark.session  # noqa: F401
    except ImportError as e:
        return f"cannot import the engine from {ROOT}: {e}"
    if not os.path.isfile(os.path.join(ROOT, "tools", "oracle_check.py")):
        return "tools/oracle_check.py is missing"
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        return "BENCHMARK.json is missing"
    return None


def _session(work: str, trace: bool):
    from iceberg_compaction_spark.session import session_builder

    cpus = os.cpu_count() or 4
    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # a fixed young generation: peak RSS then follows retained
        # memory, not G1's adaptive eden sizing
        "spark.driver.extraJavaOptions": "-Xmn512m -Djava.io.tmpdir="
        + os.path.join(work, "tmp"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "true",
            }
        )
    return session_builder(
        master=f"local[{cpus}]",
        app_name="perfbench",
        shuffle_partitions=cpus,
        **conf,
    ).getOrCreate()


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # a later session in this process launches a fresh JVM
    SparkContext._gateway = SparkContext._jvm = None


def _python_warm(spark) -> None:
    spark.range(32).repartition(4).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()


def run(args) -> dict:
    workload = WORKLOADS[args.workload]()
    work = os.path.join(STATE, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # the environment variable overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        return _run(args, workload, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, workload, work: str) -> dict:
    trace = bool(args.trace)
    t_setup = time.perf_counter()
    spark = _session(work, trace)
    start_s = time.perf_counter() - t_setup
    try:
        tracer = spans.Tracer(spark.sparkContext, enabled=trace)
        installed = spans.install(tracer) if trace else None
        rec = Recorder(tracer)
        ctx = Context(spark, work, args.seed, rec, tracer)
        # the Python worker daemon starts while the inputs are built
        warm_py: dict = {}

        def python_warm():
            t0 = time.perf_counter()
            try:
                with tracer.span("setup.python_warm"):
                    _python_warm(spark)
            except Exception as e:  # re-raised by the main thread
                warm_py["error"] = e
            warm_py["s"] = time.perf_counter() - t0

        py = threading.Thread(target=python_warm)
        py.start()
        t0 = time.perf_counter()
        with tracer.span("setup.build"):
            workload.setup(ctx)
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        workload.warm_up(ctx)
        py.join()
        if "error" in warm_py:
            raise warm_py["error"]
        warm_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup
        python_warm_s = warm_py["s"]

        with tracer.span("canary"):
            canary_before = measure.canary(spark)
        rec.open_window()
        deadline = rec.t0 + args.seconds
        workload.run(ctx, deadline)
        window_s = time.perf_counter() - rec.t0

        with tracer.span("check"):
            problems = workload.check(ctx)
        with tracer.span("canary"):
            canary_after = measure.canary(spark)
        pids = measure.driver_pids(spark)
        rss = measure.peak_rss_mb(pids)
        rss_parts = {
            "python_mb": measure.peak_rss_mb(pids[:1]),
            "jvm_mb": measure.peak_rss_mb(pids[1:]),
        }
        if installed is not None:
            installed.remove()
    finally:
        _stop(spark)

    headline = workload.headline_walls(ctx)
    ops = rec.samples
    failed = sum(not s.ok for s in ops)
    failed_warm = [s.op for s in ctx.warmup if not s.ok]
    correct = not problems and not failed_warm and failed == 0
    named = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": rss, "unit": "MB", **rss_parts},
        "fail_ratio": {
            "value": failed / len(ops) if ops else 1.0,
            "unit": "ratio",
        },
        **workload.metrics(ctx),
    }
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "op_s": statistics.median(headline) if headline else None,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": os.cpu_count(),
        "problems": problems + [f"warm-up op failed: {o}" for o in failed_warm],
        "notes": ctx.notes,
        "setup": {
            "session.start_s": start_s,
            "session.python_warm_s": python_warm_s,
            "build_s": build_s,
            "warm_up_s": warm_s,
        },
        "window_s": window_s,
        "canary": {"before": canary_before, "after": canary_after},
        "named": named,
        "end_to_end": e2e,
        "headline": measure.summary(headline),
        "samples": [_sample_dict(s) for s in ops],
        "warmup": [_sample_dict(s) for s in ctx.warmup],
    }
    if hasattr(workload, "passes"):
        record["passes"] = [_sample_dict(p) for p in workload.passes]
    if trace:
        record.update(_traced(tracer, work, rec, start_s, python_warm_s))
    if not headline or any(v is None for v in e2e.values()):
        correct = False
        record["problems"].append("no headline op completed")
    end_to_end, per_layer = contract()
    if trace:
        layer = record["per_layer"]
        metrics = {
            k: {"value": layer.get(k, {}).get("value", 0.0), "unit": u}
            for k, u in per_layer.items()
        }
    else:
        metrics = {
            k: {"value": e2e[k], "unit": u}
            for k, u in end_to_end.items()
            if e2e.get(k) is not None
        }
    record["correct"] = correct
    return {
        "record": record,
        "result": {
            "correct": correct,
            "attempted": len(ops),
            "failed": failed,
            "metrics": metrics,
        },
    }


def _sample_dict(s) -> dict:
    return {
        "op": s.op,
        "client": s.client,
        "start_s": round(s.start, 6),
        "wall_s": round(s.wall, 6),
        "ok": s.ok,
        **({"error": s.error} if s.error else {}),
        **({"span": s.span} if s.span is not None else {}),
    }


def _traced(tracer, work, rec, start_s, python_warm_s) -> dict:
    per_span, jobs, unattributed = spans.attribute_event_log(
        spans.read_event_log(os.path.join(work, "eventlog"))
    )
    breakdowns = spans.breakdowns(
        tracer.spans, per_span, _measured_roots(tracer, rec)
    )
    per_layer = spans.layer_metrics(breakdowns)
    per_layer["session.start_s"] = {"value": start_s, "unit": "s"}
    per_layer["session.python_warm_s"] = {"value": python_warm_s, "unit": "s"}
    per_layer["spark.unattributed_jobs"] = {"value": unattributed, "unit": "count"}
    return {
        "per_layer": per_layer,
        "spark_jobs_total": jobs,
        "spark_jobs_unattributed": unattributed,
        "ops": breakdowns,
        "spans": [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "client": s.client,
                "start_s": round(s.start - rec.t0, 6),
                "end_s": round(s.end - rec.t0, 6),
                **({"counts": s.counts} if s.counts else {}),
                **({"spark": per_span[str(s.id)]} if str(s.id) in per_span else {}),
            }
            for s in tracer.spans
        ],
    }


def _measured_roots(tracer, rec) -> list[int]:
    """Root spans of the ops timed inside the measured window."""
    return [
        s.id
        for s in tracer.spans
        if s.parent is None
        and s.name.startswith("op.")
        and not s.name.startswith("op.warmup.")
        and s.start >= rec.t0
    ]


def main(argv=None) -> int:
    args = parse_args(argv)
    why = _preflight()
    if why is not None:
        print(f"perfbench: {why}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(
            f"perfbench: unknown workload {args.workload!r}; "
            f"known: {sorted(WORKLOADS)}",
            file=sys.stderr,
        )
        return 2
    out = run(args)
    rec = out["record"]
    os.makedirs(os.path.join(STATE, "records"), exist_ok=True)
    path = os.path.join(
        STATE,
        "records",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json",
    )
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(rec, fh, indent=1, default=str)
    print(
        json.dumps(
            {
                "workload": args.workload,
                "record": os.path.relpath(path, ROOT),
                "named": rec["named"],
                "canary": rec["canary"],
                "problems": rec["problems"],
            },
            default=str,
        )
    )
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
