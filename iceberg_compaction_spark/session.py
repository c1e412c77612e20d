"""Shared SparkSession construction for the engine's entry points.

One place wires the engine's session-level performance defaults so the
bench harness, the correctness runner, pytest, and the CLI tools all run
the configuration the engine is actually shipped with — most importantly
the preloading Python-worker daemon (:mod:`iceberg_compaction_spark.pydaemon`,
optimization r15, guide §4.5).  Round 15 wired the daemon only into
``bench.py``'s session, so every other session still paid the
import-storm the daemon exists to remove (measured 17 s wall for the
first Arrow-batched query after a worker-pool flush on a 32-core box vs
~1 s preloaded), and the driver's correctness run could not benefit.

The daemon process is forked by the JVM and inherits the JVM's
environment, not the driver's ``sys.path`` — ``_export_daemon_path``
makes the package importable there before the JVM starts.
"""

from __future__ import annotations

import os

_DAEMON_MODULE = "iceberg_compaction_spark.pydaemon"


def _export_daemon_path() -> None:
    """Put the package's parent directory on ``PYTHONPATH`` so the
    Python daemon process (forked with the JVM's env) can import
    :mod:`iceberg_compaction_spark.pydaemon`.  Idempotent; must run
    before the JVM is launched (i.e. before ``getOrCreate``)."""
    pkg_parent = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )


def session_builder(
    master: str,
    app_name: str,
    shuffle_partitions: int,
    **extra_conf: str,
):
    """A ``SparkSession.Builder`` with the engine's defaults applied.

    Defaults every entry point shares: AQE with partition coalescing
    (scale-adaptive partitioning, guide §2.2), UTC session timezone
    (oracle comparability), UI off (local harnesses), the preloading
    Python-worker daemon, and broadcast blocks small enough to stay out
    of G1's humongous regions.  ``extra_conf`` wins on key collisions so a
    caller can override any default.
    """
    from pyspark.sql import SparkSession

    _export_daemon_path()
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.python.daemon.module": _DAEMON_MODULE,
        # The post-accept auth handshake of every Python worker/daemon
        # socket is bounded by this (default 15 s) — on a saturated host
        # a freshly forked worker importing under load can miss it and
        # kill the whole query (the round-15 stream_update_images
        # failure class).  60 s only delays FAILURE detection; it never
        # slows a healthy connect.  The other half of that failure class
        # (the hardcoded 10 s connect-back accept in PythonWorkerFactory)
        # is not reachable by conf — streaming/pipeline.py retries it.
        "spark.python.authenticate.socketTimeout": "60s",
        # Every broadcast (each stage's task binary, each file scan's
        # Hadoop conf) first serializes into a buffer of this size,
        # however small the payload.  At Spark's 4 MB default each one
        # is a G1 humongous object, and on a small committed heap a
        # burst of them forces back-to-back young collections whose
        # pause ratio makes G1 grow the heap by hundreds of MB at once,
        # so peak RSS jumps from one run to the next.  Below half of
        # G1's smallest (1 MB) region the buffers are plain eden garbage.
        "spark.broadcast.blockSize": "256k",
    }
    conf.update(extra_conf)
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder
