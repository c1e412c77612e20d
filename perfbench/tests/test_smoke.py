"""Smoke run of the smallest configuration, traced: every op checked,
every Spark job attributed, every op's layers summing to its wall."""

import argparse

import pytest

import run
import workloads


@pytest.fixture()
def tiny(monkeypatch):
    monkeypatch.setattr(workloads.IngestChurn, "N_FILES", 30)
    monkeypatch.setattr(workloads.IngestChurn, "ROWS_PER_FILE", 20)
    monkeypatch.setattr(workloads.IngestChurn, "BATCH", 20)


def test_ingest_churn_traced_smoke(tiny):
    args = argparse.Namespace(
        workload="ingest_churn", seed=3, seconds=1.0, trace=1
    )
    out = run.run(args)
    res, rec = out["result"], out["record"]
    assert res["correct"], rec["problems"]
    assert res["attempted"] >= 1 and res["failed"] == 0
    _, per_layer = run.contract()
    assert set(res["metrics"]) == set(per_layer)
    assert rec["spark_jobs_total"] > 0
    assert rec["spark_jobs_unattributed"] == 0
    for op in rec["ops"]:
        total = sum(op["layers"].values()) + op["unattributed_s"]
        assert total == pytest.approx(op["wall_s"], rel=1e-9, abs=1e-9)
    assert {s["op"] for s in rec["samples"]} >= {"upsert"}
    assert all(
        {"op", "client", "start_s", "wall_s"} <= set(s) for s in rec["samples"]
    )
    # the layer metrics' units are the ones BENCHMARK.json declares
    for name, m in rec["per_layer"].items():
        assert per_layer[name] == m["unit"], name
