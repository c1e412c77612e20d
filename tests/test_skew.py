"""Skew-safe sessionization: the time-bucketed hot path must be
result-identical to the plain sessionizer."""


def _mk_events(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts long, value double")


def test_sessionize_skew_matches_plain_with_boundary_chains(spark):
    """sessionize_skew == sessionize on a mix of: a dense hot user whose
    single session spans MANY time buckets (chain stitching), a sparse
    hot user with sessions straddling bucket edges, and a cold user.
    Tiny bucket (3 x gap) forces every stitch case."""
    from iceberg_compaction_spark.streaming import events as ev

    gap = 100
    rows = []
    # hot user 1: events every 10 units for 3000 units -> ONE session
    # spanning 10 buckets of size 300
    rows += [(1, t, 0.5) for t in range(0, 3000, 10)]
    # hot user 2: bursts separated by > gap, some bursts crossing a
    # bucket edge (burst at 280..320 straddles the 300 boundary)
    for burst_start in (0, 280, 650, 1200):
        rows += [(2, burst_start + d, 1.25) for d in range(0, 50, 10)]
    # cold user: two events, one session
    rows += [(3, 100, 2.0), (3, 150, 2.0)]

    df = _mk_events(spark, rows)
    plain = ev.sessionize(df, gap=gap, ts_unit_per_sec=1)
    skewed = ev.sessionize_skew(
        df, gap=gap, ts_unit_per_sec=1, hot_min_events=10, bucket_units=300
    )
    key = lambda r: (r["user_id"], r["session_idx"])
    a = sorted((tuple(r) for r in plain.collect()), key=lambda t: (t[0], t[1]))
    b = sorted((tuple(r) for r in skewed.collect()), key=lambda t: (t[0], t[1]))
    assert a == b
    # sanity: user 1 really is one stitched session across 10 buckets
    u1 = [r for r in plain.collect() if r["user_id"] == 1]
    assert len(u1) == 1 and u1[0]["n_events"] == 300


def test_sessionize_skew_plan_partitions_by_bucket(spark):
    """Plan gate: the event-scale window of the hot path partitions by
    (user_id, time bucket) — never by raw user_id alone — and the
    session-summary stitch is the only per-user window."""
    from iceberg_compaction_spark.streaming import events as ev

    rows = [(1, t, 0.5) for t in range(0, 3000, 10)]
    df = _mk_events(spark, rows)
    out = ev.sessionize_skew(
        df, gap=100, ts_unit_per_sec=1, hot_min_events=10, bucket_units=300
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__sbucket" in plan, plan
    # the bucketed window's partitioning carries the bucket column
    import re

    win_parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("__sbucket" in p for p in win_parts), win_parts
