"""tools/measure.py: layer split, job accounting and the CLI's guard."""

from __future__ import annotations

from tools import measure as m


def test_eager_build_jobs_are_counted(spark):
    def build():
        return spark.range(100).localCheckpoint(eager=True).selectExpr("id * 2 AS x")

    rec = m.measure(spark, "test:eager", build)
    assert 1 <= rec["build_jobs"] <= rec["jobs"]
    # the plan step is timed apart and left out of the wall
    assert abs(rec["wall_s"] - rec["build_s"] - rec["exec_s"]) <= 0.002
    assert rec["tasks"] >= rec["stages"] >= 1
    assert rec["straggler_ratio"] >= 1.0


def test_jobs_match_the_status_tracker(spark, sf_dir):
    from etl_inreach_spark.queries import all_queries

    build = all_queries()["latest_per_key"]
    rec = m.measure(spark, "test:latest_per_key", lambda: build(spark, sf_dir))
    tracker = spark.sparkContext.statusTracker()
    assert rec["jobs"] == sum(len(tracker.getJobIdsForGroup(g)) for g in rec["groups"])
    assert rec["jobs"] >= 1
    assert 0.0 < rec["max_task_s"] <= rec["wall_s"] + rec["plan_s"]


def test_py4j_calls_repeat_across_builds(spark, sf_dir):
    from etl_inreach_spark.queries import all_queries

    build = all_queries()["latest_per_key"]
    first, second = (
        m.measure(spark, f"test:py4j:{i}", lambda: build(spark, sf_dir))["py4j_calls"]
        for i in range(2)
    )
    assert first == second > 0


def test_cli_rejects_unknown_query_before_starting_a_session(monkeypatch, capsys):
    def no_session(*a, **k):
        raise AssertionError("session started")

    monkeypatch.setattr(m, "get_spark", no_session)
    assert m.main(["/nonexistent", "1", "latest_per_key", "no_such_query"]) == 2
    assert "no_such_query" in capsys.readouterr().err
