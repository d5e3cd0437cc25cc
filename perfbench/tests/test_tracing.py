"""Span self times, alone and around a real two-job query."""

import time

import pytest

from status import StatusStore
from tracing import Span, Tracer


def test_self_time_subtracts_covered_children():
    t = Tracer("unit")
    t.spans = [
        Span(0, "pass", 0.0, 10.0, None, "unit"),
        Span(1, "plans.build", 1.0, 4.0, 0, "unit"),
        Span(2, "sources.table", 1.5, 2.0, 1, "unit"),
        Span(3, "sources.table", 2.0, 2.5, 1, "unit"),
        Span(4, "plans.execute", 4.0, 9.0, 0, "unit"),
    ]
    st = t.self_times(0)
    assert st["sources.table"] == pytest.approx(0.5 + 0.5)
    assert st["plans.build"] == pytest.approx(3.0 - 1.0)  # children cover [1.5, 2.5]
    assert st["plans.execute"] == pytest.approx(5.0)
    assert st["pass"] == pytest.approx(10.0 - 8.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_two_job_query_self_times_add_up_to_its_wall(spark):
    """A query that fires one eager job while its plan is built and one
    when it runs: the layer spans' self times account for the wall, and
    the status store attributes both jobs through their job groups."""
    sc = spark.sparkContext
    tracer = Tracer("two-job")
    t0 = time.perf_counter()
    with tracer.span("op"):
        sc.setLocalProperty("spark.jobGroup.id", "p0-q0:build")
        with tracer.span("plans.build"):
            n = spark.range(20_000).filter("id % 7 = 0").count()
            df = spark.range(n).selectExpr("sum(id) AS s")
        sc.setLocalProperty("spark.jobGroup.id", "p0-q0:execute")
        with tracer.span("plans.execute"):
            rows = df.collect()
    wall = time.perf_counter() - t0
    assert rows[0]["s"] == sum(range(n))

    layer_self = sum(v for k, v in tracer.self_times(0).items() if k != "op")
    assert abs(layer_self - wall) <= 0.1 * wall

    jobs = [
        j for j in StatusStore(sc.uiWebUrl, sc.applicationId).job_rows(set())
        if (j["group"] or "").startswith("p0-q0:")
    ]
    by_group = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j["layer"])
    # the eager count is called from this file, neither plans/ nor
    # operators/, so the classifier reports it as unattributed
    assert set(by_group["p0-q0:build"]) == {"unattributed"}
    assert set(by_group["p0-q0:execute"]) == {"plans.execute"}
    job_time = sum(j["end"] - j["start"] for j in jobs)
    assert 0 < job_time <= wall
