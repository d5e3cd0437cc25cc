"""The job classifier on known job names."""

import pytest

from status import classify

PLANS = "/repo/parcel_analytics_etl_notebook_spark/plans/queries_relational4.py:432"
OPS = "/repo/parcel_analytics_etl_notebook_spark/operators/indexing.py:88"
JVM = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"


@pytest.mark.parametrize(
    "name, group, sql_site, layer",
    [
        # schema inference / listing: a reader job with no SQL execution
        ("parquet at <unknown>:0", "p0-q1:build", None, "sources.listing"),
        ("csv at NativeMethodAccessorImpl.java:0", "p0-q1:execute", None, "sources.listing"),
        # a writer job belongs to a SQL execution: not a listing
        ("parquet at NativeMethodAccessorImpl.java:0", "p2:compact", "parquet at x.py:1", "streaming.compact"),
        # eager actions while the plan is built, by module
        (f"collect at {PLANS}", "p0-q2:build", f"collect at {PLANS}", "plans.eager"),
        (f"count at {OPS}", "p0-q2:build", f"count at {OPS}", "operators.eager"),
        # a job Spark starts itself is attributed through its SQL execution
        (JVM, "p0-q4:build", f"collect at {OPS}", "operators.eager"),
        (JVM, "p0-q4:build", f"collect at {PLANS}", "plans.eager"),
        ("localCheckpoint at x.py:3", "p0-q3:build", None, "catalog.memo"),
        # a lazy memo's checkpoint plans its input while the query is built
        (JVM, "p0-q3:build", "localCheckpoint at NativeMethodAccessorImpl.java:0", "catalog.memo"),
        # the query's own action
        ("toPandas at /bench/workloads.py:114", "p0-q2:execute", "toPandas at w.py:1", "plans.execute"),
        ("collect at /bench/run.py:170", "setup-0:setup", "collect at run.py:170", "session"),
        ("toPandas at /bench/workloads.py:195", "p1:read", "toPandas at w.py:2", "streaming.read"),
        # nothing known about it
        ("count at /elsewhere/script.py:9", "p0-q2:build", "count at script.py:9", "unattributed"),
        ("count at /elsewhere/script.py:9", None, "count at script.py:9", "unattributed"),
    ],
)
def test_classify(name, group, sql_site, layer):
    assert classify(name, group, sql_site, set()) == layer


def test_stream_group_wins():
    run_id = "5a4c0f1e-0000-4000-8000-000000000000"
    assert classify("parquet at <unknown>:0", run_id, None, {run_id}) == "streaming.batch"
    assert classify(f"collect at {PLANS}", run_id, "x", {run_id}) == "streaming.batch"
