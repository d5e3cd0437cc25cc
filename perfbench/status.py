"""Read Spark's own status stores and attribute every job to a layer.

Jobs, stages, SQL executions and executors come from the status store
behind the Spark driver's REST API (``<ui>/api/v1/applications/<app>/...``,
served on localhost). Attribution uses status-store fields only: the job
group the benchmark set for the step that ran the job, the job's name
(its call site), and whether the job belongs to a SQL execution.
"""

from __future__ import annotations

import json
import re
import urllib.request
from datetime import datetime, timezone

#: layer of a job by the step in its job group, "<where>:<step>"
STEP_LAYERS = {
    "setup": "session",
    "execute": "plans.execute",
    "release": "catalog.memo",
    "stream": "streaming.batch",
    "compact": "streaming.compact",
    "read": "streaming.read",
    "check": "bench.check",
}
#: DataFrameReader / DataFrameWriter verbs as they appear in job names
IO_VERBS = ("parquet", "csv", "json", "text", "orc", "load", "save")


def _is_io(name: str) -> bool:
    return name.split(" at ", 1)[0] in IO_VERBS


def classify(name: str, group: str | None, sql_site: str | None, stream_groups: set[str]) -> str:
    """Layer of one job.

    ``name`` is the job's call site (``"collect at /x/operators/y.py:12"``),
    ``group`` its job group, ``sql_site`` the description (the Python
    call site) of the SQL execution that owns the job, or ``None`` when
    no SQL execution does, and ``stream_groups`` the job groups of
    streaming queries (their run ids). A job Spark starts on its own
    threads (broadcasts, subqueries) names a JVM call site; its SQL
    execution still names the Python line that asked for it.
    """
    if group in stream_groups:
        return "streaming.batch"
    if _is_io(name) and sql_site is None:
        return "sources.listing"
    step = group.rsplit(":", 1)[-1] if group else None
    if step == "build":
        site = name if ".py:" in name else (sql_site or name)
        if "checkpoint" in site.lower():
            return "catalog.memo"
        if "/operators/" in site:
            return "operators.eager"
        if "/plans/" in site:
            return "plans.eager"
        return "unattributed"
    return STEP_LAYERS.get(step, "unattributed")


def _ts(value: str | None) -> float | None:
    if not value:
        return None
    return (
        datetime.strptime(value, "%Y-%m-%dT%H:%M:%S.%f%Z")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _base(ui_url: str, app_id: str) -> str:
    return f"{ui_url}/api/v1/applications/{app_id}"


def storage_mb(ui_url: str, app_id: str) -> float:
    """Memory the executors hold for cached and persisted blocks (MB)."""
    return sum(e.get("memoryUsed", 0) for e in _get(f"{_base(ui_url, app_id)}/executors")) / 2**20


class StatusStore:
    """Snapshot of one application's jobs, stages and SQL executions."""

    def __init__(self, ui_url: str, app_id: str):
        base = _base(ui_url, app_id)
        self.jobs = _get(f"{base}/jobs")
        self.stages = _get(f"{base}/stages")
        self.sql = _get(f"{base}/sql?details=true&planDescription=false&length=100000")
        self.sql_site = {s["id"]: s.get("description") for s in self.sql}
        self.sql_of_job = {
            j: s["id"]
            for s in self.sql
            for key in ("successJobIds", "failedJobIds", "runningJobIds")
            for j in s.get(key, [])
        }

    def job_rows(self, stream_groups: set[str]) -> list[dict]:
        """One row per job: id, name, group, layer, start, end, stage ids
        and the owning SQL execution with its call site."""
        rows = []
        for job in self.jobs:
            group = job.get("jobGroup")
            sql = self.sql_of_job.get(job["jobId"])
            site = None if sql is None else self.sql_site[sql]
            rows.append({
                "id": job["jobId"],
                "name": job["name"],
                "group": group,
                "layer": classify(job["name"], group, site, stream_groups),
                "start": _ts(job.get("submissionTime")),
                "end": _ts(job.get("completionTime")),
                "stages": job["stageIds"],
                "sql": sql,
                "sql_site": site,
            })
        return rows

    def files_written(self, execution_ids: set[int]) -> int:
        """Sum of the writers' ``number of written files`` SQL metric."""
        total = 0
        for s in self.sql:
            if s["id"] not in execution_ids:
                continue
            for node in s.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") == "number of written files":
                        total += int(re.sub(r"[^0-9]", "", m.get("value", "0")) or 0)
        return total



def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) of an executed DataFrame, read from
    its ``QueryExecution`` tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out
