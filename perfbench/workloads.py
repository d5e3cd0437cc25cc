"""The benchmark's workloads.

Each workload makes its inputs from the seed (untimed), then runs
passes over them as a closed loop with one client: an operation starts
when the previous one returns. ``run_pass`` returns the pass's timed
operations; ``check`` marks each operation right or wrong, outside the
timed region.
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from dataclasses import dataclass

import duckdb
import pandas as pd
import pyarrow.parquet as pq

import datagen
import status

@dataclass
class Op:
    """One timed operation."""
    pass_no: int
    name: str
    seconds: float
    digest: str | None = None
    error: str | None = None
    ok: bool | None = None


def _canon(v):
    """One cell as an engine-neutral value: floats to 9 significant
    digits (summation order differs between engines), integral floats
    as ints, timestamps as ISO strings, arrays as tuples."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() else float(f"{v:.9g}")
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon(x) for x in v)
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if type(v).__name__.startswith(("int", "uint")):
        return int(v)
    if type(v).__name__.startswith("float"):
        return _canon(float(v))
    return v


def frame_digest(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: sorted column names, then
    the sorted canonical rows."""
    cols = sorted(df.columns)
    rows = sorted(repr(tuple(_canon(v) for v in r)) for r in df[cols].itertuples(index=False, name=None))
    return hashlib.sha256("\n".join([repr(cols), *rows]).encode()).hexdigest()


class RelationalMix:
    """Catalog queries over seeded TPC-H-shaped tables, in a seeded
    order. One operation is one query: build the plan (which may fire
    eager jobs), then collect the result. ``local_clustering_coefficient``
    reads a session memo (``catalog.memo_frame``); memos are released
    after every pass, so every pass builds it once."""

    name = "relational_mix"
    #: every query runs three times, so its latency is the best of
    #: three; the second timed pass was still faster than the first
    min_passes = 3
    QUERIES = [
        "lifecycle_kpis", "pricing_summary", "star_fact_orders",
        "enriched_orders", "market_segment_stats", "top_orders_per_customer",
        "running_revenue", "purchase_asof_view", "user_sessions_30min",
        "orders_global_index", "local_clustering_coefficient",
    ]

    def __init__(self, work: str, seed: int):
        self.data = os.path.join(work, "data")
        datagen.write_tables(self.data, seed)
        self.order = datagen.shuffled(self.QUERIES, seed)

    def warm(self, bench) -> None:
        self.run_pass(bench, -1)

    def run_pass(self, bench, pass_no: int) -> tuple[list[Op], float]:
        """Run every query once; the pass time is the sum of the
        operations (hashing results between them is not timed)."""
        from parcel_analytics_etl_notebook_spark.plans import catalog

        queries = catalog.queries()
        ops = []
        for i, name in enumerate(self.order):
            step = f"p{pass_no}-q{i}"
            op = Op(pass_no, name, 0.0)
            t0 = time.perf_counter()
            try:
                bench.group(f"{step}:build")
                with bench.tracer.span("plans.build"):
                    df = queries[name](bench.spark, self.data)
                bench.group(f"{step}:execute")
                with bench.tracer.span("plans.execute"):
                    pdf = df.toPandas()
            except Exception as exc:  # a failed operation is counted, not fatal
                op.seconds = time.perf_counter() - t0
                op.error = f"{type(exc).__name__}: {exc}"[:300]
            else:
                op.seconds = time.perf_counter() - t0
                if bench.tracer.enabled:
                    bench.add_catalyst(status.catalyst_phases(df))
                op.digest = frame_digest(pdf)
            bench.sample_storage()
            ops.append(op)
        bench.group(f"p{pass_no}:release")
        catalog.release_caches(bench.spark)
        return ops, sum(op.seconds for op in ops)

    def check(self, bench, ops: list[Op]) -> None:
        """Compare each result with its DuckDB oracle twin."""
        from parcel_analytics_etl_notebook_spark.plans import catalog

        oracle = catalog.oracle_sql()
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        want = {name: frame_digest(con.execute(oracle[name]).df()) for name in {o.name for o in ops}}
        con.close()
        for op in ops:
            op.ok = op.error is None and op.digest == want[op.name]


class DedupMaintenance:
    """The streaming near-duplicate maintenance loop. Seeded documents
    are dealt into arrival files; one pass streams them into fresh
    standing state one file per micro-batch, then compacts the state
    and reads the live pairs back. One operation is one micro-batch,
    timed by the streaming query's own progress report.

    A run makes three short passes rather than one long one: the first
    carries the stream's cold start (its first micro-batches took up to
    twice as long as the later ones), and a burst of load from the
    host's other tenants lands in one pass. ``pass_s`` is the fastest
    pass, and the median micro-batch of twelve is a warm one."""

    name = "dedup_maintenance"
    #: three passes of four micro-batches give ``op_tail_s`` its ten
    #: samples beyond
    min_passes = 3
    ARRIVAL_FILES = 4

    def __init__(self, work: str, seed: int):
        self.work = work
        data = os.path.join(work, "data")
        datagen.write_tables(data, seed)
        docs = pq.read_table(os.path.join(data, "documents.parquet")).select(["doc_id", "text"])
        self.docs_path = os.path.join(data, "documents.parquet")
        self.arrivals = []
        for i, ids in enumerate(datagen.split_arrivals(docs["doc_id"].to_pylist(), self.ARRIVAL_FILES, seed)):
            path = os.path.join(work, "arrivals", f"part-{i:03d}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(docs.take(ids), path)
            self.arrivals.append(path)
        self.live: dict[int, set] = {}

    def warm(self, bench) -> None:
        """No warm-up pass: the fastest of three passes is a warm one."""

    def run_pass(self, bench, pass_no: int) -> tuple[list[Op], float]:
        """Stream, compact and read back; the pass time is their wall."""
        from parcel_analytics_etl_notebook_spark.streaming import dedup_maintenance as dm

        root = os.path.join(self.work, f"pass{pass_no}")
        inbox = os.path.join(root, "in")
        os.makedirs(inbox)
        for f in self.arrivals:
            os.link(f, os.path.join(inbox, os.path.basename(f)))
        state = os.path.join(root, "state")
        bench.group(f"p{pass_no}:stream")
        t0 = time.perf_counter()
        with bench.tracer.span("streaming.run"):
            q = dm.run_maintenance_stream(bench.spark, inbox, state, os.path.join(root, "ckpt"))
        bench.group(f"p{pass_no}:compact")
        with bench.tracer.span("streaming.compact"):
            dm.compact_state(bench.spark, state)
        bench.group(f"p{pass_no}:read")
        with bench.tracer.span("streaming.live_pairs"):
            pdf = dm.live_pairs(bench.spark, state).select("id_a", "id_b").toPandas()
        seconds = time.perf_counter() - t0
        bench.sample_storage()
        self.live[pass_no] = set(zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()))
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        bench.add_stream(pass_no, str(q.runId), progress, state)
        # named per pass: each micro-batch is a sample of its own, not a
        # repetition of the same-numbered batch of another pass
        ops = [
            Op(pass_no, f"p{pass_no}-batch{p['batchId']}", p["durationMs"]["triggerExecution"] / 1000.0)
            for p in progress
        ]
        if len(ops) != len(self.arrivals):
            # one failed operation per file, so the run still ends
            error = f"{len(ops)} micro-batches for {len(self.arrivals)} files"
            ops = [Op(pass_no, f"p{pass_no}-file{i}", seconds / len(self.arrivals), error=error)
                   for i in range(len(self.arrivals))]
        return ops, seconds

    def check(self, bench, ops: list[Op]) -> None:
        """Each pass's live pairs must equal the batch recompute over
        the whole corpus: a full LSH self-join verified by exact
        Jaccard, as the library's own streaming tests define it."""
        want = self._recompute(bench)
        for op in ops:
            op.ok = op.error is None and self.live.get(op.pass_no) == want

    def _recompute(self, bench) -> set:
        from pyspark.sql import functions as F

        from parcel_analytics_etl_notebook_spark.operators.dedup_fuzzy import (
            lsh_candidate_pairs,
            with_minhash,
        )
        from parcel_analytics_etl_notebook_spark.streaming.dedup_maintenance import _batch_sets

        bench.group("recompute:check")
        docs = bench.spark.read.parquet(self.docs_path).select("doc_id", "text")
        cand = lsh_candidate_pairs(with_minhash(docs, num_hashes=16), bands=4, sig_len=16, max_bucket=None)
        sets = _batch_sets(docs)
        sa = sets.select(F.col("doc_id").alias("id_a"), F.col("sh_set").alias("set_a"), F.col("n").alias("na"))
        sb = sets.select(F.col("doc_id").alias("id_b"), F.col("sh_set").alias("set_b"), F.col("n").alias("nb"))
        shared = F.size(F.array_intersect("set_a", "set_b")).cast("bigint")
        jac = shared / (F.col("na") + F.col("nb") - shared)
        rows = cand.join(sa, "id_a").join(sb, "id_b").filter(jac >= 0.2).select("id_a", "id_b").collect()
        return {(r.id_a, r.id_b) for r in rows}


WORKLOADS = {w.name: w for w in (RelationalMix, DedupMaintenance)}
