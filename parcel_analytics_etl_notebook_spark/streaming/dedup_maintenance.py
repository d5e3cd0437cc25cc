"""Streaming near-dup maintenance: the incremental LSH delta loop
(``plans/queries_llm19.incremental_lsh_apply_delta``) as an actual
Structured Streaming pipeline.

State is two append-only parquet tables under one root:

- ``docs``: one row per document arrival, ``(doc_id, wb, minhash,
  sh_set, n)`` — the write batch, the MinHash signature and the
  distinct-shingle set with its size. A doc's LIVE row is the one with
  its max ``wb``.
- ``pairs``: ``(id_a, id_b, jaccard, batch_id)`` verified near-dup
  pairs, each written by the micro-batch that completed it.

Each document micro-batch bands its own rows plus the live standing
rows (:func:`lsh_banded`, uncapped), joins the batch's bucket keys
against them, verifies candidates with exact Jaccard over the shingle
sets those same rows carry, appends the verified pair DELTA to
``pairs``, then appends its own rows to ``docs`` — the
``pairs' = pairs ∪ delta`` semantics, executed per micro-batch via
``foreachBatch`` (the loop is stateful across batches through the
tables themselves, the standard pattern for state larger than the
keyed-state store should hold).

Convergence property (pinned in tests/test_streaming_dedup_maint.py):
with no hot-bucket cap, a pair's LSH bucket collision is detected
exactly once — when its LATER doc arrives (the earlier one is standing
by then; same-batch pairs dedup via least/greatest) — so after any
partition of the corpus into arrival batches the pair table equals the
batch self-join recompute, in any arrival order. That order-
independence is what makes the maintenance loop trustworthy: a
backfill + N daily deltas ends byte-identical to recompute-the-world.

RE-CRAWLS (same doc_id, new text) are first-class: the re-crawl's
``docs`` row supersedes the old one at read time (:func:`_live_rows`),
and :func:`live_pairs` drops every pair written before either of its
docs' latest arrival. The re-crawl batch probes with the NEW
fingerprint, so stale pairs die and still-valid ones are re-emitted in
the same batch. The periodic :func:`compact_state` physically drops the
dead rows — the log-structured upsert pattern for append-only parquet.

Scale shape per micro-batch: the ``pairs`` and ``docs`` appends are
O(batch). The probe is not: each batch scans the whole standing
``docs`` table, shuffles it by doc_id to keep each doc's live row,
bands it and joins it against the batch's bucket keys, because nothing
is bucket-pruned today. That is O(corpus) per batch, as it was with
the earlier four-table layout; pruning the standing read by the
batch's bucket keys (a bucketed band table) is the change that would
make the probe O(batch × bucket occupancy).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parcel_analytics_etl_notebook_spark.functions.textfns import tokens
from parcel_analytics_etl_notebook_spark.operators.dedup_fuzzy import (
    lsh_banded,
    poly_hash,
    shingle_hashes_from_tokens,
    with_minhash,
)

#: standing-state subdirectories under the maintenance root
DOCS_DIR, PAIRS_DIR = "docs", "pairs"
#: both tables are read with these schemas (no inference job per read);
#: the writers cast to them
SCHEMAS = {
    DOCS_DIR: "doc_id bigint, wb bigint, minhash array<bigint>, "
    "sh_set array<bigint>, n bigint",
    PAIRS_DIR: "id_a bigint, id_b bigint, jaccard double, batch_id bigint",
}


def _batch_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sh_set, n) distinct-shingle sets for exact-Jaccard
    verification. Uncapped: the set definition must be corpus-
    independent so a pair verifies identically whenever it is found.
    Docs with fewer than 3 tokens have no shingles and no row."""
    nparts = docs.sparkSession.sparkContext.defaultParallelism
    tok_hashes = F.transform(tokens("text"), lambda t: poly_hash(t))
    th = docs.select("doc_id", tok_hashes.alias("__th")).repartition(nparts)
    sh = th.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingle_hashes_from_tokens(F.col("__th"), 3))
        ).alias("shingle"),
    )
    return sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("sh_set"),
        F.count(F.lit(1)).alias("n"),
    )


def _batch_rows(docs: DataFrame, batch_id: int) -> DataFrame:
    """The batch's ``docs`` rows, cast to the ``docs`` schema. A LEFT
    join: a doc with fewer than 3 tokens still gets a row (empty set,
    ``n = 0``), so a re-crawl to short text supersedes the doc's old
    row and kills its old pairs."""
    sig = with_minhash(docs, num_hashes=16)
    return sig.join(_batch_sets(docs), "doc_id", "left").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.lit(batch_id).cast("bigint").alias("wb"),
        F.col("minhash").cast("array<bigint>").alias("minhash"),
        F.coalesce("sh_set", F.array().cast("array<bigint>")).alias("sh_set"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
    )


def _read(spark, state_root: str, sub: str) -> DataFrame:
    path = os.path.join(state_root, sub)
    return spark.read.schema(SCHEMAS[sub]).parquet(path)


def _live_rows(docs: DataFrame) -> DataFrame:
    """Read-time reconciliation: keep each doc's row from its LATEST
    arrival (max wb). Append-only parquet cannot delete superseded
    rows in place; this filter is the log-structured-store read path
    and :func:`compact_state` the physical cleanup."""
    latest = F.max("wb").over(Window.partitionBy("doc_id"))
    return (
        docs.withColumn("__latest", latest)
        .filter(F.col("wb") == F.col("__latest"))
        .drop("__latest")
    )


def _bands(rows: DataFrame) -> DataFrame:
    """LSH band rows ``(doc, band, sig_band)`` of the docs that have
    shingles. The doc's ``(doc_id, sh_set, n)`` rides along as the
    banding id, so every candidate pair carries what exact-Jaccard
    verification needs and no join back to the sets is required.

    No hot-bucket cap: capping is a per-PROBE cost decision, and the
    maintenance loop keeps recall exact so the convergence property
    holds. ``persist=False``: a continuously-running stream must not
    leak one cached banded frame per micro-batch (ADVICE r09 #3)."""
    docs = rows.filter(F.col("n") > 0).select(
        F.struct("doc_id", "sh_set", "n").alias("doc"), "minhash"
    )
    return lsh_banded(
        docs, id_col="doc", bands=4, sig_len=16, max_bucket=None,
        persist=False,
    )


def near_dup_maintenance_sink(state_root: str, threshold: float = 0.2):
    """foreachBatch sink maintaining ``state_root/{docs,pairs}``.

    Returns the (batch_df, batch_id) callable to pass to
    ``writeStream.foreachBatch``. Pair rows: (id_a, id_b, jaccard,
    batch_id) with id_a < id_b, unique across the stream's lifetime —
    every pair is emitted by exactly the micro-batch that completes it.
    """
    docs_path = os.path.join(state_root, DOCS_DIR)
    pairs_path = os.path.join(state_root, PAIRS_DIR)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        rows = _batch_rows(batch_df.select("doc_id", "text"), batch_id)
        rows = rows.persist()
        live = rows
        if os.path.isdir(docs_path):
            # a doc this batch re-crawls has its max wb in `rows`, so
            # its new row supersedes the standing one here
            live = _live_rows(
                _read(spark, state_root, DOCS_DIR).unionByName(rows)
            )
        a, b = _bands(rows).alias("a"), _bands(live).alias("b")
        shared = F.size(
            F.array_intersect("a.doc.sh_set", "b.doc.sh_set")
        ).cast("bigint")
        jac = shared / (F.col("a.doc.n") + F.col("b.doc.n") - shared)
        # a batch×standing pair is found only from the batch side, but a
        # batch×batch pair appears from both docs' probes, and any pair
        # from every band the two docs share — least/greatest +
        # dropDuplicates collapses them. Pairs whose BOTH docs are
        # standing cannot appear: neither side is in `a`.
        delta = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig_band") == F.col("b.sig_band"))
                & (F.col("a.doc.doc_id") != F.col("b.doc.doc_id")),
            )
            .filter(jac >= threshold)
            .select(
                F.least("a.doc.doc_id", "b.doc.doc_id").alias("id_a"),
                F.greatest("a.doc.doc_id", "b.doc.doc_id").alias("id_b"),
                F.round(jac, 4).alias("jaccard"),
                F.lit(batch_id).cast("bigint").alias("batch_id"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        # pairs FIRST, then docs — the docs append is the commit point.
        # If the job dies between them, replaying the batch re-emits
        # the same delta rows (live_pairs dedups on (id_a, id_b)) but
        # never loses pairs a future batch would no longer find (its
        # docs would already be standing, so the probe side would skip
        # them). A re-crawl supersedes its old row only once the new
        # row is durably written.
        delta.write.mode("append").parquet(pairs_path)
        rows.write.mode("append").parquet(docs_path)
        rows.unpersist()

    return apply_batch


def live_pairs(spark, state_root: str) -> DataFrame:
    """The CURRENT pair table: a pair row is live iff it was written at
    or after BOTH its docs' latest arrivals — a re-crawl (same doc_id,
    new text) kills every stale pair of that doc at read time, and the
    re-crawl batch re-emits whichever pairs still verify against the
    new text. Unique on (id_a, id_b) by construction plus dedup (a
    crash-replayed batch may append its delta twice). A missing
    ``docs`` table (crash after the first ``pairs`` append) means
    nothing has been superseded — every appended pair is live."""
    pairs = _read(spark, state_root, PAIRS_DIR)
    if os.path.isdir(os.path.join(state_root, DOCS_DIR)):
        latest = _read(spark, state_root, DOCS_DIR).groupBy("doc_id").agg(
            F.max("wb").alias("latest_wb")
        )
        va = latest.select(
            F.col("doc_id").alias("id_a"), F.col("latest_wb").alias("wa")
        )
        vb = latest.select(
            F.col("doc_id").alias("id_b"), F.col("latest_wb").alias("wb2")
        )
        pairs = (
            pairs.join(va, "id_a")
            .join(vb, "id_b")
            .filter(
                (F.col("batch_id") >= F.col("wa"))
                & (F.col("batch_id") >= F.col("wb2"))
            )
        )
    return pairs.select("id_a", "id_b", "jaccard", "batch_id").dropDuplicates(
        ["id_a", "id_b"]
    )


def _swap_in(path: str) -> None:
    """Atomically-enough replace ``path`` with ``path + '.compact'``
    (ADVICE r09 #2): the live directory is renamed ASIDE (``.old``)
    before the compacted one is renamed into place, so at no instant is
    the canonical path missing with the data only in ``.compact`` — a
    crash between the two renames leaves a recoverable ``.old`` that
    :func:`recover_state` restores or cleans up on startup. Each
    ``os.rename`` is atomic on POSIX; only the window BETWEEN them
    needs the recovery protocol."""
    old = path + ".old"
    shutil.rmtree(old, ignore_errors=True)  # stale leftover, data is live
    os.rename(path, old)
    os.rename(path + ".compact", path)
    shutil.rmtree(old)


def recover_state(state_root: str) -> None:
    """Repair a state root after a crash mid-:func:`compact_state`.

    Idempotent; call on startup (``run_maintenance_stream`` does, and
    ``compact_state`` re-runs it before writing). Cases per table:

    - ``path`` exists → live. Any ``.compact`` is an unswapped rewrite
      of the same live rows (drop it); any ``.old`` is a superseded
      pre-swap copy (drop it).
    - ``path`` missing, ``.old`` present → crashed between the two
      renames. If ``.compact`` survives, finish the swap (it holds the
      complete compacted table); else restore ``.old``.
    """
    for sub in (DOCS_DIR, PAIRS_DIR):
        path = os.path.join(state_root, sub)
        tmp, old = path + ".compact", path + ".old"
        if os.path.isdir(path):
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
        elif os.path.isdir(old):
            if os.path.isdir(tmp):
                os.rename(tmp, path)
                shutil.rmtree(old)
            else:
                os.rename(old, path)


def compact_state(spark, state_root: str) -> None:
    """Physically drop superseded rows: rewrite ``docs`` to each doc's
    live row and ``pairs`` to the live set. The periodic maintenance
    job that keeps read-time reconciliation cheap; safe to run between
    batches (never concurrently with one). Both tables are written to
    ``.compact`` siblings first, then swapped in via :func:`_swap_in`
    (rename-aside, never delete-then-rename), so a crash at ANY point
    leaves either the original or the compacted table recoverable by
    :func:`recover_state`. A crash between the two swaps is consistent
    too: compacted pairs are live under either ``docs``."""
    recover_state(state_root)
    pairs_path = os.path.join(state_root, PAIRS_DIR)
    docs_path = os.path.join(state_root, DOCS_DIR)
    live_pairs(spark, state_root).write.mode("overwrite").parquet(
        pairs_path + ".compact"
    )
    _live_rows(_read(spark, state_root, DOCS_DIR)).write.mode(
        "overwrite"
    ).parquet(docs_path + ".compact")
    for path in (pairs_path, docs_path):
        _swap_in(path)
        # Spark caches file listings per path; after the swap the old
        # part-files are gone, so invalidate the rewritten directory or
        # the next read fails with FILE_NOT_EXIST
        spark.catalog.refreshByPath(path)


def run_maintenance_stream(
    spark, docs_dir: str, state_root: str, checkpoint: str,
    threshold: float = 0.2, max_files_per_trigger: int = 1,
):
    """Drive the maintenance loop over a parquet directory of document
    files with Trigger.AvailableNow (tests) — in production the same
    sink hangs off a Kafka/file stream and runs continuously."""
    recover_state(state_root)
    schema = spark.read.parquet(docs_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            near_dup_maintenance_sink(state_root, threshold)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
