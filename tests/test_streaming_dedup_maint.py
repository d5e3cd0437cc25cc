"""Streaming near-dup maintenance: the incremental LSH loop as a
foreachBatch pipeline converges to the batch recompute in ANY arrival
order — the property that makes backfill + daily deltas trustworthy."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from parcel_analytics_etl_notebook_spark.operators.dedup_fuzzy import (
    lsh_candidate_pairs,
    with_minhash,
)
from parcel_analytics_etl_notebook_spark.streaming.dedup_maintenance import (
    _batch_sets,
    run_maintenance_stream,
)

SF = "/root/testdata/sf0.001"


def _batch_recompute(spark, docs):
    """The recompute-the-world answer: full LSH self-join (uncapped)
    verified with exact Jaccard >= 0.2 over uncapped distinct-shingle
    sets — what the streaming state must converge to."""
    sig = with_minhash(docs, num_hashes=16)
    cand = lsh_candidate_pairs(sig, bands=4, sig_len=16, max_bucket=None)
    sets = _batch_sets(docs)
    sa = sets.select(
        F.col("doc_id").alias("id_a"),
        F.col("sh_set").alias("set_a"),
        F.col("n").alias("na"),
    )
    sb = sets.select(
        F.col("doc_id").alias("id_b"),
        F.col("sh_set").alias("set_b"),
        F.col("n").alias("nb"),
    )
    shared = F.size(F.array_intersect("set_a", "set_b")).cast("bigint")
    jac = shared / (F.col("na") + F.col("nb") - shared)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= 0.2)
        .select("id_a", "id_b")
    )


def test_stream_maintenance_converges_to_batch_recompute(spark, tmp_path):
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .limit(400)
        .cache()
    )
    # three arrival batches as three parquet files (file source feeds
    # one per micro-batch via maxFilesPerTrigger=1)
    docs_dir = str(tmp_path / "docs_in")
    os.makedirs(docs_dir)
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(docs_dir)

    state = str(tmp_path / "state")
    run_maintenance_stream(
        spark, docs_dir, state, str(tmp_path / "ckpt"), threshold=0.2
    )

    pairs = spark.read.parquet(os.path.join(state, "pairs"))
    # 1. no pair is emitted twice across the stream's lifetime
    assert pairs.count() == pairs.select("id_a", "id_b").distinct().count()
    # 2. convergence: pair set == batch recompute over the full corpus
    got = pairs.select("id_a", "id_b")
    want = _batch_recompute(spark, docs)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert want.count() > 0  # the fixture genuinely has near-dups
    # 3. the loop was genuinely incremental: pairs arrived across
    # multiple micro-batches (a pair lands in the batch of its LATER
    # doc, and the fixture's dups straddle batch boundaries)
    assert pairs.select("batch_id").distinct().count() >= 2


def _state_with_batches(spark, tmp_path, batches):
    """Drive apply_batch directly (unit-grain; the streaming harness is
    proven above) over explicit (batch_id, docs_df) steps."""
    from parcel_analytics_etl_notebook_spark.streaming.dedup_maintenance import (
        near_dup_maintenance_sink,
    )

    state = str(tmp_path / "state")
    sink = near_dup_maintenance_sink(state, threshold=0.2)
    for bid, df in batches:
        sink(df, bid)
    return state


def test_recrawl_supersedes_and_reconverges(spark, tmp_path):
    """A re-crawl (same doc_id, new text) kills the doc's stale pairs
    at read time and re-emits whichever still verify — live_pairs
    converges to the batch recompute over the FINAL corpus (latest
    text per doc), while the raw append-only pair table still holds
    the dead rows until compaction."""
    from parcel_analytics_etl_notebook_spark.streaming.dedup_maintenance import (
        compact_state,
        live_pairs,
    )

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .limit(300)
        .cache()
    )
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    # batch 2 re-crawls half of b0's docs with UNRELATED new text (a
    # unique token soup per doc): their old near-dup pairs must die and
    # (being unrelated) not come back
    recrawled = b0.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.lit("zq"),
            F.col("doc_id").cast("string"),
            F.lit("xv"),
            (F.col("doc_id") * 7).cast("string"),
            F.lit("wk"),
            (F.col("doc_id") * 13).cast("string"),
        ).alias("text"),
    )
    state = _state_with_batches(
        spark, tmp_path, [(0, b0), (1, b1), (2, recrawled)]
    )

    final_corpus = docs.join(
        recrawled.select("doc_id"), "doc_id", "left_anti"
    ).unionByName(recrawled)
    want = _batch_recompute(spark, final_corpus)
    got = live_pairs(spark, state).select("id_a", "id_b")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert want.count() > 0

    # the raw table still holds superseded rows (append-only), and at
    # least one pair genuinely died with the re-crawl
    import os

    got_cnt = got.count()  # materialize BEFORE compaction swaps files
    raw = spark.read.parquet(os.path.join(state, "pairs"))
    assert raw.count() > got_cnt

    # compaction drops the dead rows without changing the live answer
    compact_state(spark, state)
    raw2 = spark.read.parquet(os.path.join(state, "pairs"))
    assert raw2.count() == got_cnt
    got2 = live_pairs(spark, state).select("id_a", "id_b")
    assert got2.exceptAll(want).count() == 0
    assert want.exceptAll(got2).count() == 0


def test_recrawl_same_text_is_noop_for_live_pairs(spark, tmp_path):
    """Re-crawling docs with IDENTICAL text changes nothing in the live
    view: the re-crawl batch re-finds and re-emits the same pairs under
    its own wb, superseding rather than duplicating."""
    from parcel_analytics_etl_notebook_spark.streaming.dedup_maintenance import (
        live_pairs,
    )

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
        .cache()
    )
    resend = docs.filter(F.col("doc_id") % 5 == 0)
    state = _state_with_batches(spark, tmp_path, [(0, docs), (1, resend)])
    want = _batch_recompute(spark, docs)
    got = live_pairs(spark, state).select("id_a", "id_b")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() == got.distinct().count()


def test_recrawl_to_short_text_kills_old_pairs(spark, tmp_path):
    """A re-crawl to text with fewer than 3 tokens has no shingles, so
    the doc pairs with nothing — but its new row must still supersede
    the old one, or the doc's stale pairs stay live. live_pairs equals
    the batch recompute over the final corpus."""
    from parcel_analytics_etl_notebook_spark.streaming.dedup_maintenance import (
        live_pairs,
    )

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .limit(300)
        .cache()
    )
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    state = _state_with_batches(spark, tmp_path, [(0, b0), (1, b1)])
    paired = sorted(
        {
            r[0]
            for r in live_pairs(spark, state)
            .select(F.explode(F.array("id_a", "id_b")))
            .collect()
        }
    )
    assert paired  # the fixture genuinely has near-dups
    short_ids = paired[::2]
    short = docs.filter(F.col("doc_id").isin(short_ids)).select(
        "doc_id", F.lit("short text").alias("text")
    )
    _state_with_batches(spark, tmp_path, [(2, short)])

    final_corpus = docs.join(
        short.select("doc_id"), "doc_id", "left_anti"
    ).unionByName(short)
    want = _batch_recompute(spark, final_corpus)
    got = live_pairs(spark, state).select("id_a", "id_b")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    stale = got.filter(
        F.col("id_a").isin(short_ids) | F.col("id_b").isin(short_ids)
    )
    assert stale.count() == 0


def test_replay_after_crash_before_first_docs_append(spark, tmp_path):
    """ADVICE r09 #1: batch 0 writes its pairs then dies BEFORE the
    first docs append. The checkpoint replay of batch 0 must not wedge
    on the missing docs table (treat every pair as live), and after
    the replay + one more batch the live view equals the recompute."""
    import shutil

    from parcel_analytics_etl_notebook_spark.streaming.dedup_maintenance import (
        DOCS_DIR,
        live_pairs,
        near_dup_maintenance_sink,
    )

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
        .cache()
    )
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "state")
    sink = near_dup_maintenance_sink(state, threshold=0.2)
    sink(b0, 0)
    # simulate the crash window: pairs landed, docs not
    shutil.rmtree(os.path.join(state, DOCS_DIR))
    # live_pairs on the docs-less state must answer, not raise
    assert live_pairs(spark, state).count() >= 0
    sink(b0, 0)  # checkpoint replay of the same batch
    sink(b1, 1)
    want = _batch_recompute(spark, docs)
    got = live_pairs(spark, state).select("id_a", "id_b")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert want.count() > 0
    # replay duplicated appends, never lost pairs; live view dedups
    assert got.count() == got.distinct().count()


def test_recover_state_repairs_interrupted_compaction(spark, tmp_path):
    """ADVICE r09 #2: a crash between compact_state's two renames
    leaves the canonical dir missing with data in .old (and possibly
    .compact). recover_state restores a readable state in both cases
    and is a no-op on a healthy root."""
    import shutil

    from parcel_analytics_etl_notebook_spark.streaming.dedup_maintenance import (
        PAIRS_DIR,
        live_pairs,
        recover_state,
    )

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .limit(150)
        .cache()
    )
    state = _state_with_batches(spark, tmp_path, [(0, docs)])
    want = live_pairs(spark, state).select("id_a", "id_b").toPandas()

    pairs = os.path.join(state, PAIRS_DIR)
    # case 1: crashed after rename-aside, before swap-in (.old + .compact)
    shutil.copytree(pairs, pairs + ".compact")
    os.rename(pairs, pairs + ".old")
    recover_state(state)
    assert os.path.isdir(pairs) and not os.path.isdir(pairs + ".old")
    spark.catalog.refreshByPath(pairs)
    got = live_pairs(spark, state).select("id_a", "id_b").toPandas()
    assert sorted(map(tuple, got.values)) == sorted(map(tuple, want.values))

    # case 2: crashed after rename-aside with no compacted copy
    os.rename(pairs, pairs + ".old")
    recover_state(state)
    assert os.path.isdir(pairs)
    # case 3: healthy root with stale leftovers -> leftovers dropped
    os.makedirs(pairs + ".compact", exist_ok=True)
    os.makedirs(pairs + ".old", exist_ok=True)
    recover_state(state)
    assert not os.path.isdir(pairs + ".compact")
    assert not os.path.isdir(pairs + ".old")
    spark.catalog.refreshByPath(pairs)
    got = live_pairs(spark, state).select("id_a", "id_b").toPandas()
    assert sorted(map(tuple, got.values)) == sorted(map(tuple, want.values))


def test_compaction_crash_injection_recovers(spark, tmp_path, monkeypatch):
    """VERDICT r10 #7: kill compact_state BETWEEN _swap_in's two
    renames — the actual crash window, injected at the real call site
    rather than simulated by directory surgery — then prove the next
    startup (recover_state) restores a state that answers identically
    and that a re-run compaction completes cleanly."""
    import shutil

    from parcel_analytics_etl_notebook_spark.streaming import (
        dedup_maintenance as dm,
    )

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .limit(150)
        .cache()
    )
    recrawl = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zz recrawled zz"))
    )
    state = _state_with_batches(spark, tmp_path, [(0, docs), (1, recrawl)])
    want = sorted(
        map(
            tuple,
            dm.live_pairs(spark, state)
            .select("id_a", "id_b")
            .toPandas()
            .values,
        )
    )

    pairs = os.path.join(state, dm.PAIRS_DIR)
    real_rename = os.rename
    crashed = {}

    def dying_rename(src, dst):
        # let the rename-aside (pairs -> pairs.old) succeed, then die
        # on the swap-in (pairs.compact -> pairs): the exact window
        # recover_state exists for
        if src == pairs + ".compact" and dst == pairs:
            crashed["at"] = (src, dst)
            raise OSError("injected crash between _swap_in renames")
        real_rename(src, dst)

    monkeypatch.setattr(dm.os, "rename", dying_rename)
    try:
        dm.compact_state(spark, state)
        raise AssertionError("injected crash did not fire")
    except OSError as e:
        assert "injected crash" in str(e)
    finally:
        monkeypatch.setattr(dm.os, "rename", real_rename)

    # the crash window left the canonical dir missing, data aside
    assert crashed and not os.path.isdir(pairs)
    assert os.path.isdir(pairs + ".old")
    assert os.path.isdir(pairs + ".compact")

    # startup recovery (run_maintenance_stream calls this first):
    # .compact is the complete compacted table -> finish the swap
    dm.recover_state(state)
    assert os.path.isdir(pairs)
    assert not os.path.isdir(pairs + ".old")
    assert not os.path.isdir(pairs + ".compact")
    for sub in (dm.DOCS_DIR, dm.PAIRS_DIR):
        spark.catalog.refreshByPath(os.path.join(state, sub))
    got = sorted(
        map(
            tuple,
            dm.live_pairs(spark, state)
            .select("id_a", "id_b")
            .toPandas()
            .values,
        )
    )
    assert got == want

    # and the interrupted compaction re-runs to completion on the
    # recovered root, still answer-preserving
    dm.compact_state(spark, state)
    got2 = sorted(
        map(
            tuple,
            dm.live_pairs(spark, state)
            .select("id_a", "id_b")
            .toPandas()
            .values,
        )
    )
    assert got2 == want
    shutil.rmtree(state, ignore_errors=True)
