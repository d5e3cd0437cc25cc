"""Batch: incremental-ingest dedup, SemDeDup-style cluster-scoped
semantic dedup, and sessionized event-path mining.

Three shapes a production training-data pipeline runs that the catalog
lacked: (1) dedup of an INCOMING batch against an existing corpus —
the steady-state form of exact dedup once a corpus is live (the
within-corpus form is queries_llm.exact_dedup_documents); (2) the
SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): cluster
embeddings coarsely, then look for near-identical pairs only WITHIN a
cluster, sorted-neighborhood style; (3) frequent 3-step event paths
within 30-minute sessions — the n-gram mining that powers funnel
discovery (and, on token streams, template detection).

Oracle-parity conventions as in plans/catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parcel_analytics_etl_notebook_spark.functions.vectors import (
    cosine_similarity,
)
from parcel_analytics_etl_notebook_spark.plans.catalog import register, table
from parcel_analytics_etl_notebook_spark.plans.queries_llm import (
    _SQL_COS,
    _SQL_POLY,
    _SQL_TOKS,
)


@register(
    "incremental_corpus_dedup",
    oracle=r"""
WITH h AS (
    SELECT doc_id, source, n_chars,
           sha256(substring(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 40)) AS ch
    FROM documents
),
corpus AS (SELECT DISTINCT ch FROM h WHERE doc_id % 3 = 0),
incoming AS (SELECT * FROM h WHERE doc_id % 10 = 0),
tagged AS (
    SELECT i.source,
           CASE
             WHEN EXISTS (SELECT 1 FROM corpus c WHERE c.ch = i.ch)
                 THEN 'dup_of_corpus'
             WHEN row_number() OVER (PARTITION BY i.ch ORDER BY i.doc_id) > 1
                 THEN 'dup_in_batch'
             ELSE 'kept'
           END AS status,
           i.n_chars
    FROM incoming i
)
SELECT source, status,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM tagged GROUP BY source, status ORDER BY source, status
""",
)
def incremental_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: classify each document of an incoming
    batch (doc_id % 10 = 0 stands in for "today's crawl", overlapping
    the live corpus doc_id % 3 = 0 as re-crawls do) by canonical
    fingerprint — `dup_of_corpus` (seen before), `dup_in_batch` (first
    occurrence wins within the batch), or `kept`. The steady-state
    dedup shape: after the first backfill, every real pipeline runs
    THIS, not the full-corpus self-dedup. The canonicalizer here is
    the normalized 40-char PREFIX hash (the boilerplate/mirror-crawl
    fingerprint — full-text sha is the same plan with a different
    canonicalizer; this corpus has no full-text dups to classify).

    Scale: both sides collapse to hash-grain first, so the membership
    probe is an equi-join on uniformly distributed sha256 — one
    shuffle each side, no skew by construction. At 100 TB the corpus
    side is a Bloom filter or a bucketed hash index instead of a full
    join (the join IS the exactness oracle for those); the within-batch
    rank windows on the same hash key, reusing the partitioning."""
    norm_hash = F.sha2(
        F.substring(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), 1, 40
        ),
        256,
    )
    h = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", norm_hash.alias("ch")
    )
    corpus = h.filter(F.col("doc_id") % 3 == 0).select("ch").distinct()
    incoming = h.filter(F.col("doc_id") % 10 == 0)
    seen = corpus.withColumn("__in_corpus", F.lit(1))
    rn = F.row_number().over(Window.partitionBy("ch").orderBy("doc_id"))
    tagged = (
        incoming.join(seen, "ch", "left")
        .withColumn("__rn", rn)
        .select(
            "source",
            F.when(F.col("__in_corpus").isNotNull(), "dup_of_corpus")
            .when(F.col("__rn") > 1, "dup_in_batch")
            .otherwise("kept")
            .alias("status"),
            "n_chars",
        )
    )
    return (
        tagged.groupBy("source", "status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("source", "status")
    )


@register(
    "semdedup_cluster_pairs",
    oracle=f"""
WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
corpus AS (SELECT vec_id, embedding FROM embeddings),
assigned AS (
    SELECT corpus.vec_id, corpus.embedding, c.cid,
           round({_SQL_COS.format('corpus.embedding', 'c.cvec')}, 9) AS ccos,
           row_number() OVER (PARTITION BY corpus.vec_id
               ORDER BY round({_SQL_COS.format('corpus.embedding', 'c.cvec')}, 9) DESC, c.cid) AS rn
    FROM corpus CROSS JOIN c
),
mem AS (SELECT vec_id, embedding, cid, ccos FROM assigned WHERE rn = 1),
nbr AS (
    SELECT cid, vec_id, embedding, ccos,
           lead(vec_id)    OVER w AS nxt_id,
           lead(embedding) OVER w AS nxt_emb,
           lead(ccos)      OVER w AS nxt_ccos
    FROM mem WINDOW w AS (PARTITION BY cid ORDER BY ccos DESC, vec_id)
)
SELECT cid, vec_id AS drop_id, nxt_id AS keep_id,
       round({_SQL_COS.format('embedding', 'nxt_emb')}, 6) AS pair_cosine
FROM nbr
WHERE nxt_id IS NOT NULL
  AND round({_SQL_COS.format('embedding', 'nxt_emb')}, 6) >= 0.4
ORDER BY cid, drop_id
""",
)
def semdedup_cluster_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): coarse k-means-style clustering
    (fixed centroids = vectors 1..8, argmax cosine, ties to lowest id),
    then semantic near-dup pairs detected only WITHIN each cluster by
    comparing neighbors in the cluster's centroid-similarity ordering.
    Of a duplicate pair the member CLOSER to the centroid is dropped
    (the paper keeps the outlier — it carries more information).

    Scale: this is the paper's own trick for avoiding the all-pairs
    blowup — candidate pairs are (cluster, adjacent-in-ordering) only,
    so the cost after assignment is one window sort per cluster,
    O(N log N) total, zero cross-cluster pairs. Assignment broadcasts
    the MODEL-sized centroid set; per-pair cosine is a codegen'd HOF
    over the two adjacent rows. Ordering ties broken by vec_id; both
    cosines rounded (9dp for ordering, 6dp for the emitted score) so
    the pairing is engine-stable."""
    emb = table(spark, sf_dir, "embeddings")
    cent = emb.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= 8)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    scored = emb.join(F.broadcast(cent)).select(
        "vec_id",
        "embedding",
        "cid",
        F.round(cosine_similarity("embedding", "cvec"), 9).alias("ccos"),
    )
    rn = F.row_number().over(
        Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), "cid")
    )
    mem = scored.withColumn("rn", rn).filter(F.col("rn") == 1).drop("rn")
    w = Window.partitionBy("cid").orderBy(F.col("ccos").desc(), "vec_id")
    nbr = mem.select(
        "cid",
        "vec_id",
        "embedding",
        F.lead("vec_id").over(w).alias("nxt_id"),
        F.lead("embedding").over(w).alias("nxt_emb"),
    )
    pair_cos = F.round(cosine_similarity("embedding", "nxt_emb"), 6)
    return (
        nbr.filter(F.col("nxt_id").isNotNull())
        .select(
            "cid",
            F.col("vec_id").alias("drop_id"),
            F.col("nxt_id").alias("keep_id"),
            pair_cos.alias("pair_cosine"),
        )
        .filter(F.col("pair_cosine") >= 0.4)
        .orderBy("cid", "drop_id")
    )


@register(
    "session_event_trigrams",
    oracle="""
WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
m AS (
    SELECT user_id, event_id, event_type, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('second', lag(ts) OVER w, ts) > 1800
                THEN 1 ELSE 0 END AS is_new
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT user_id, event_id, event_type, ts,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
    FROM m
),
tri AS (
    SELECT event_type
           || '>' || lead(event_type, 1) OVER w2
           || '>' || lead(event_type, 2) OVER w2 AS trigram
    FROM s WINDOW w2 AS (PARTITION BY user_id, sess ORDER BY ts, event_id)
)
SELECT trigram, CAST(count(*) AS BIGINT) AS n
FROM tri WHERE trigram IS NOT NULL
GROUP BY trigram ORDER BY n DESC, trigram LIMIT 20
""",
)
def session_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 three-step event paths within 30-minute sessions — the
    path-mining query behind funnel discovery ("what do users actually
    do in order"), and on token streams the same shape is template
    mining. Sessions via the gap sessionizer (lag → marker → running
    sum); trigrams via two leads INSIDE the (user, session) partition,
    so paths never span a session boundary; NULL-propagating concat
    drops the <3-step tails.

    Scale: both window passes partition on user (one shuffle, reused);
    the trigram rollup shuffles on the trigram string — vocabulary-
    bounded; top-20 via TakeOrderedAndProject with a deterministic
    (count desc, trigram) tiebreak. ts ties within a user are ordered
    by event_id on BOTH sides, so the paths are engine-stable."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    is_new = (
        prev_ts.isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts) > 1800)
    ).cast("bigint")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = e.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.sum(is_new).over(wcum).alias("sess"),
    )
    w2 = Window.partitionBy("user_id", "sess").orderBy("ts", "event_id")
    tri = s.select(
        F.concat(
            F.col("event_type"),
            F.lit(">"),
            F.lead("event_type", 1).over(w2),
            F.lit(">"),
            F.lead("event_type", 2).over(w2),
        ).alias("trigram")
    )
    return (
        tri.filter(F.col("trigram").isNotNull())
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "trigram")
        .limit(20)
    )


@register(
    "mixture_temperature_rebalance",
    oracle=r"""
WITH t AS (
    SELECT source,
           sum(len(CASE WHEN text IS NULL OR trim(text) = ''
                   THEN CAST([] AS VARCHAR[])
                   ELSE string_split_regex(trim(text), '\s+') END)) AS n_tokens
    FROM documents GROUP BY source
),
s0 AS (
    SELECT source, n_tokens,
           CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS nat_share,
           0.5 * sum(n_tokens) OVER () AS budget
    FROM t
),
s AS (
    SELECT source, n_tokens, nat_share, budget,
           sqrt(nat_share) / sum(sqrt(nat_share)) OVER () AS temp_share
    FROM s0
)
SELECT source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(nat_share, 6) AS nat_share,
       round(temp_share, 6) AS temp_share,
       round(least(1.0, temp_share * budget / n_tokens), 6) AS sampling_rate,
       round(temp_share * budget / n_tokens, 6) AS epochs_if_uncapped
FROM s ORDER BY source
""",
)
def mixture_temperature_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source-mixture rebalancing (the multilingual
    sampling rule of mBERT/XLM-R, τ = 0.5): each source's target share
    is its natural token share raised to α = 0.5 and renormalized —
    common sources are downsampled, rare ones upsampled — then turned
    into a concrete per-source sampling RATE against a token budget of
    half the corpus (rate > 1 ⇒ the source must repeat epochs; emitted
    uncapped so the data-mixing planner can see how much).

    Scale: one groupBy(source) token count (source cardinality is
    mixture-config-sized), then all shares/normalizers are unbounded
    windows over that tiny frame — zero extra passes over documents.
    This composes with per_lang_sample_k / token_weighted_sample for
    the actual draw; THIS query is the planner that decides rates."""
    from parcel_analytics_etl_notebook_spark.functions.textfns import tokens

    docs = table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).alias("n_tokens")
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    s0 = t.select(
        "source",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.sum("n_tokens").over(wall)).alias(
            "nat_share"
        ),
        (0.5 * F.sum("n_tokens").over(wall)).alias("budget"),
    )
    temp = F.sqrt("nat_share") / F.sum(F.sqrt("nat_share")).over(wall)
    s = s0.withColumn("temp_share", temp)
    rate = F.col("temp_share") * F.col("budget") / F.col("n_tokens")
    return (
        s.select(
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round("nat_share", 6).alias("nat_share"),
            F.round("temp_share", 6).alias("temp_share"),
            F.round(F.least(F.lit(1.0), rate), 6).alias("sampling_rate"),
            F.round(rate, 6).alias("epochs_if_uncapped"),
        )
        .orderBy("source")
    )


def _cms_oracle() -> str:
    from parcel_analytics_etl_notebook_spark.operators.sketches import CMS_ROWS
    from parcel_analytics_etl_notebook_spark.plans.queries_llm import (
        _SQL_POLY,
        _SQL_TOKS,
    )

    def bucket(row_expr: str, item: str) -> str:
        h = _SQL_POLY.format(item)
        cases = " ".join(
            f"WHEN {row_expr} = {s} THEN (({h} * {a} + {b}) % 1000000007) % 256"
            for s, (a, b) in enumerate(CMS_ROWS)
        )
        return f"(CASE {cases} END)"

    return f"""
WITH toks AS (SELECT unnest({_SQL_TOKS}) AS w FROM documents),
ex AS (SELECT w, unnest(range(0, 4)) AS row FROM toks),
grid AS (
    SELECT row, {bucket('row', 'w')} AS bucket, count(*) AS cnt
    FROM ex GROUP BY 1, 2
),
exact AS (SELECT w, count(*) AS n FROM toks GROUP BY 1 ORDER BY n DESC, w LIMIT 20),
probes AS (
    SELECT e.w, e.n, r.row, {bucket('r.row', 'e.w')} AS bucket
    FROM exact e CROSS JOIN (SELECT unnest(range(0, 4)) AS row) r
),
est AS (
    SELECT p.w, p.n, min(coalesce(g.cnt, 0)) AS est
    FROM probes p LEFT JOIN grid g USING (row, bucket)
    GROUP BY p.w, p.n
)
SELECT w AS word, CAST(n AS BIGINT) AS exact_n,
       CAST(est AS BIGINT) AS cms_estimate,
       CAST(est - n AS BIGINT) AS overestimate
FROM est ORDER BY exact_n DESC, word
"""


@register("countmin_word_frequencies", oracle=_cms_oracle())
def countmin_word_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point queries vs exact truth: a 4×256 CMS grid
    over the corpus token stream, probed for the exact top-20 words —
    emitting estimate, truth, and the (provably ≥ 0) overestimate. The
    mergeable-sketch complement to Misra-Gries heavy hitters
    (operators/heavyhitters): MG answers "which items are frequent",
    CMS answers "how frequent is THIS item" for any item, in d·W
    integers that sum-merge across partitions, days, or streams.

    Relational CMS (operators/sketches): build is explode(×depth) +
    one groupBy — the explode factor is the sketch depth constant;
    estimation broadcasts the model-sized grid. Hash rows use the
    cross-engine poly hash with seed prefixes, so the ORACLE restates
    the whole sketch bucket-for-bucket and the estimate column is
    hash-checked, not just bound-checked. The CMS guarantee
    (estimate ≥ truth) is visible as overestimate ≥ 0 in every row."""
    from parcel_analytics_etl_notebook_spark.functions.textfns import tokens
    from parcel_analytics_etl_notebook_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("w"))
    grid = cms_build(toks, "w", depth=4, width=256)
    exact = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "w")
        .limit(20)
    )
    est = cms_estimate(exact, grid, "w", depth=4, width=256)
    return (
        est.select(
            F.col("w").alias("word"),
            F.col("n").cast("bigint").alias("exact_n"),
            "cms_estimate",
            (F.col("cms_estimate") - F.col("n")).cast("bigint").alias(
                "overestimate"
            ),
        )
        .orderBy(F.col("exact_n").desc(), "word")
    )


def _bloom_oracle() -> str:
    from parcel_analytics_etl_notebook_spark.plans.queries_llm import _SQL_POLY

    bit = _SQL_POLY.format("CAST({0} AS VARCHAR) || ':' || {1}") + " % 4096"
    return rf"""
WITH h AS (
    SELECT doc_id, source,
           sha256(substring(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 40)) AS ch
    FROM documents
),
corpus AS (SELECT DISTINCT ch FROM h WHERE doc_id % 3 = 0),
incoming AS (SELECT doc_id, source, ch FROM h WHERE doc_id % 10 = 0),
rs AS (SELECT unnest(range(0, 3)) AS r),
bits AS (SELECT DISTINCT {bit.format('r', 'ch')} AS bit FROM corpus CROSS JOIN rs),
probes AS (
    SELECT i.doc_id, i.source, i.ch, {bit.format('r', 'i.ch')} AS bit
    FROM incoming i CROSS JOIN rs
),
flag AS (
    SELECT p.doc_id, p.source, p.ch, (count(b.bit) = 3) AS pos
    FROM probes p LEFT JOIN bits b USING (bit)
    GROUP BY 1, 2, 3
),
lab AS (
    SELECT f.source, f.pos,
           EXISTS (SELECT 1 FROM corpus c WHERE c.ch = f.ch) AS inc
    FROM flag f
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(pos::INT) AS BIGINT) AS bloom_positives,
       CAST(sum((pos AND inc)::INT) AS BIGINT) AS true_positives,
       CAST(sum((pos AND NOT inc)::INT) AS BIGINT) AS false_positives,
       CAST(sum((NOT pos AND inc)::INT) AS BIGINT) AS false_negatives
FROM lab GROUP BY source ORDER BY source
"""


@register("bloom_corpus_membership", oracle=_bloom_oracle())
def bloom_corpus_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom-filter membership pre-screen that
    incremental_corpus_dedup's docstring promises for 100 TB,
    demonstrated and verified: corpus fingerprints → a k=3, m=4096
    relational Bloom filter (operators/sketches.bloom_build), incoming
    batch probed against it, confusion counts per source vs EXACT
    membership. false_negatives is 0 in every row — the structural
    no-FN guarantee that makes Bloom safe as a dedup pre-filter (a
    positive still needs the exact check; a negative safely skips it,
    which at scale is the point: the exact join runs only on the
    bloom-positive sliver).

    The bit list is model-sized (≤ m rows) and broadcast; build and
    probe are each one explode(×k constant) + hash agg. Poly-hash bit
    rows let the oracle restate the filter bit-for-bit, so the
    confusion counts are hash-checked, not just bounded. At sf0.1 the
    corpus (~1.5k keys) overloads m=4096 on purpose — false_positives
    goes visibly nonzero while false_negatives stays 0."""
    from parcel_analytics_etl_notebook_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    norm_hash = F.sha2(
        F.substring(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), 1, 40
        ),
        256,
    )
    h = table(spark, sf_dir, "documents").select(
        "doc_id", "source", norm_hash.alias("ch")
    )
    corpus = h.filter(F.col("doc_id") % 3 == 0).select("ch").distinct()
    incoming = h.filter(F.col("doc_id") % 10 == 0)
    bits = bloom_build(corpus, "ch", k=3, m=4096)
    flagged = bloom_probe(incoming, bits, "ch", k=3, m=4096, out_col="pos")
    exact = corpus.withColumn("__inc", F.lit(1))
    lab = flagged.join(exact, "ch", "left").select(
        "source",
        "pos",
        F.col("__inc").isNotNull().alias("inc"),
    )
    b = lambda c: c.cast("int")  # noqa: E731
    return (
        lab.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.sum(b(F.col("pos"))).cast("bigint").alias("bloom_positives"),
            F.sum(b(F.col("pos") & F.col("inc"))).cast("bigint").alias(
                "true_positives"
            ),
            F.sum(b(F.col("pos") & ~F.col("inc"))).cast("bigint").alias(
                "false_positives"
            ),
            F.sum(b(~F.col("pos") & F.col("inc"))).cast("bigint").alias(
                "false_negatives"
            ),
        )
        .orderBy("source")
    )


def _hll_oracle() -> str:
    from parcel_analytics_etl_notebook_spark.operators.sketches import (
        HLL_ALPHA,
        HLL_M,
        HLL_SALT,
        HLL_WBITS,
    )
    from parcel_analytics_etl_notebook_spark.plans.queries_llm import _SQL_POLY

    poly = _SQL_POLY.format(f"'{HLL_SALT}' || CAST(user_id AS VARCHAR)")
    rho_cases = " ".join(
        f"WHEN w >= {2**b} THEN {HLL_WBITS - b}"
        for b in range(HLL_WBITS - 1, -1, -1)
    )
    alpha = f"CAST('{HLL_ALPHA!r}' AS DOUBLE)"
    return f"""
WITH h0 AS (SELECT {poly} AS hv FROM events),
h AS (SELECT (hv * hv + 12345) % 1000000007 AS gv FROM h0),
rw AS (SELECT gv % {HLL_M} AS register, gv // {HLL_M} AS w FROM h),
rho AS (
    SELECT register,
           CASE WHEN w = 0 THEN {HLL_WBITS + 1} {rho_cases} END AS rho
    FROM rw
),
regs AS (SELECT register, max(rho) AS max_rho FROM rho GROUP BY register),
est0 AS (
    SELECT sum(power(2.0, -max_rho)) AS sum_present,
           count(*) AS n_present
    FROM regs
),
est AS (
    SELECT CASE
             WHEN ({alpha} * {HLL_M} * {HLL_M}
                   / (sum_present + ({HLL_M} - n_present))) <= 2.5 * {HLL_M}
                  AND ({HLL_M} - n_present) > 0
             THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE) / ({HLL_M} - n_present))
             ELSE {alpha} * {HLL_M} * {HLL_M}
                  / (sum_present + ({HLL_M} - n_present))
           END AS e
    FROM est0
),
exact AS (SELECT count(DISTINCT user_id) AS n FROM events)
SELECT round(est.e, 4) AS hll_estimate,
       CAST(exact.n AS BIGINT) AS exact_distinct,
       round(abs(est.e - exact.n) / exact.n, 4) AS rel_err
FROM est CROSS JOIN exact
"""


@register("hll_relational_distinct_users", oracle=_hll_oracle())
def hll_relational_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate computed RELATIONALLY
    (operators/sketches.hll_registers: 64 registers, threshold-chain
    rho, harmonic mean + linear-counting small-range correction), next
    to the exact count and the realized relative error — the
    fully-verified complement to approx_distinct_users, whose built-in
    HLL++ sketch bytes can't be restated in SQL (that one is rows-only
    checked; THIS one's estimate is hash-checked to 4dp against DuckDB
    computing the same sketch).

    Why it scales: the register frame IS the sketch — ≤ m rows from one
    hash agg over the raw stream, no pre-distinct (max absorbs
    duplicates), mergeable across days/streams by max-per-register.
    rho uses integer threshold comparisons, never float log2, so both
    engines agree bit-for-bit at power-of-two boundaries; the harmonic
    sum is binary fractions (exact in doubles, order-independent).
    The weak-but-portable poly hash costs accuracy vs a 64-bit
    avalanche hash — the realized rel_err column shows exactly how
    much, which is the honest way to ship a portable sketch."""
    from parcel_analytics_etl_notebook_spark.operators.sketches import (
        hll_estimate_expr,
        hll_registers,
    )

    ev = table(spark, sf_dir, "events")
    est = hll_estimate_expr(hll_registers(ev, "user_id")).withColumn(
        "__k", F.lit(1)
    )
    exact = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    ).withColumn("__k", F.lit(1))
    return est.join(exact, "__k").select(
        F.round("hll_estimate", 4).alias("hll_estimate"),
        "exact_distinct",
        F.round(
            F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_err"),
    )


def _hll_weekly_oracle() -> str:
    from parcel_analytics_etl_notebook_spark.operators.sketches import (
        HLL_ALPHA,
        HLL_M,
        HLL_SALT,
        HLL_WBITS,
    )
    from parcel_analytics_etl_notebook_spark.plans.queries_llm import _SQL_POLY

    poly = _SQL_POLY.format(f"'{HLL_SALT}' || CAST(user_id AS VARCHAR)")
    alpha = f"CAST('{HLL_ALPHA!r}' AS DOUBLE)"
    rho_cases = " ".join(
        f"WHEN w >= {2**b} THEN {HLL_WBITS - b}"
        for b in range(HLL_WBITS - 1, -1, -1)
    )
    return f"""
WITH h0 AS (
    SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
           user_id, {poly} AS hv
    FROM events
),
h AS (SELECT week, user_id, (hv * hv + 12345) % 1000000007 AS gv FROM h0),
rw AS (SELECT week, gv % {HLL_M} AS register, gv // {HLL_M} AS w FROM h),
rho AS (
    SELECT week, register,
           CASE WHEN w = 0 THEN {HLL_WBITS + 1} {rho_cases} END AS rho
    FROM rw
),
-- daily... here weekly registers stand for the merged daily frames:
-- max() is associative, so max over the week == max over per-day maxes
regs AS (SELECT week, register, max(rho) AS max_rho FROM rho GROUP BY 1, 2),
est0 AS (
    SELECT week,
           sum(power(2.0, -max_rho)) AS sum_present,
           count(*) AS n_present
    FROM regs GROUP BY week
),
est AS (
    SELECT week,
           CASE
             WHEN ({alpha} * {HLL_M} * {HLL_M}
                   / (sum_present + ({HLL_M} - n_present))) <= 2.5 * {HLL_M}
                  AND ({HLL_M} - n_present) > 0
             THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE) / ({HLL_M} - n_present))
             ELSE {alpha} * {HLL_M} * {HLL_M}
                  / (sum_present + ({HLL_M} - n_present))
           END AS e
    FROM est0
),
exact AS (
    SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
           count(DISTINCT user_id) AS n
    FROM events GROUP BY 1
)
SELECT CAST(CAST(est.week AS DATE) AS VARCHAR) AS week,
       round(est.e, 4) AS hll_estimate,
       CAST(exact.n AS BIGINT) AS exact_distinct,
       round(abs(est.e - exact.n) / exact.n, 4) AS rel_err
FROM est JOIN exact ON est.week = exact.week
ORDER BY week
"""


@register("hll_weekly_unique_users", oracle=_hll_weekly_oracle())
def hll_weekly_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly unique users from MERGED HLL register frames — the
    operational reason sketches exist: the weekly number never re-reads
    raw events, it max-merges the per-grain register frames (max is
    associative, so per-week == merge of per-day — the same property
    the incremental rollup runner uses for count/sum, extended to
    COUNT DISTINCT, which no partial count can give you). Each weekly
    sketch is ≤ m rows; a year of dailies is 365·m integers regardless
    of user cardinality.

    Exact weekly distinct + realized rel_err emitted per week and
    hash-checked: the whole sketch pipeline is restated relationally
    in the DuckDB oracle, so this is verified sketch MATH, not a
    rows-only smoke."""
    from parcel_analytics_etl_notebook_spark.operators.sketches import (
        HLL_ALPHA,
        HLL_M,
        HLL_SALT,
        HLL_WBITS,
    )
    from parcel_analytics_etl_notebook_spark.operators.dedup_fuzzy import (
        FP_MOD,
        poly_hash,
    )
    from parcel_analytics_etl_notebook_spark.operators.sketches import hll_rho

    ev = table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts")).alias("week")
    h = poly_hash(F.concat(F.lit(HLL_SALT), F.col("user_id").cast("string")))
    g = (h * h + F.lit(12345)) % F.lit(FP_MOD)
    rw = ev.select(
        week,
        (g % HLL_M).alias("register"),
        hll_rho(F.floor(g / HLL_M).cast("long")).alias("rho"),
    )
    regs = rw.groupBy("week", "register").agg(F.max("rho").alias("max_rho"))
    est0 = regs.groupBy("week").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("sum_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    total = F.col("sum_present") + (F.lit(HLL_M) - F.col("n_present"))
    raw = F.lit(HLL_ALPHA) * HLL_M * HLL_M / total
    empty = F.lit(HLL_M) - F.col("n_present")
    e = F.when(
        (raw <= 2.5 * HLL_M) & (empty > 0),
        HLL_M * F.log(F.lit(float(HLL_M)) / empty),
    ).otherwise(raw)
    est = est0.select("week", e.alias("e"))
    exact = ev.groupBy(F.date_trunc("week", F.col("ts")).alias("week")).agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    return (
        est.join(exact, "week")
        .select(
            F.to_date("week").cast("string").alias("week"),
            F.round("e", 4).alias("hll_estimate"),
            "exact_distinct",
            F.round(
                F.abs(F.col("e") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("week")
    )


def _hll_intersect_oracle() -> str:
    from parcel_analytics_etl_notebook_spark.operators.sketches import (
        HLL_ALPHA,
        HLL_M,
        HLL_SALT,
        HLL_WBITS,
    )
    from parcel_analytics_etl_notebook_spark.plans.queries_llm import _SQL_POLY

    poly = _SQL_POLY.format(f"'{HLL_SALT}' || CAST(user_id AS VARCHAR)")
    alpha = f"CAST('{HLL_ALPHA!r}' AS DOUBLE)"
    rho_cases = " ".join(
        f"WHEN w >= {2**b} THEN {HLL_WBITS - b}"
        for b in range(HLL_WBITS - 1, -1, -1)
    )
    est = f"""
    SELECT side,
           CASE
             WHEN ({alpha} * {HLL_M} * {HLL_M}
                   / (sum_present + ({HLL_M} - n_present))) <= 2.5 * {HLL_M}
                  AND ({HLL_M} - n_present) > 0
             THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE) / ({HLL_M} - n_present))
             ELSE {alpha} * {HLL_M} * {HLL_M}
                  / (sum_present + ({HLL_M} - n_present))
           END AS e
    FROM est0
    """
    return f"""
WITH h0 AS (
    SELECT user_id, (({poly}) * ({poly}) + 12345) %% 1000000007 AS gv
    FROM events
),
sides AS (
    SELECT 'a' AS side, gv FROM h0 WHERE user_id %% 2 = 0
    UNION ALL SELECT 'b' AS side, gv FROM h0 WHERE user_id %% 3 = 0
    UNION ALL SELECT 'u' AS side, gv FROM h0
              WHERE user_id %% 2 = 0 OR user_id %% 3 = 0
),
rho AS (
    SELECT side, gv %% {HLL_M} AS register,
           CASE WHEN gv // {HLL_M} = 0 THEN {HLL_WBITS + 1}
                {rho_cases.replace('w >=', 'gv // ' + str(HLL_M) + ' >=')} END AS rho
    FROM sides
),
regs AS (SELECT side, register, max(rho) AS max_rho FROM rho GROUP BY 1, 2),
est0 AS (
    SELECT side, sum(power(2.0, -max_rho)) AS sum_present,
           count(*) AS n_present
    FROM regs GROUP BY side
),
est AS ({est}),
wide AS (
    SELECT max(CASE WHEN side = 'a' THEN e END) AS ea,
           max(CASE WHEN side = 'b' THEN e END) AS eb,
           max(CASE WHEN side = 'u' THEN e END) AS eu
    FROM est
),
exact AS (
    SELECT count(DISTINCT CASE WHEN user_id %% 2 = 0 AND user_id %% 3 = 0
                          THEN user_id END) AS n_inter
    FROM events
)
SELECT round(wide.ea, 4) AS est_a, round(wide.eb, 4) AS est_b,
       round(wide.eu, 4) AS est_union,
       round(wide.ea + wide.eb - wide.eu, 4) AS est_intersection,
       CAST(exact.n_inter AS BIGINT) AS exact_intersection,
       round(abs(wide.ea + wide.eb - wide.eu - exact.n_inter)
             / exact.n_inter, 4) AS rel_err
FROM wide CROSS JOIN exact
""".replace("%%", "%")


@register("hll_user_segment_overlap", oracle=_hll_intersect_oracle())
def hll_user_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra: the overlap of two user segments estimated by
    inclusion-exclusion over three register frames (A, B, and their
    union — union sketches are exact merges, intersections are NOT
    closed under HLL, so |A∩B| ≈ E(A)+E(B)−E(A∪B)). Segments are
    deterministic id-slices (even ids vs ids divisible by 3, true
    overlap = 1/6 of users) so the estimate has a real gap to close.
    Exact intersection and realized error emitted alongside — the
    known caveat on display: the error is relative to the UNION's
    scale, so small true overlaps inflate rel_err (production HLLs
    use theta/KMV sketches when intersections matter).

    All three register frames come from one scan (the union side
    reuses the same hashed stream); estimates are arithmetic over
    ≤ 3·m rows."""
    from parcel_analytics_etl_notebook_spark.operators.dedup_fuzzy import (
        FP_MOD,
        poly_hash,
    )
    from parcel_analytics_etl_notebook_spark.operators.sketches import (
        HLL_ALPHA,
        HLL_M,
        HLL_SALT,
        hll_rho,
    )

    ev = table(spark, sf_dir, "events")
    h = poly_hash(F.concat(F.lit(HLL_SALT), F.col("user_id").cast("string")))
    g = ((h * h + F.lit(12345)) % F.lit(FP_MOD)).alias("gv")
    hashed = ev.select("user_id", g)
    a = hashed.filter(F.col("user_id") % 2 == 0).select(F.lit("a").alias("side"), "gv")
    b = hashed.filter(F.col("user_id") % 3 == 0).select(F.lit("b").alias("side"), "gv")
    u = hashed.filter(
        (F.col("user_id") % 2 == 0) | (F.col("user_id") % 3 == 0)
    ).select(F.lit("u").alias("side"), "gv")
    sides = a.unionByName(b).unionByName(u)
    rho = sides.select(
        "side",
        (F.col("gv") % HLL_M).alias("register"),
        hll_rho(F.floor(F.col("gv") / HLL_M).cast("long")).alias("rho"),
    )
    regs = rho.groupBy("side", "register").agg(F.max("rho").alias("max_rho"))
    est0 = regs.groupBy("side").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("sum_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    total = F.col("sum_present") + (F.lit(HLL_M) - F.col("n_present"))
    raw = F.lit(HLL_ALPHA) * HLL_M * HLL_M / total
    empty = F.lit(HLL_M) - F.col("n_present")
    e = F.when(
        (raw <= 2.5 * HLL_M) & (empty > 0),
        HLL_M * F.log(F.lit(float(HLL_M)) / empty),
    ).otherwise(raw)
    wide = est0.select("side", e.alias("e")).agg(
        F.max(F.when(F.col("side") == "a", F.col("e"))).alias("ea"),
        F.max(F.when(F.col("side") == "b", F.col("e"))).alias("eb"),
        F.max(F.when(F.col("side") == "u", F.col("e"))).alias("eu"),
    ).withColumn("__k", F.lit(1))
    exact = ev.agg(
        F.countDistinct(
            F.when(
                (F.col("user_id") % 2 == 0) & (F.col("user_id") % 3 == 0),
                F.col("user_id"),
            )
        )
        .cast("bigint")
        .alias("exact_intersection")
    ).withColumn("__k", F.lit(1))
    inter = F.col("ea") + F.col("eb") - F.col("eu")
    return wide.join(exact, "__k").select(
        F.round("ea", 4).alias("est_a"),
        F.round("eb", 4).alias("est_b"),
        F.round("eu", 4).alias("est_union"),
        F.round(inter, 4).alias("est_intersection"),
        "exact_intersection",
        F.round(
            F.abs(inter - F.col("exact_intersection"))
            / F.col("exact_intersection"),
            4,
        ).alias("rel_err"),
    )


def _kmv_oracle() -> str:
    from parcel_analytics_etl_notebook_spark.operators.sketches import (
        HLL_SALT,
        KMV_K,
    )
    from parcel_analytics_etl_notebook_spark.plans.queries_llm import _SQL_POLY

    poly = _SQL_POLY.format(f"'{HLL_SALT}' || CAST(user_id AS VARCHAR)")
    return f"""
WITH h0 AS (
    SELECT user_id, (({poly}) * ({poly}) + 12345) % 1000000007 AS gv
    FROM events
),
sides AS (
    SELECT 'a' AS side, gv FROM h0 WHERE user_id % 2 = 0
    UNION ALL SELECT 'b' AS side, gv FROM h0 WHERE user_id % 3 = 0
),
dv AS (SELECT DISTINCT side, gv FROM sides),
ranked AS (
    SELECT side, gv,
           row_number() OVER (PARTITION BY side ORDER BY gv) AS rn,
           count(*) OVER (PARTITION BY side) AS nd
    FROM dv
),
kmv AS (SELECT side, gv, nd FROM ranked WHERE rn <= {KMV_K}),
theta AS (
    SELECT side,
           CASE WHEN max(nd) < {KMV_K} THEN 1000000007
                ELSE max(gv) END AS th
    FROM kmv GROUP BY side
),
tmin AS (SELECT min(th) AS th FROM theta),
survivors AS (
    SELECT count(*) AS s
    FROM (SELECT gv FROM kmv WHERE side = 'a') a
    JOIN (SELECT gv FROM kmv WHERE side = 'b') b USING (gv)
    CROSS JOIN tmin
    WHERE a.gv < tmin.th
),
exact AS (
    SELECT count(DISTINCT CASE WHEN user_id % 2 = 0 AND user_id % 3 = 0
                          THEN user_id END) AS n_inter
    FROM events
)
SELECT CAST(survivors.s AS BIGINT) AS n_survivors,
       round(survivors.s / (CAST(tmin.th AS DOUBLE) / 1000000007), 4)
           AS est_intersection,
       CAST(exact.n_inter AS BIGINT) AS exact_intersection,
       round(abs(survivors.s / (CAST(tmin.th AS DOUBLE) / 1000000007)
                 - exact.n_inter) / exact.n_inter, 4) AS rel_err
FROM survivors CROSS JOIN tmin CROSS JOIN exact
"""


@register("kmv_segment_overlap", oracle=_kmv_oracle())
def kmv_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fix for hll_user_segment_overlap's caveat: the same two user
    segments, intersected with a KMV/theta sketch instead of HLL
    inclusion-exclusion. Survivors of the kmv_a ⋈ kmv_b hash join below
    the common theta are a UNIFORM sample of the intersection, so the
    estimate |S|/θ degrades with √|S| — not with the union's scale.
    (Side with < k distinct values ⇒ its sketch is the full set and
    θ = 1: the estimate goes exact, which is why sf0.01 shows
    rel_err 0 and sf0.1 shows the genuine sketch path.)

    Scale: one distinct + per-side top-k rank (WindowGroupLimit prunes
    map-side), sketches are ≤ k rows each — the join is model-sized.
    Same deterministic hashed stream as the HLL twin, so the two
    queries are directly comparable in BENCH_DETAIL."""
    from pyspark.sql import Window

    from parcel_analytics_etl_notebook_spark.operators.dedup_fuzzy import (
        FP_MOD,
        poly_hash,
    )
    from parcel_analytics_etl_notebook_spark.operators.sketches import (
        HLL_SALT,
        KMV_K,
        kmv_sketch,
    )

    ev = table(spark, sf_dir, "events")
    h = poly_hash(F.concat(F.lit(HLL_SALT), F.col("user_id").cast("string")))
    g = ((h * h + F.lit(12345)) % F.lit(FP_MOD)).alias("gv")
    hashed = ev.select("user_id", g)
    a = hashed.filter(F.col("user_id") % 2 == 0).select(
        F.lit("a").alias("side"), "gv"
    )
    b = hashed.filter(F.col("user_id") % 3 == 0).select(
        F.lit("b").alias("side"), "gv"
    )
    dv = a.unionByName(b).distinct()
    nd = F.count(F.lit(1)).over(Window.partitionBy("side"))
    rn = F.row_number().over(Window.partitionBy("side").orderBy("gv"))
    kmv = (
        dv.withColumn("nd", nd)
        .withColumn("rn", rn)
        .filter(F.col("rn") <= KMV_K)
        .persist()  # <= 2k rows; referenced by theta AND both join
        # sides — without it the distinct+rank pipeline runs 4 times
    )
    theta = kmv.groupBy("side").agg(
        F.when(F.max("nd") < KMV_K, F.lit(FP_MOD))
        .otherwise(F.max("gv"))
        .alias("th")
    )
    tmin = theta.agg(F.min("th").alias("th")).withColumn("__k", F.lit(1))
    ka = kmv.filter(F.col("side") == "a").select("gv")
    kb = kmv.filter(F.col("side") == "b").select("gv")
    survivors = (
        ka.join(kb, "gv")
        .withColumn("__k", F.lit(1))
        .join(tmin, "__k")
        .filter(F.col("gv") < F.col("th"))
        .agg(F.count(F.lit(1)).alias("s"))
        .withColumn("__k", F.lit(1))
    )
    exact = ev.agg(
        F.countDistinct(
            F.when(
                (F.col("user_id") % 2 == 0) & (F.col("user_id") % 3 == 0),
                F.col("user_id"),
            )
        )
        .cast("bigint")
        .alias("exact_intersection")
    ).withColumn("__k", F.lit(1))
    est = F.col("s") / (F.col("th").cast("double") / F.lit(FP_MOD))
    return (
        survivors.join(tmin, "__k")
        .join(exact, "__k")
        .select(
            F.col("s").cast("bigint").alias("n_survivors"),
            F.round(est, 4).alias("est_intersection"),
            "exact_intersection",
            F.round(
                F.abs(est - F.col("exact_intersection"))
                / F.col("exact_intersection"),
                4,
            ).alias("rel_err"),
        )
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
# local fingerprinting algorithm) → near-dup candidate pairs
# --------------------------------------------------------------------------
#: winnow window: a fingerprint is selected from every run of
#: _WINNOW_W consecutive k-gram hashes (guarantee: any shared
#: substring of ≥ _WINNOW_W + k − 1 tokens yields ≥1 shared
#: fingerprint — the detection floor is a TUNABLE, not luck)
_WINNOW_W = 4
#: document-frequency cap for the fingerprint inverted index — tighter
#: than MAX_SHINGLE_DF because fingerprints are winnow-selected minima
#: (already ~1/_WINNOW_W density); corpus-wide boilerplate fingerprints
#: carry no pairing signal, same argument as drop_hot_shingles
_WINNOW_MAX_DF = 64


@register(
    "winnowing_fingerprint_pairs",
    oracle=f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS l FROM documents),
hh AS (SELECT doc_id, list_transform(l, tok -> {_SQL_POLY.format('tok')}) AS th FROM t),
shl AS (SELECT doc_id, list_transform(range(1, len(th)-1),
          i -> ((th[i]*1000003 + th[i+1]) % 1000000007 * 1000003 + th[i+2]) % 1000000007) AS sh
        FROM hh WHERE len(th) >= 3),
ex AS (SELECT doc_id, len(sh) AS n,
              unnest(range(1, len(sh)+1)) AS pos,
              unnest(sh) AS h
       FROM shl WHERE len(sh) > 0),
m AS (SELECT doc_id, n, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS f
      FROM ex),
fp AS (SELECT DISTINCT doc_id, f FROM m WHERE pos >= least({_WINNOW_W}, n)),
capped AS (SELECT doc_id, f FROM fp
           QUALIFY count(*) OVER (PARTITION BY f) <= {_WINNOW_MAX_DF})
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
FROM capped a JOIN capped b ON a.f = b.f AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY id_a, id_b
""",
)
def winnowing_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints → candidate near-dup pairs:
    hash every 3-token shingle (the cross-engine polynomial hash),
    slide a window of W=4 consecutive shingle hashes, keep each
    window's MINIMUM hash (the winnowing selection of Schleimer et
    al. 2003 — MOSS), and pair documents sharing ≥ 3 distinct
    fingerprints. Unlike MinHash (a global random projection of the
    whole document), winnowing is POSITION-LOCAL: a long-enough shared
    passage guarantees a shared fingerprint, which is why it is the
    standard detector for quotation/containment and template reuse.

    Scale shape: the sliding minimum never leaves the row — W = 4 is
    a constant, so each window min is ``least`` of 4 adjacent array
    elements inside a ``transform``, and distinct fingerprints come
    from ``array_distinct`` BEFORE the explode (the only shuffle-bound
    frame is the already-deduped (doc, fingerprint) index; the earlier
    explode→doc-partitioned-window form shuffled every shingle
    position on doc_id first). Short docs (< W shingles but ≥ 1)
    contribute their single full-array min. The fingerprint index is
    df-capped at _WINNOW_MAX_DF (64) before the self-join
    (drop_hot_shingles rationale), so candidate volume is Σ df² over
    kept fingerprints — bucketed, never all-pairs."""
    from parcel_analytics_etl_notebook_spark.functions.textfns import tokens
    from parcel_analytics_etl_notebook_spark.operators.dedup_fuzzy import (
        drop_hot_shingles,
        poly_hash,
        shingle_hashes_from_tokens,
    )

    docs = table(spark, sf_dir, "documents")
    th = docs.select(
        "doc_id",
        F.transform(tokens("text"), lambda t: poly_hash(t)).alias("th"),
    )
    sh = th.select(
        "doc_id", shingle_hashes_from_tokens(F.col("th"), 3).alias("sh")
    ).filter(F.size("sh") > 0)
    trailing = ", ".join(f"sh[i-{d}]" for d in range(1, _WINNOW_W))
    wins = F.expr(
        f"CASE WHEN size(sh) < {_WINNOW_W} THEN array(array_min(sh)) "
        f"ELSE transform(sequence({_WINNOW_W - 1}, size(sh)-1), "
        f"i -> least(sh[i], {trailing})) END"
    )
    # persist the fingerprint index: the tokenize→hash→shingle→winnow
    # pipeline above is the expensive part (pure per-row array math
    # over the full corpus text), and WITHOUT the cache it recomputes
    # up to 4× — under the df-cap count, and under BOTH sides of the
    # self-join. The index is (doc_id, int64) — a small fraction of
    # the text it derives from, the standard signature-persist shape
    # (minhash_jaccard_error rationale).
    fp = sh.select(
        "doc_id", F.explode(F.array_distinct(wins)).alias("f")
    ).persist()
    # persist the CAPPED index too: both self-join sides read it, so
    # the df-count aggregate + anti-join otherwise run once per side
    capped = drop_hot_shingles(
        fp, shingle_col="f", max_df=_WINNOW_MAX_DF
    ).persist()
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
        .filter(F.col("shared") >= 3)
        .orderBy("id_a", "id_b")
    )
