"""Round-9 LLM-pipeline additions (VERDICT r08 #2 and #5).

1. ``simhash64_near_dup_pairs`` — the 64-bit (4×16-bit-band) SimHash
   variant that the 16-bit path's band-bucket cap only approximates:
   wide bands make bucket occupancy n/65,536 instead of n/256, so the
   candidate join stays linear WITHOUT a cap ever dropping pairs in
   hot buckets. This is the corpus-scale production shape named in
   SCALING.md's round-8 diagnosis.

2. ``incremental_lsh_apply_delta`` — closes the incremental-dedup
   loop opened by ``incremental_lsh_near_dup`` (which emits the pair
   DELTA but nothing applied it): materializes the full
   ``pairs' = pairs ∪ delta`` timeline across TWO batches, proving the
   second batch runs against the UPDATED corpus and corpus-only pairs
   are untouched. Idempotency (re-applying a delta adds nothing) is
   pinned in tests/test_round9_ops.py.

Oracle-parity conventions as in plans/catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parcel_analytics_etl_notebook_spark.functions.textfns import tokens
from parcel_analytics_etl_notebook_spark.operators.dedup_fuzzy import (
    SIMHASH_MIXERS,
    drop_hot_shingles,
    lsh_banded,
    poly_hash,
    shingle_hashes_from_tokens,
    with_minhash,
    with_simhash_bands,
)
from parcel_analytics_etl_notebook_spark.plans.catalog import register, table
from parcel_analytics_etl_notebook_spark.plans.queries_llm import (
    MAX_LSH_BUCKET,
    MAX_SHINGLE_DF,
    _SQL_POLY,
    _SQL_TOKS,
)

#: same arrival convention as incremental_corpus_dedup /
#: incremental_lsh_near_dup: doc_id % 10 == 0 is batch A ("yesterday's
#: crawl", already applied), doc_id % 10 == 1 is batch B ("today's"),
#: everything else is the standing corpus.
_BATCH_MOD = 10


# --------------------------------------------------------------------------
# 64-bit SimHash near-dup pairs (4×16-bit bands — VERDICT r08 #2)
# --------------------------------------------------------------------------
def _simhash64_oracle() -> str:
    band_exprs = []
    for k, mix in enumerate(SIMHASH_MIXERS):
        band_exprs.append(
            f"CAST(list_sum(list_transform(range(0, 16), "
            f"j -> CASE WHEN list_sum(list_transform(hh, "
            f"x -> CASE WHEN (((x * {mix}) % 1000000007) >> j) & 1 = 1 "
            f"THEN 1 ELSE -1 END)) > 0 "
            f"THEN (1 << j) ELSE 0 END)) AS BIGINT) AS band_{k}"
        )
    bands_sql = ",\n           ".join(band_exprs)
    ham = " + ".join(
        f"bit_count(xor(fa.band_{k}, fb.band_{k}))" for k in range(4)
    )
    return f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS l FROM documents),
h AS (SELECT doc_id, list_transform(l, tok -> {_SQL_POLY.format('tok')}) AS hh FROM t),
f AS (
    SELECT doc_id,
           {bands_sql}
    FROM h
),
long AS (
    SELECT doc_id, band,
           CASE band WHEN 0 THEN band_0 WHEN 1 THEN band_1
                     WHEN 2 THEN band_2 ELSE band_3 END AS val
    FROM f CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands
),
capped AS (
    SELECT * FROM long
    QUALIFY count(*) OVER (PARTITION BY band, val) <= {MAX_LSH_BUCKET}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b, CAST({ham} AS BIGINT) AS hamming
FROM cand c
JOIN f fa ON fa.doc_id = c.id_a
JOIN f fb ON fb.doc_id = c.id_b
WHERE {ham} <= 3
ORDER BY c.id_a, c.id_b
"""


@register("simhash64_near_dup_pairs", oracle=_simhash64_oracle())
def simhash64_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at 64-bit SimHash hamming ≤ 3, banded 4×16 bits.

    The 16-bit path (``simhash_near_dup_pairs``) bands an 8-bit key —
    256 possible values — so band-bucket occupancy grows n/256 and the
    r08 10× run measured the uncapped join at 20.8× wall for 10× data;
    the MAX_LSH_BUCKET cap restored linearity but silently DROPS pairs
    once real buckets exceed the cap. Here each band is a 16-bit
    sub-SimHash over a per-band remix of the token-hash stream
    (``operators/dedup_fuzzy.with_simhash_bands``): 65,536 bucket
    values per band keeps occupancy ~n/65,536, so the same cap (kept,
    same discipline/constant, QUALIFY-restated in the oracle) is never
    the binding constraint — recall comes from pigeonhole (a pair with
    ≤ 3 of 64 bits flipped agrees on ≥ 1 of the 4 bands, so banding is
    EXACT for the hamming ≤ 3 predicate, not approximate).

    Recall vs the 16-bit path: band_0's mixer is 1, i.e. band_0 IS the
    16-bit fingerprint, so the comparison needs no re-run — the 16-bit
    metric saturates (distinct docs collide at hamming 0 in 16 bits;
    on this corpus its pair set is a strict SUPERSET built from false
    positives), while 64-bit hamming separates them; see SCALING.md
    round-9 for the measured counts at sf0.1 and 10×.

    Shape: one scan → one 64-sum hash aggregate (map-combined) → melt
    to (doc, band, val) → ONE self-join on the (band, val) bucket key →
    hamming verify. Uniform int keys, no skew; never an OR-join."""
    f = with_simhash_bands(table(spark, sf_dir, "documents")).persist()
    long = f.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"), F.col(f"band_{k}").alias("val")
                    )
                    for k in range(4)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "bv.band", "bv.val")
    hot = (
        long.groupBy("band", "val")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > MAX_LSH_BUCKET)
        .select("band", "val")
    )
    # persist the capped long index: both self-join sides read it, so
    # the melt + hot-bucket aggregate + anti-join otherwise run once
    # per side
    capped = long.join(hot, on=["band", "val"], how="left_anti").persist()
    a, b = capped.alias("a"), capped.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .dropDuplicates()
    )
    fa = f.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"band_{k}").alias(f"a{k}") for k in range(4)],
    )
    fb = f.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"band_{k}").alias(f"b{k}") for k in range(4)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"b{k}")))
        for k in range(4)
    ).cast("bigint")
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# Incremental LSH delta APPLICATION across two batches (VERDICT r08 #5)
# --------------------------------------------------------------------------
def _apply_delta_oracle() -> str:
    def qualify(pred: str) -> str:
        where = f"WHERE {pred}" if pred else ""
        return (
            f"SELECT * FROM banded0 {where} "
            f"QUALIFY count(*) OVER (PARTITION BY band, "
            f"array_to_string(bkey, '_')) <= {MAX_LSH_BUCKET}"
        )

    return f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS l FROM documents),
h AS (SELECT doc_id, list_transform(l, tok -> {_SQL_POLY.format('tok')}) AS hh FROM t),
s AS (SELECT doc_id,
             list_transform(range(1, len(hh)-1),
                 i -> ((hh[i]*1000003 + hh[i+1]) % 1000000007 * 1000003 + hh[i+2]) % 1000000007) AS sh
      FROM h),
sig AS (SELECT doc_id,
               list_transform(range(0, 16),
                   s -> list_min(list_transform(sh, x -> ((2*s+1)*x + s*7919) % 1000000007))) AS m
        FROM s),
banded0 AS (
    SELECT doc_id, band, list_slice(m, band*4 + 1, band*4 + 4) AS bkey
    FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands
),
b0 AS ({qualify(f"doc_id % {_BATCH_MOD} >= 2")}),
b1 AS ({qualify(f"doc_id % {_BATCH_MOD} <> 1")}),
b2 AS ({qualify("")}),
cand0 AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           'corpus' AS introduced_by
    FROM b0 a JOIN b0 b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
candA AS (
    SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                    greatest(a.doc_id, b.doc_id) AS id_b,
                    'batch0' AS introduced_by
    FROM b1 a JOIN b1 b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
    WHERE a.doc_id % {_BATCH_MOD} = 0
),
candB AS (
    SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                    greatest(a.doc_id, b.doc_id) AS id_b,
                    'batch1' AS introduced_by
    FROM b2 a JOIN b2 b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
    WHERE a.doc_id % {_BATCH_MOD} = 1
),
cand AS (SELECT * FROM cand0 UNION SELECT * FROM candA UNION SELECT * FROM candB),
sh0 AS (SELECT doc_id, unnest(list_distinct(sh)) AS shingle FROM s),
shc AS (SELECT * FROM sh0 QUALIFY count(*) OVER (PARTITION BY shingle) <= {MAX_SHINGLE_DF}),
sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
shared AS (
    SELECT c.id_a, c.id_b, c.introduced_by, count(*) AS shared
    FROM cand c JOIN shc a ON a.doc_id = c.id_a
                JOIN shc b ON b.doc_id = c.id_b AND b.shingle = a.shingle
    GROUP BY 1, 2, 3
)
SELECT sp.id_a, sp.id_b, sp.introduced_by,
       round(sp.shared / (sa.n + sb.n - sp.shared), 4) AS jaccard
FROM shared sp
JOIN sizes sa ON sp.id_a = sa.doc_id
JOIN sizes sb ON sp.id_b = sb.doc_id
WHERE sp.shared / (sa.n + sb.n - sp.shared) >= 0.2
ORDER BY sp.id_a, sp.id_b
"""


def _capped_populations(
    banded: DataFrame, preds: list
) -> list[DataFrame]:
    """Re-apply the MAX_LSH_BUCKET hot-bucket cap WITHIN each
    population: bucket occupancy is a property of the standing table
    at apply time, so each timeline step recounts it over its own
    population (a bucket under the cap at step 0 may exceed it once a
    batch lands).

    All populations derive from ONE (band, sig_band) occupancy window
    with one conditional count per predicate (VERDICT r12 next #3):
    the per-population shape — three groupBy aggregates + three
    anti-joins, each recomputing the banded-signature lineage from
    parquet (the minhash hash chain is the expensive part) — becomes a
    single Exchange every consumer reuses. Row r survives population k
    iff pred_k(r) and its bucket's pred_k count <= cap — exactly the
    old pop/anti-join semantics (pinned by test_capped_populations_
    match_per_population_antijoin). The window partitioning (band,
    sig_band) is also the self-join key downstream, so the join needs
    no further shuffle of these rows."""
    w = Window.partitionBy("band", "sig_band")
    counted = banded
    for i, pred in enumerate(preds):
        n = (
            F.count(F.when(pred, F.lit(1))).over(w)
            if pred is not None
            else F.count(F.lit(1)).over(w)
        )
        counted = counted.withColumn(f"__n{i}", n)
    drop = [f"__n{i}" for i in range(len(preds))]
    out = []
    for i, pred in enumerate(preds):
        keep = F.col(f"__n{i}") <= MAX_LSH_BUCKET
        if pred is not None:
            keep = pred & keep
        out.append(counted.filter(keep).drop(*drop))
    return out


@register("incremental_lsh_apply_delta", oracle=_apply_delta_oracle())
def incremental_lsh_apply_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental near-dup pair table AFTER two delta
    applications — the query that closes the loop
    ``incremental_lsh_near_dup`` opened (it emits a delta; this one
    executes the documented memo-update semantics
    ``pairs' = pairs ∪ delta`` and proves the steady state).

    Timeline (tags in ``introduced_by``):

    - ``corpus``  — pairs0: LSH self-join of the standing corpus
      (doc_id % 10 ∉ {0, 1}), the backfilled pair table.
    - ``batch0``  — deltaA: batch A (doc_id % 10 = 0) banded into the
      corpus buckets; candidates = batchA × (corpus ∪ batchA). Applied:
      pairs1 = pairs0 ∪ deltaA.
    - ``batch1``  — deltaB: batch B (doc_id % 10 = 1) against the
      UPDATED corpus (corpus ∪ batchA ∪ batchB) — the second batch
      genuinely sees batch A's docs in its bucket join, which is the
      property that makes the maintenance loop sound. Applied:
      pairs2 = pairs1 ∪ deltaB (this query's full output).

    The three tag sets are disjoint by construction (every deltaA pair
    touches a batch-A doc, which no pairs0 pair does; every deltaB
    pair touches a batch-B doc), so union IS application and
    re-applying any delta is a no-op — idempotency and corpus-pair
    invariance are pinned in tests/test_round9_ops.py. The hot-bucket
    cap is recounted per step over that step's standing population
    (bucket occupancy is a property of the table at apply time);
    verification Jaccard uses df-capped distinct shingle sets with the
    df taken over the final corpus — a fixed set definition, so a
    pair's jaccard is step-invariant and the timeline's union is
    well-defined.

    Scale shape: identical to ``incremental_lsh_near_dup`` per step —
    batch bands probe the standing bucket table (at 100 TB a pre-built
    bucketed table, bucket-pruned by the batch's keys; O(batch ×
    occupancy), never O(corpus)); the corpus self-join happens ONCE at
    backfill, exactly as pairs0 states. Verification joins are
    pair-grain over the shared shingle-set frame."""
    docs = table(spark, sf_dir, "documents")
    nparts = spark.sparkContext.defaultParallelism
    m = F.col("doc_id") % _BATCH_MOD

    sig = with_minhash(docs, num_hashes=16)
    banded = lsh_banded(sig, bands=4, sig_len=16, max_bucket=None)

    b0, b1, b2 = _capped_populations(banded, [m >= 2, m != 1, None])

    def self_pairs(pop: DataFrame, tag: str, batch_mod: int | None) -> DataFrame:
        a, b = pop.alias("a"), pop.alias("b")
        if batch_mod is None:
            cond = F.col("a.doc_id") < F.col("b.doc_id")
            ids = [
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            ]
            pre = a
        else:
            cond = F.col("a.doc_id") != F.col("b.doc_id")
            ids = [
                F.least("a.doc_id", "b.doc_id").alias("id_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
            ]
            pre = a.filter(F.col("a.doc_id") % _BATCH_MOD == batch_mod)
        return (
            pre.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig_band") == F.col("b.sig_band"))
                & cond,
            )
            .select(*ids, F.lit(tag).alias("introduced_by"))
            .dropDuplicates()
        )

    cand = (
        self_pairs(b0, "corpus", None)
        .unionByName(self_pairs(b1, "batch0", 0))
        .unionByName(self_pairs(b2, "batch1", 1))
    )

    # exact-Jaccard verification over df-capped distinct shingle sets
    # (df over the final corpus — see docstring), pair-grain
    tok_hashes = F.transform(tokens("text"), lambda t: poly_hash(t))
    th = docs.select("doc_id", tok_hashes.alias("__th")).repartition(nparts)
    sh = th.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingle_hashes_from_tokens(F.col("__th"), 3))
        ).alias("shingle"),
    )
    shc = drop_hot_shingles(sh, max_df=MAX_SHINGLE_DF)
    # NOT persisted (r12 measured): the two pair sides share the final
    # exchange via AQE ReusedExchange already; the tried persist only
    # added a barrier and jobs (see incremental_lsh_near_dup)
    sets = shc.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("sh_set"),
        F.count(F.lit(1)).alias("n"),
    )
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
        .select(
            "id_a",
            "id_b",
            "introduced_by",
            F.round(jac, 4).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# Banded hyperplane LSH embedding pairs (the 54.5x fix, round-9 scaling)
# --------------------------------------------------------------------------
#: 4 bands x 12 hyperplanes: bucket space 4096 per band (vs the single
#: 8-plane query's 256) and OR-over-bands recall. Plane j of band k is
#: the pinned LCG plane index k*12 + j, shared with the oracle.
_EMB_BANDS, _EMB_PLANES = 4, 12


def _emb_band_signs(k: int) -> list[list[int]]:
    from parcel_analytics_etl_notebook_spark.plans.queries_llm2 import (
        _LSH_DIM,
        _plane_sign,
    )

    return [
        [_plane_sign(k * _EMB_PLANES + j, d) for d in range(_LSH_DIM)]
        for j in range(_EMB_PLANES)
    ]


def _emb_band_col(vec_col: str, k: int):
    from parcel_analytics_etl_notebook_spark.functions.vectors import (
        signed_bits_sql,
    )

    return F.expr(signed_bits_sql(vec_col, _emb_band_signs(k)))


def _emb_band_sql(vec_col: str, k: int) -> str:
    from parcel_analytics_etl_notebook_spark.plans.queries_llm2 import (
        _LSH_DIM,
    )

    terms = []
    for j, signs in enumerate(_emb_band_signs(k)):
        lst = "[" + ", ".join(f"{s}.0" for s in signs) + "]"
        dot = (
            f"list_sum(list_transform(range(1, {_LSH_DIM + 1}), "
            f"d -> CAST({vec_col}[d] AS DOUBLE) * ({lst})[d]))"
        )
        terms.append(f"CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _emb_banded_oracle() -> str:
    from parcel_analytics_etl_notebook_spark.plans.queries_llm import (
        _SQL_COS,
    )

    bands = ",\n           ".join(
        f"{_emb_band_sql('embedding', k)} AS band_{k}"
        for k in range(_EMB_BANDS)
    )
    melt = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, {k} AS band, band_{k} AS bucket FROM bk"
        for k in range(_EMB_BANDS)
    )
    cos = _SQL_COS.format("x.embedding", "y.embedding")
    return f"""
WITH bk AS (
    SELECT vec_id, embedding,
           {bands}
    FROM embeddings
),
long AS (
    {melt}
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM long a JOIN long b
      ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b, round({cos}, 6) AS cosine
FROM cand c
JOIN embeddings x ON x.vec_id = c.id_a
JOIN embeddings y ON y.vec_id = c.id_b
WHERE round({cos}, 6) >= 0.4
ORDER BY c.id_a, c.id_b
"""


@register("embedding_lsh_banded_pairs", oracle=_emb_banded_oracle())
def embedding_lsh_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.4) via BANDED hyperplane
    LSH — the structural fix for the single-bucket query's measured
    54.5× wall at 10× data (SCALING.md round-9): 8 planes give a FIXED
    256-value bucket space, so occupancy grows n/256 and intra-bucket
    scoring n²/256 — quadratic in corpus size by construction, the
    embedding twin of the 8-bit SimHash band story. Here each of 4
    bands hashes 12 planes (4096 buckets per band, and the production
    move is simply MORE planes as the corpus grows — bucket space
    scales exponentially in planes while cost stays one pass per band),
    with OR-over-bands candidate union restoring the recall that a
    single wide bucket would lose. Candidates are scored ONCE per pair
    (distinct before the embedding join), exact cosine ≥ 0.4 verified
    on both engines.

    Shape: one linear bucketing pass (4×12 codegen'd ±1 dots), melt to
    (vec, band, bucket), ONE self-join on the (band, bucket) key,
    pair-grain cosine verification with per-side precomputed norms.
    Uniform int keys; never an OR-join."""
    from parcel_analytics_etl_notebook_spark.functions.vectors import (
        cosine_prenormed,
        norm_literal_sq,
    )
    from parcel_analytics_etl_notebook_spark.plans.queries_llm2 import (
        _LSH_DIM,
    )

    emb = table(spark, sf_dir, "embeddings")
    # persist the (tiny: one row per vector, 5 columns) fingerprint
    # frame: the 4x12-plane bucket expression is a ~3,000-term codegen
    # unit (~2.5s of janino compile per STAGE that re-derives it), and
    # without the barrier the self-join's two sides and the melt each
    # recompile and re-evaluate it — measured 13s -> ~4s at sf0.1
    bk = emb.select(
        "vec_id",
        *[
            _emb_band_col("embedding", k).alias(f"band_{k}")
            for k in range(_EMB_BANDS)
        ],
    ).persist()
    long = bk.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.col(f"band_{k}").alias("bucket"),
                    )
                    for k in range(_EMB_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("vec_id", "bv.band", "bv.bucket")
    a, b = long.alias("a"), long.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .dropDuplicates()
    )
    ea = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va")
    ).withColumn("__na", F.sqrt(norm_literal_sq("__va", _LSH_DIM)))
    eb = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb")
    ).withColumn("__nb", F.sqrt(norm_literal_sq("__vb", _LSH_DIM)))
    cos = F.round(
        cosine_prenormed("__va", "__vb", "__na", "__nb", _LSH_DIM), 6
    )
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.4)
        .select("id_a", "id_b", "cosine")
        .orderBy("id_a", "id_b")
    )
