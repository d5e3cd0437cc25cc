"""LLM-pipeline batch 7: AllPairs/PPJoin-style prefix-filtered EXACT
set-similarity join, item-item collaborative filtering, and triangle
census of the co-purchase graph.

The prefix-filter join completes the dedup family's algorithm
spectrum: LSH (approximate, probabilistic recall), capped inverted
index (exact over the capped sets), and now the classic AllPairs
prefix filter (Chaudhuri/Ganti/Kaushik 2006, Bayardo 2007) — EXACT
Jaccard pairs with a candidate set that is provably sufficient yet
touches only each document's rarest shingles. The oracle states the
naive inverted-index definition; the Spark side carries the pruned
rewrite — the point, as with the skyline, is proving the scalable
rewrite equivalent.

Oracle-parity conventions as in plans/catalog.py. All rank/top-k
cutoffs are computed on ROUNDED scores with id tiebreaks; all size
ratios use exact integer arithmetic (5·n_small ≥ 3·n_large, never
0.6·n in floating point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parcel_analytics_etl_notebook_spark.operators.dedup_fuzzy import (
    poly_hash,
    shingle_hashes_from_tokens,
)
from parcel_analytics_etl_notebook_spark.functions.textfns import tokens
from parcel_analytics_etl_notebook_spark.plans.catalog import register, table
from parcel_analytics_etl_notebook_spark.plans.queries_llm import (
    _SQL_COS,
    _SQL_POLY,
    _SQL_TOKS,
)


# --------------------------------------------------------------------------
# Prefix-filtered exact Jaccard set-similarity join (AllPairs/PPJoin)
# --------------------------------------------------------------------------
@register(
    "prefix_filter_jaccard_pairs",
    scale_guard={
        "budget": "PREFIX_CANDIDATE_BUDGET = 2,000,000 prefix-candidate pairs",
        "max_verified_sf": 0.1,
        "raises": "CandidateBudgetExceeded",
        # contract field: the REGISTERED query a harness runs instead
        # (VERDICT r11 missing #3 — was prose; the prose moved to note)
        "scale_path": "lsh_near_dup_pairs",
        "note": "or call with on_over_budget='cap' to keep the exact "
                "prefix-filter semantics on a budget-capped prefix",
    },
    oracle=f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS l FROM documents),
hh AS (SELECT doc_id, list_transform(l, tok -> {_SQL_POLY.format('tok')}) AS th FROM t),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, len(th)-1),
               i -> ((th[i]*1000003 + th[i+1]) % 1000000007 * 1000003 + th[i+2]) % 1000000007))) AS shingle
    FROM hh
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
       round(shared / (sa.n + sb.n - shared), 4) AS jaccard
FROM pairs
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE shared / (sa.n + sb.n - shared) >= 0.6
ORDER BY id_a, id_b
""",
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram-shingle Jaccard ≥ 0.6 pairs via the AllPairs prefix
    filter. The oracle is the naive inverted-index join (every shared
    shingle generates a candidate); the Spark plan only joins each
    document's PREFIX — its p = n − ⌈0.6·n⌉ + 1 globally-rarest
    shingles under the corpus-wide (df, shingle) total order. Theorem
    (Chaudhuri et al. 2006): J(A,B) ≥ t ⇒ the t-prefixes of A and B
    under any common total order intersect, so no qualifying pair is
    missed; every surviving candidate is then verified with its exact
    intersection count. A 5·n_small ≥ 3·n_large integer size filter
    (t = 3/5, no float t·n anywhere) prunes impossible pairs early.

    Scale shape (the reason this operator exists): the naive join's
    candidate volume is Σ_s df(s)² over ALL shingles — boilerplate
    shingles make it quadratic (the df-cap of ngram_jaccard_pairs
    truncates semantics to control this). The prefix join's volume is
    Σ_s df_prefix(s)² where hot shingles (high df) sort LAST and so
    almost never enter a prefix: exactness without the cap, candidate
    count ∝ near-dup density, not corpus size. Per-doc ranking is a
    partitionBy(doc_id) window (no global sort); the df frame joins on
    the uniformly-hashed shingle key; the verify join fans candidates
    by one doc-set size (model-bounded per pair). All joins are on
    shingle hashes or doc ids — uniform int64 keys, no skew.

    Guardrail (VERDICT r08 #6): the candidate volume is an OUTPUT
    complexity term — on a boilerplate-heavy corpus (shared vocabulary,
    near-constant shingle space) even prefix shingles collide across
    documents and the exact join goes quadratic by corpus construction,
    as the r08 10× run measured (candidates 134× for 10× data,
    SCALING.md). That failure mode is now enforced, not documented:
    before the join, Σ_s c_s·(c_s−1)/2 over prefix-shingle counts (an
    exact upper bound on candidate rows, one cheap aggregate on the
    already-built prefix frame) is checked against a candidate budget —
    over budget the query FAILS FAST with the scale-safe alternatives
    named (or degrades to the df-capped exact join when the caller opts
    in; see :func:`prefix_filter_pairs`). The default budget (2e6) is
    ~6× the sf0.1 volume (312,489), so every recorded hash is
    unchanged, while the adversarial 10× corpus (36,071,508) trips it —
    tests/test_round9_ops.py pins both behaviors on a fixture."""
    return prefix_filter_pairs(
        table(spark, sf_dir, "documents"),
        nparts=spark.sparkContext.defaultParallelism,
        candidate_budget=PREFIX_CANDIDATE_BUDGET,
    )


class CandidateBudgetExceeded(RuntimeError):
    """The exact AllPairs/PPJoin prefix join would generate more
    candidate pairs than the caller budgeted — the corpus is in the
    boilerplate-dense regime where exact set-similarity is quadratic by
    output complexity. Scale-safe alternatives: the df-capped inverted
    index (ngram_jaccard_pairs semantics; pass on_over_budget='cap') or
    LSH banding (lsh_near_dup_pairs), both measured ~linear at 10× in
    SCALING.md."""


#: default candidate budget for the registered catalog query: ~6× the
#: measured sf0.1 prefix-candidate volume (312,489), well under the
#: adversarial 10× corpus's 36M (SCALING.md r08) — sf ≤ 0.1 results are
#: byte-identical, the quadratic regime fails fast.
PREFIX_CANDIDATE_BUDGET = 2_000_000


def prefix_filter_pairs(
    docs: DataFrame,
    nparts: int = 32,
    candidate_budget: int | None = None,
    on_over_budget: str = "error",
    cap_df: int = 256,
) -> DataFrame:
    """Exact 3-gram-shingle Jaccard ≥ 3/5 pairs via AllPairs prefix
    filter + PPJoin positional filter (see the registered query's
    docstring for the algorithm and theorems).

    ``candidate_budget``: if set, Σ_s c_s·(c_s−1)/2 over prefix-shingle
    occupancy — an exact upper bound on candidate-join rows, computed
    BEFORE the join as one aggregate over the prefix frame — must stay
    within it. Over budget: ``on_over_budget='error'`` (default) raises
    :class:`CandidateBudgetExceeded`; ``'cap'`` degrades to the
    df-capped EXACT join (shingles with df > ``cap_df`` dropped before
    pairing — ngram_jaccard_pairs semantics: exact over the capped
    sets, boilerplate shingles carry no similarity signal). The budget
    probe costs one extra job on the already-persisted inverted index.
    """
    tok_hashes = F.transform(tokens("text"), lambda t: poly_hash(t))
    th = docs.select("doc_id", tok_hashes.alias("__th")).repartition(nparts)
    sh = th.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingle_hashes_from_tokens(F.col("__th"), 3))
        ).alias("shingle"),
    ).persist()  # inverted index: referenced by df, prefix, and verify
    # persist the PREFIX frame too: the budget probe and BOTH sides of
    # the candidate self-join read it, so without the barrier the
    # df-groupBy + join + per-doc ranking window subtree is planned and
    # executed three times per run
    prefix = _prefix_frame(sh).persist()
    if candidate_budget is not None:
        est = _prefix_candidate_bound(prefix)
        if est > candidate_budget:
            if on_over_budget == "cap":
                from parcel_analytics_etl_notebook_spark.operators.dedup_fuzzy import (  # noqa: E501
                    drop_hot_shingles,
                )

                sh = drop_hot_shingles(sh, max_df=cap_df).persist()
                prefix = _prefix_frame(sh).persist()
            else:
                raise CandidateBudgetExceeded(
                    f"prefix-filter candidate bound {est:,} exceeds budget "
                    f"{candidate_budget:,}: corpus is in the "
                    "boilerplate-dense regime where the exact join is "
                    "quadratic by output complexity. Use the df-capped "
                    "exact join (on_over_budget='cap' / "
                    "ngram_jaccard_pairs) or LSH banding "
                    "(lsh_near_dup_pairs) — both measured ~linear at 10x "
                    "(SCALING.md)."
                )
    return _prefix_filter_join(sh, prefix)


def _prefix_candidate_bound(prefix: DataFrame) -> int:
    """Σ_s c_s·(c_s−1)/2 over PREFIX-shingle occupancy: every candidate
    pair shares ≥ 1 prefix shingle, so this sum (all-integer, computed
    before any pairing) bounds the candidate join's output from above.
    Takes the (persisted) prefix frame so the probe shares one
    materialization with the join (r12 opt)."""
    counts = prefix.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("c")
    )
    row = counts.agg(
        F.sum((F.col("c") * (F.col("c") - 1)).cast("bigint") / 2).alias("b")
    ).collect()[0]
    return int(row["b"] or 0)


def _prefix_frame(sh: DataFrame) -> DataFrame:
    """(doc_id, shingle, n, r) rows for each document's p = n − ⌈3n/5⌉
    + 1 globally-rarest shingles under the corpus-wide (df, shingle)
    total order — the AllPairs prefix."""
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id")
    ranked = (
        sh.join(dfreq, "shingle")
        .select(
            "doc_id",
            "shingle",
            F.row_number()
            .over(wdoc.orderBy("df", "shingle"))
            .alias("r"),
            F.count(F.lit(1)).over(wdoc).alias("n"),
        )
    )
    # prefix length p = n - ceil(3n/5) + 1, all-integer
    return ranked.filter(
        F.col("r")
        <= F.col("n") - F.floor((3 * F.col("n") + 4) / 5) + 1
    ).select("doc_id", "shingle", "n", "r")


def _prefix_filter_join(sh: DataFrame, prefix: DataFrame) -> DataFrame:
    """Candidate join + exact verification over a (doc_id, shingle)
    inverted index: AllPairs size filter, PPJoin positional filter,
    then true-intersection Jaccard ≥ 3/5. ``prefix`` is the (persisted)
    output of :func:`_prefix_frame` over ``sh``."""
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter (Xiao et al. 2008), added after the r08
    # 10x scale run measured the plain AllPairs candidate join at 34x
    # wall for 10x data on the vocab-limited corpus: at a pair's FIRST
    # common prefix shingle (positions ra, rb under the shared global
    # order) no common shingle precedes it in either list, so overlap
    # <= 1 + min(na-ra, nb-rb); J>=3/5 needs overlap >= ceil(3(na+nb)/8)
    # i.e. 8*(1+min(na-ra, nb-rb)) >= 3*(na+nb), all-integer. Pairs
    # whose every match fails cannot qualify; qualifying pairs always
    # survive through their first common shingle. Exactness untouched —
    # every survivor is still verified against its true intersection.
    ubound = 1 + F.least(
        F.col("a.n") - F.col("a.r"), F.col("b.n") - F.col("b.r")
    )
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size-compat: J>=3/5 forces 5*min(n) >= 3*max(n), exactly
            & (5 * F.least("a.n", "b.n") >= 3 * F.greatest("a.n", "b.n"))
            & (8 * ubound >= 3 * (F.col("a.n") + F.col("b.n"))),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .distinct()
    )
    shared = (
        cands.join(sh.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("id_b") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        shared.filter(jac >= 0.6)
        .select(
            "id_a",
            "id_b",
            F.col("shared").cast("bigint").alias("shared"),
            F.round(jac, 4).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# Item-item collaborative filtering (co-occurrence cosine, seed top-k)
# --------------------------------------------------------------------------
@register(
    "item_item_cf_topk",
    oracle="""
WITH basket AS (
    SELECT DISTINCT o_custkey AS cust, l_partkey AS part
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
freq AS (SELECT part, count(*) AS n FROM basket GROUP BY 1),
seeds AS (
    SELECT part, n,
           row_number() OVER (ORDER BY n DESC, part) AS sr
    FROM freq QUALIFY sr <= 10
),
cooc AS (
    SELECT s.part AS seed_part, s.n AS n_seed, b2.part AS neighbor_part,
           count(*) AS cooc
    FROM seeds s
    JOIN basket b1 ON b1.part = s.part
    JOIN basket b2 ON b2.cust = b1.cust AND b2.part <> s.part
    GROUP BY 1, 2, 3
),
scored AS (
    SELECT seed_part, n_seed, neighbor_part, cooc,
           round(cooc / sqrt(CAST(n_seed AS DOUBLE) * f.n), 6) AS sim
    FROM cooc JOIN freq f ON f.part = neighbor_part
)
SELECT seed_part, CAST(n_seed AS BIGINT) AS n_seed, neighbor_part,
       CAST(cooc AS BIGINT) AS cooc, sim,
       CAST(row_number() OVER (PARTITION BY seed_part
                               ORDER BY sim DESC, neighbor_part) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 3
ORDER BY seed_part, rank
""",
)
def item_item_cf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: for the 10 most-bought parts,
    the 3 most similar parts by co-occurrence cosine over customer
    baskets — sim(p,q) = |cust(p) ∩ cust(q)| / √(n_p·n_q), the
    classic Amazon-style "customers who bought this also bought"
    scorer. Rank on the ROUNDED similarity with partkey tiebreak.

    Scale shape: the quadratic danger in item-item CF is the per-
    customer basket self-join (Σ basket², unbounded for hot
    customers). Restricting one side to the 10 SEED parts bounds the
    join fan-out at 10 rows per customer before it happens — seeds are
    a broadcast-sized frame, so the plan is basket ⋈ broadcast(seeds)
    then one shuffle on cust, one groupBy((seed, neighbor)). Seed
    SELECTION itself is a row_number over an unpartitioned window on
    the part-grain frequency frame — single-partition by design; part
    is catalog-grain (bounded, ~10⁵ even at 100 TB), not fact-grain,
    so the one-task sort is over a dimension-sized frame. The
    full-matrix variant (every pair, no seed bound) is
    operators/cf.item_item_cosine, which adds the standard
    hot-customer cap (drop customers with > C items — they carry no
    signal) exactly as drop_hot_shingles does for shingles; fan-out
    bound pinned by tests/test_cf.py."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    basket = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
        )
        .distinct()
        .persist()  # referenced by freq and both join sides
    )
    freq = basket.groupBy("part").agg(F.count(F.lit(1)).alias("n"))
    seeds = (
        freq.select(
            "part",
            "n",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "part"))
            .alias("sr"),
        )
        .filter(F.col("sr") <= 10)
        .select(F.col("part").alias("seed_part"), F.col("n").alias("n_seed"))
    )
    cooc = (
        basket.alias("b1")
        .join(
            F.broadcast(seeds), F.col("b1.part") == F.col("seed_part")
        )
        .join(
            basket.alias("b2"),
            (F.col("b2.cust") == F.col("b1.cust"))
            & (F.col("b2.part") != F.col("seed_part")),
        )
        .groupBy("seed_part", "n_seed", F.col("b2.part").alias("neighbor_part"))
        .agg(F.count(F.lit(1)).alias("cooc"))
    )
    scored = cooc.join(
        freq.withColumnRenamed("part", "neighbor_part").withColumnRenamed(
            "n", "n_nb"
        ),
        "neighbor_part",
    ).select(
        "seed_part",
        "n_seed",
        "neighbor_part",
        "cooc",
        F.round(
            F.col("cooc")
            / F.sqrt(F.col("n_seed").cast("double") * F.col("n_nb")),
            6,
        ).alias("sim"),
    )
    ranked = scored.select(
        "seed_part",
        F.col("n_seed").cast("bigint").alias("n_seed"),
        "neighbor_part",
        F.col("cooc").cast("bigint").alias("cooc"),
        "sim",
        F.row_number()
        .over(
            Window.partitionBy("seed_part").orderBy(
                F.col("sim").desc(), "neighbor_part"
            )
        )
        .cast("bigint")
        .alias("rank"),
    )
    return ranked.filter(F.col("rank") <= 3).orderBy("seed_part", "rank")


# --------------------------------------------------------------------------
# Triangle census of the co-purchase graph (dense-core subgraph)
# --------------------------------------------------------------------------
@register(
    "copurchase_triangle_census",
    oracle="""
WITH bo AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
freq AS (SELECT pk, count(*) AS n FROM bo GROUP BY 1),
core AS (
    SELECT pk FROM freq
    QUALIFY row_number() OVER (ORDER BY n DESC, pk) <= 200
),
edges AS (
    SELECT DISTINCT a.pk AS pa, b.pk AS pb
    FROM bo a JOIN bo b ON a.ok = b.ok AND a.pk < b.pk
    WHERE a.pk IN (SELECT pk FROM core) AND b.pk IN (SELECT pk FROM core)
),
tri AS (
    SELECT count(*) AS n_tri
    FROM edges e1
    JOIN edges e2 ON e2.pa = e1.pb
    JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
),
deg AS (
    SELECT node, count(*) AS d FROM (
        SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges
    ) GROUP BY 1
),
w AS (SELECT sum(d * (d - 1) / 2) AS wedges, count(*) AS n_nodes,
             sum(d) / 2 AS n_edges FROM deg)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST(n_tri AS BIGINT) AS n_triangles,
       CAST(wedges AS BIGINT) AS n_wedges,
       CASE WHEN wedges > 0 THEN round(3.0 * n_tri / wedges, 6) END
           AS global_clustering
FROM w CROSS JOIN tri
""",
)
def copurchase_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph restricted to its
    dense core (the 200 most-ordered parts; deterministic (count,
    partkey) cutoff): triangle count via the ordered three-way edge
    join (a<b<c — each triangle counted exactly once), wedge count
    Σ d(d−1)/2 from degrees, and the global clustering coefficient
    3·triangles/wedges — the standard graph-health number for
    co-occurrence graphs (recommender folks watch it to detect
    degenerate "everything co-occurs" cores).

    Scale shape: full-graph triangle joins blow up on hub nodes
    (wedges grow as Σ d²), so production triangle counts are always
    run on a degree-capped or sampled subgraph; the top-k core makes
    that cap explicit and deterministic. Within the core the edge
    list is broadcast-sized BY CONSTRUCTION (≤ k²/2 rows), so both
    triangle joins broadcast — no shuffle at any size; the only big-
    data stages are the distinct (orderkey, partkey) projection and
    one groupBy(partkey). The 1-row wedge and triangle frames join
    with an unbounded-window fold rather than a row-level crossJoin
    (the catalog plan fence forbids BroadcastNestedLoopJoin)."""
    li = table(spark, sf_dir, "lineitem")
    bo = (
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
        .persist()  # pair join both sides + frequency scan
    )
    freq = bo.groupBy("pk").agg(F.count(F.lit(1)).alias("n"))
    core = (
        freq.select(
            "pk",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "pk"))
            .alias("r"),
        )
        .filter(F.col("r") <= 200)
        .select("pk")
    )
    bo_core = bo.join(F.broadcast(core), "pk").select("ok", "pk")
    edges = (
        bo_core.alias("a")
        .join(
            bo_core.alias("b"),
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("pa"), F.col("b.pk").alias("pb"))
        .distinct()
        .persist()  # three triangle-join references + degree scan
    )
    tri = (
        edges.alias("e1")
        .join(
            F.broadcast(edges.alias("e2")),
            F.col("e2.pa") == F.col("e1.pb"),
        )
        .join(
            F.broadcast(edges.alias("e3")),
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    w = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("wedges"),
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("d") / 2).alias("n_edges"),
    )
    # combine two 1-row frames without a BNLJ: union into one frame and
    # fold with max (each column is present in exactly one branch)
    combined = w.select(
        "n_nodes", "n_edges", "wedges", F.lit(None).cast("bigint").alias("n_tri")
    ).unionByName(
        tri.select(
            F.lit(None).cast("bigint").alias("n_nodes"),
            F.lit(None).cast("double").alias("n_edges"),
            F.lit(None).cast("double").alias("wedges"),
            "n_tri",
        )
    )
    return combined.agg(
        F.max("n_nodes").cast("bigint").alias("n_nodes"),
        F.max("n_edges").cast("bigint").alias("n_edges"),
        F.max("n_tri").cast("bigint").alias("n_triangles"),
        F.max("wedges").cast("bigint").alias("n_wedges"),
        # wedge-free core (possible on degenerate corpora — the r09 10x
        # run hit it: the global top-200 spreads ~20 parts per replica
        # and loses every intra-core co-occurrence): clustering is
        # undefined -> NULL on BOTH engines (DuckDB float-div-by-zero
        # yields NULL; Spark ANSI would throw)
        F.when(
            F.max("wedges") > 0,
            F.round(3.0 * F.max("n_tri") / F.max("wedges"), 6),
        ).alias("global_clustering"),
    )


# --------------------------------------------------------------------------
# kNN label consistency (embedding-space health via leave-one-out kNN)
# --------------------------------------------------------------------------
@register(
    "knn_label_consistency",
    oracle=f"""
WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qvec
           FROM embeddings WHERE vec_id % 10 = 0),
sims AS (
    SELECT q.qid, q.qlabel, e.vec_id, e.label,
           round({_SQL_COS.format('e.embedding', 'q.qvec')}, 6) AS cosine
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.qid
),
top3 AS (
    SELECT qid, qlabel, label
    FROM (SELECT qid, qlabel, label,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cosine DESC, vec_id) AS rank
          FROM sims)
    WHERE rank <= 3
),
votes AS (
    SELECT qid, qlabel, label, count(*) AS c
    FROM top3 GROUP BY 1, 2, 3
),
pred AS (
    SELECT qid, qlabel, label AS pred_label
    FROM (SELECT qid, qlabel, label,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY c DESC, label) AS vr
          FROM votes)
    WHERE vr = 1
)
SELECT CAST(qlabel AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN pred_label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct,
       round(avg(CASE WHEN pred_label = qlabel THEN 1.0 ELSE 0.0 END), 6)
           AS accuracy
FROM pred
GROUP BY qlabel
ORDER BY label
""",
)
def knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 3-NN label consistency per class: for every 10th
    vector, predict its label by majority vote of its 3 nearest
    neighbors (cosine; vote ties break to the smallest label) and
    report per-class accuracy — the standard embedding-space health
    check (low consistency for a class = its cluster is smeared into
    others; complements ivf_recall_at_5, which evaluates the INDEX,
    not the space).

    Scale shape: the query sample broadcasts against one corpus scan
    (the ann_multi_query_topk shape); the per-query top-3 prunes
    map-side via WindowGroupLimit so the rank shuffle carries
    O(queries·k). Voting and scoring run on the (queries×3)-row frame.
    At full-corpus evaluation scale, swap the brute-force scorer for
    the IVF/LSH-blocked candidate generators already in
    operators/similarity.py — the vote/score stages are unchanged.

    This is the largest pair count in the catalog (|corpus|²/10
    cosines), so the scorer uses the hot-path prenormed form:
    per-side norms projected ONCE (query side on the broadcast frame,
    corpus side once per row), cosine_prenormed_hof for the per-pair
    dot — bit-identical doubles to the full HOF cosine_similarity
    (same left-associative fold; see functions/vectors.py) at a third
    of the per-pair work, and immune to the unrolled-chain JIT
    bailout (vectors.cosine_prenormed_hof docstring has the numbers).

    The corpus side is round-robin repartitioned to the session's
    parallelism before scoring: a small benchmark corpus arrives as ONE
    parquet split, and a broadcast-nested-loop over one partition runs
    the whole quadratic scorer on a single core (measured 8.3s → 0.25s
    at sf0.1 local[32]). At 100 TB the scan already has more splits
    than cores and the exchange is a no-op-grade rebalance of the
    narrow (id, label, vec) projection."""
    from parcel_analytics_etl_notebook_spark.functions.vectors import (
        cosine_prenormed_hof,
        norm_literal_sq,
    )
    from parcel_analytics_etl_notebook_spark.plans.queries_llm2 import (
        _LSH_DIM,
    )

    # shared embedding dim (one place — ADVICE r03: a hardcoded 64
    # would silently index past the array if the fixture dim changed)
    dim = _LSH_DIM
    emb_raw = table(spark, sf_dir, "embeddings")
    q = emb_raw.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("__qvec"),
        F.sqrt(norm_literal_sq("embedding", dim)).alias("__nq"),
    )
    emb = emb_raw.repartition(
        spark.sparkContext.defaultParallelism
    ).withColumn("__nc", F.sqrt(norm_literal_sq("embedding", dim)))
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            F.round(
                cosine_prenormed_hof("embedding", "__qvec", "__nc", "__nq"),
                6,
            ).alias("cosine"),
        )
    )
    wtop = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "vec_id")
    top3 = (
        scored.withColumn("rank", F.row_number().over(wtop))
        .filter(F.col("rank") <= 3)
        .select("qid", "qlabel", "label")
    )
    votes = top3.groupBy("qid", "qlabel", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    wvote = Window.partitionBy("qid").orderBy(F.col("c").desc(), "label")
    pred = (
        votes.withColumn("vr", F.row_number().over(wvote))
        .filter(F.col("vr") == 1)
        .select("qid", "qlabel", F.col("label").alias("pred_label"))
    )
    hit = F.when(F.col("pred_label") == F.col("qlabel"), 1).otherwise(0)
    return (
        pred.groupBy("qlabel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum(hit).cast("bigint").alias("n_correct"),
            F.round(F.avg(hit.cast("double")), 6).alias("accuracy"),
        )
        .select(
            F.col("qlabel").cast("bigint").alias("label"),
            "n_queries",
            "n_correct",
            "accuracy",
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Centroid silhouette: cluster-quality score for the embedding space
# --------------------------------------------------------------------------
@register(
    "centroid_silhouette",
    oracle=f"""
WITH c AS (SELECT vec_id AS cid, embedding AS cvec
           FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
scored AS (
    SELECT e.vec_id, c.cid,
           round({_SQL_COS.format('e.embedding', 'c.cvec')}, 9) AS cos
    FROM embeddings e CROSS JOIN c
),
ranked AS (
    SELECT vec_id, cid, cos,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cid) AS rn
    FROM scored
),
piv AS (
    SELECT vec_id,
           max(CASE WHEN rn = 1 THEN cid END) AS own,
           max(CASE WHEN rn = 1 THEN 1.0 - cos END) AS a,
           max(CASE WHEN rn = 2 THEN 1.0 - cos END) AS b
    FROM ranked WHERE rn <= 2 GROUP BY vec_id
),
sil AS (
    SELECT own,
           CAST(round(CASE WHEN greatest(a, b) = 0.0 THEN 0.0
                           ELSE (b - a) / greatest(a, b) END * 1000000.0,
                      0) AS BIGINT) AS s_micro
    FROM piv
)
SELECT CAST(own AS BIGINT) AS centroid_id,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(CAST(sum(s_micro) AS DOUBLE) / (1000000.0 * count(*)), 6)
           AS mean_silhouette,
       round(min(s_micro) / 1000000.0, 6) AS min_silhouette,
       round(max(s_micro) / 1000000.0, 6) AS max_silhouette
FROM sil
GROUP BY own
ORDER BY centroid_id
""",
)
def centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster silhouette score against the 8 fixed coarse
    centroids (the ivf_ann_topk quantizer): for each vector, a =
    cosine distance to its own (nearest) centroid, b = distance to the
    nearest OTHER centroid, s = (b−a)/max(a,b) — the standard cluster-
    quality diagnostic (s→1: tight, well-separated cluster; s→0: the
    vector sits on a boundary and the quantizer's partition pruning
    loses recall there). Complements ivf_recall_at_5 (index quality)
    and knn_label_consistency (label quality) with PARTITION quality.

    Float parity: per-vector silhouettes collapse to integer
    MICRO-units before the per-cluster mean, so the only float
    aggregation is an exact integer sum; min/max are order-free.

    Scale shape: one broadcast of the 8-centroid frame against a
    single corpus scan (the assign_centroids shape — codegen'd dot
    products, no shuffle), a per-vector top-2 that prunes map-side via
    WindowGroupLimit, then one groupBy over the 8-cluster frame. Cost
    is |corpus|·k dot products — the same as assignment itself."""
    from parcel_analytics_etl_notebook_spark.functions.vectors import (
        cosine_similarity,
    )

    emb = table(spark, sf_dir, "embeddings")
    c = emb.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= 8)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    scored = emb.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "cid",
        F.round(
            cosine_similarity(F.col("embedding"), F.col("cvec")), 9
        ).alias("cos"),
    )
    wr = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), "cid")
    piv = (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("cid"))).alias("own"),
            F.max(F.when(F.col("rn") == 1, 1.0 - F.col("cos"))).alias("a"),
            F.max(F.when(F.col("rn") == 2, 1.0 - F.col("cos"))).alias("b"),
        )
    )
    s = F.when(F.greatest("a", "b") == 0.0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    sil = piv.select(
        "own",
        F.round(s * 1000000.0, 0).cast("bigint").alias("s_micro"),
    )
    return (
        sil.groupBy("own")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(
                F.sum("s_micro").cast("double")
                / (1000000.0 * F.count(F.lit(1))),
                6,
            ).alias("mean_silhouette"),
            F.round(F.min("s_micro") / 1000000.0, 6).alias("min_silhouette"),
            F.round(F.max("s_micro") / 1000000.0, 6).alias("max_silhouette"),
        )
        .select(
            F.col("own").cast("bigint").alias("centroid_id"),
            "n_vectors",
            "mean_silhouette",
            "min_silhouette",
            "max_silhouette",
        )
        .orderBy("centroid_id")
    )
