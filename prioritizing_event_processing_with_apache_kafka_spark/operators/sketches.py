"""Mergeable-sketch aggregations (Apache DataSketches via Spark 4 SQL).

The 100 TB pattern these operators encode: build a small fixed-size
sketch per cell (partition / hour / source), persist or shuffle the
*sketches*, and answer rollup questions by merging sketches — never by
rescanning rows. A distinct-count over any cell combination, a set
overlap between cohorts, or a quantile over a re-sliced population
then costs KBs per cell instead of a second pass over the data.

Everything here is a native JVM aggregate (``hll_sketch_agg``,
``theta_sketch_agg``, ``kll_sketch_agg_double`` and their merge
twins) — map-side-combinable, no UDFs, no driver round-trips.

Estimates are approximate by design, so these operators cannot be
DuckDB-hash-oracled; instead each query emits the exact answer
alongside the estimate (computed in the same plan) plus a relative
error column, making every row self-auditing — the same contract as
the ANN operators' in-query ``recall_vs_exact``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bloom_build",
    "bloom_might_contain",
    "cms_topk_audit",
    "exact_group_mad",
    "exact_group_percentiles",
    "hll_distinct_rollup",
    "hll_sliding_distinct",
    "kll_value_quantiles",
    "percentile_bridge",
    "theta_set_overlap",
]


def hll_distinct_rollup(
    df: DataFrame,
    *,
    key_col: str,
    group_col: str,
    cell_col: str,
    lgk: int = 14,
) -> DataFrame:
    """Two-level mergeable distinct count: one HLL sketch per
    (group, cell), merged per group with ``hll_union_agg``.

    At scale the cell sketches are the materialization point (e.g. one
    per bucket × hour written with the hourly rollup); any coarser
    distinct — per bucket, per day, global — is a sketch merge, never a
    re-aggregation of raw rows. Emits the exact per-group distinct from
    the same input alongside the estimate (``rel_error_pct``), so the
    operator audits itself.
    """
    cells = df.groupBy(group_col, cell_col).agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(lgk)).alias("__sk"),
    )
    merged = cells.groupBy(group_col).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("__sk"))).alias("__est"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    exact = df.groupBy(group_col).agg(
        F.countDistinct(key_col).alias("exact_distinct")
    )
    return (
        merged.join(exact, group_col)
        .select(
            group_col,
            "n_cells",
            F.round("__est").cast("long").alias("est_distinct"),
            "exact_distinct",
            # greatest(exact, 1): a group whose keys are all NULL has
            # exact_distinct 0 (and a 0-estimate sketch) — plain
            # division would abort the job under ANSI; the clamp keeps
            # the audit meaningful (|est| percent) instead of blind
            F.round(
                (F.col("__est") - F.col("exact_distinct"))
                / F.greatest(F.col("exact_distinct"), F.lit(1))
                * 100,
                2,
            ).alias("rel_error_pct"),
        )
    )


def theta_set_overlap(
    df: DataFrame,
    *,
    key_col: str,
    set_col: str,
    left_value: str,
    right_value: str,
) -> DataFrame:
    """Set algebra on Theta sketches: estimate |A∩B|, |A∪B| and |A\\B|
    between the key-sets of two populations (``set_col == left_value``
    vs ``== right_value``) without materializing either set.

    Unlike HLL, Theta sketches support intersection/difference — the
    sketch-side answer to "how many users did X but never Y". Each
    side's sketch is one map-side-combinable aggregate over its
    filtered rows; the set operations run on two KB-sized sketch
    values. Exact counts from the same input ride along for the audit.

    An empty population yields a NULL sketch from ``theta_sketch_agg``
    (and would null/poison the set ops), so every estimate treats a
    NULL sketch as the empty set: ∩ and \\ collapse to 0 / the other
    side, ∪ degrades to the surviving sketch's estimate. The exact
    side's zero-row aggregates are coalesced to 0 the same way, so
    both columns agree that "nobody did X" is 0, not NULL.
    """
    left = F.col(set_col) == left_value
    right = F.col(set_col) == right_value
    sketches = df.filter(left | right).agg(
        F.theta_sketch_agg(F.when(left, F.col(key_col))).alias("__a"),
        F.theta_sketch_agg(F.when(right, F.col(key_col))).alias("__b"),
    )
    a, b = F.col("__a"), F.col("__b")

    def _lest(sketch):  # estimate of a possibly-NULL sketch, as long
        return F.round(F.theta_sketch_estimate(sketch)).cast("long")

    est = sketches.select(
        F.when(a.isNull() | b.isNull(), F.lit(0).cast("long"))
        .otherwise(_lest(F.theta_intersection(a, b)))
        .alias("est_overlap"),
        F.when(a.isNull() & b.isNull(), F.lit(0).cast("long"))
        .when(a.isNull(), _lest(b))
        .when(b.isNull(), _lest(a))
        .otherwise(_lest(F.theta_union(a, b)))
        .alias("est_union"),
        F.when(a.isNull(), F.lit(0).cast("long"))
        .when(b.isNull(), _lest(a))
        .otherwise(_lest(F.theta_difference(a, b)))
        .alias("est_left_only"),
    )
    exact = (
        # the sketch aggregates skip NULL keys; the exact audit must
        # too, or a NULL-keyed row reads as sketch error
        df.filter((left | right) & F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(
            F.max(left.cast("int")).alias("__in_a"),
            F.max(right.cast("int")).alias("__in_b"),
        )
        .agg(
            F.coalesce(
                F.sum((F.col("__in_a") * F.col("__in_b"))), F.lit(0)
            ).alias("exact_overlap"),
            F.count(F.lit(1)).alias("exact_union"),
            F.coalesce(
                F.sum(F.col("__in_a") * (1 - F.col("__in_b"))), F.lit(0)
            ).alias("exact_left_only"),
        )
    )
    # 1×1 join by construction — crossJoin makes the intent explicit.
    return est.crossJoin(exact)


def kll_value_quantiles(
    df: DataFrame,
    *,
    value_col: str,
    group_col: str,
    cell_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    k: int = 200,
) -> DataFrame:
    """Mergeable quantiles: one KLL(double) sketch per (group, cell),
    merged per group, probed at ``quantiles``.

    The exact ``percentile`` aggregate needs a full sort of the group;
    the KLL path keeps a bounded-size summary per cell and answers any
    re-slicing by merge — the only viable shape when the group is a
    terabyte. Two audit families ride along per quantile: the exact
    percentile (``exact_pXX``, informative — value-space error at an
    extreme quantile of a heavy tail is unbounded by design) and the
    RANK error ``rank_err_pXX`` = |rank(est_pXX) − q|, which is the
    quantity KLL actually guarantees (~1.65% normalized rank error at
    k=200); the local correctness gate enforces the rank bound.
    """
    # NULL values never enter a quantile; dropping them (and any cell
    # whose rows were ALL NULL, which yields a NULL sketch) keeps the
    # merge fold off degenerate buffers — one all-NULL group used to
    # kill the whole query with KLL_INVALID_INPUT_SKETCH_BUFFER.
    cells = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(group_col, cell_col)
        .agg(
            F.kll_sketch_agg_double(
                F.col(value_col).cast("double"), F.lit(k)
            ).alias("__sk")
        )
        .filter(F.col("__sk").isNotNull())
    )
    # Spark exposes KLL merge only as the two-arg scalar
    # kll_sketch_merge_double (no union aggregate, unlike HLL/Theta),
    # so per-group merging collects the cell sketches and folds. Each
    # sketch is O(k) bytes and cells-per-group is the *coarsening*
    # factor (hours per bucket), so the collected list stays small even
    # when the underlying rows are terabytes.
    merged = cells.groupBy(group_col).agg(
        F.collect_list("__sk").alias("__sks"),
        F.count(F.lit(1)).alias("n_cells"),
    ).select(
        group_col,
        "n_cells",
        F.expr(
            "aggregate(slice(__sks, 2, size(__sks) - 1), __sks[0], "
            "(acc, s) -> kll_sketch_merge_double(acc, s))"
        ).alias("__m"),
    )
    est_cols = [
        F.round(
            F.kll_sketch_get_quantile_double(F.col("__m"), F.lit(float(q))), 4
        ).alias(f"est_p{int(q * 100)}")
        for q in quantiles
    ]
    est_df = merged.select(group_col, "n_cells", *est_cols)
    # Audit pass: broadcast the (tiny) per-group estimates back over
    # the rows; ONE scan computes both the exact percentiles and each
    # estimate's actual rank (previously two scans + an extra join).
    audit = (
        df.join(F.broadcast(est_df.drop("n_cells")), group_col)
        .groupBy(group_col)
        .agg(
            *[
                F.round(
                    F.expr(f"percentile({value_col}, {q})"), 4
                ).alias(f"exact_p{int(q * 100)}")
                for q in quantiles
            ],
            *[
                F.round(
                    F.abs(
                        F.avg(
                            (
                                F.col(value_col).cast("double")
                                <= F.col(f"est_p{int(q * 100)}")
                            ).cast("double")
                        )
                        - q
                    ),
                    4,
                ).alias(f"rank_err_p{int(q * 100)}")
                for q in quantiles
            ],
        )
    )
    # Both sides are aggregates already hash-partitioned by group, so a
    # sort-merge join adds no exchange. Unhinted, a small size estimate
    # would plan a broadcast instead: one more exchange (and job) for
    # the same rows, and a plan that differs between scale factors.
    return est_df.join(audit.hint("merge"), group_col)


def exact_group_percentiles(
    df: DataFrame,
    *,
    group_col: str,
    value_col: str,
    percentiles: tuple[int, ...] = (50, 90, 99),
    count_col: str | None = None,
    extra_aggs: list | None = None,
) -> DataFrame:
    """EXACT ``percentile_disc`` and ``percentile_cont`` per group from
    a value HISTOGRAM — the scale path for exact order statistics.

    The engine ``percentile()`` aggregate buffers every value of a
    group; at 100 TB that is a full sort of the fact table. This
    operator instead aggregates to the (group, value) histogram first —
    sized by DISTINCT values, not rows — then reads both order
    statistics off the cumulative counts on an integer lattice:

    - ``disc_pXX``: the smallest value whose cumulative count satisfies
      ``100·cum >= p·n`` (SQL ``percentile_disc``: first value with
      CDF >= p/100) — a pure integer comparison, engine-portable.
    - ``cont_pXX``: linear interpolation at position ``(n−1)·p/100``;
      the two bracketing ranks ``lo+1``/``lo+2`` come from integer
      division ``(n−1)·p DIV 100``, and only the final interpolation
      ``lo_val + (hi_val−lo_val)·frac/100`` touches doubles — the same
      single expression the DuckDB oracle replays, so results
      hash-match bit-exactly (SQL ``percentile_cont``).

    Two shuffles, both histogram-sized: the (group, value) hash
    aggregate (map-side combinable — the row count collapses at the
    mappers) and the per-group cumulative window. Nothing downstream
    of the first aggregate ever scales with the fact-table row count.

    Pass ``count_col`` when ``df`` ALREADY IS the (group, value, count)
    histogram: the aggregate is skipped entirely.

    Pass ``extra_aggs`` (Column aggregate expressions over the
    histogram frame — per-(group, value) rows with the count in
    ``__c``) to fold FURTHER per-group statistics into the SAME final
    aggregate: a caller that needs the histogram for other numbers too
    (e.g. ``q_supplier_ship_sla``'s count/integer-mean/late-share)
    then pays ZERO extra passes and ZERO extra joins — the r11
    third-decade probe caught that query's old separate-base-aggregate
    shape re-running the fact join and bending super-linear at 300×
    keys.
    """
    if count_col is not None:
        hist = df.filter(F.col(value_col).isNotNull()).select(
            group_col,
            value_col,
            F.col(count_col).cast("bigint").alias("__c"),
        )
    else:
        hist = (
            df.filter(F.col(value_col).isNotNull())
            .groupBy(group_col, value_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
        )
    from pyspark.sql import Window

    wcum = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(group_col)
    cum = hist.withColumn("__cum", F.sum("__c").over(wcum)).withColumn(
        "__n", F.sum("__c").over(wall)
    )
    v = F.col(value_col)
    n = F.col("__n")
    aggs = [F.max("__n").cast("bigint").alias("n_values")]
    for p in percentiles:
        lo = ((n - 1) * p) - (((n - 1) * p) % 100)  # 100*floor((n-1)p/100)
        lo_rank = lo / 100 + 1
        frac = ((n - 1) * p) % 100
        aggs.append(
            F.min(F.when(F.col("__cum") * 100 >= n * p, v)).alias(
                f"disc_p{p}"
            )
        )
        lo_val = F.min(F.when(F.col("__cum") >= lo_rank, v))
        hi_val = F.min(F.when(F.col("__cum") >= lo_rank + 1, v))
        frac_c = F.max(frac)  # per-group constant
        aggs.append(
            (
                lo_val
                + (F.coalesce(hi_val, lo_val) - lo_val)
                * frac_c.cast("double")
                / F.lit(100.0)
            ).alias(f"cont_p{p}")
        )
    if extra_aggs:
        aggs.extend(extra_aggs)
    return cum.groupBy(group_col).agg(*aggs)


def percentile_bridge(
    df: DataFrame,
    *,
    group_col: str,
    cell_col: str,
    value_col: str,
    percentiles: tuple[int, ...] = (50, 90, 99),
    k: int = 200,
) -> DataFrame:
    """The exact↔sketch percentile BRIDGE: per group, the histogram-
    lattice exact ``disc``/``cont`` percentiles next to the merged-KLL
    estimates, with the normalized RANK error of each estimate —
    ``|rank(est)/n − p/100|`` — measured in the same plan against the
    same histogram.

    Rank error is the quantity KLL actually guarantees (~1.65% at
    k=200, any merge pattern); value-space error is unbounded on heavy
    tails by design. Every row is therefore self-auditing: the local
    correctness gate bounds ``max_rank_err`` (3× the guarantee, the
    same envelope as ``kll_value_quantiles``), which holds at ANY
    scale factor — the bridge's audit is scale-invariant where a
    value-space oracle would not be.
    """
    from pyspark.sql import Window

    exact = exact_group_percentiles(
        df, group_col=group_col, value_col=value_col, percentiles=percentiles
    )
    kll = kll_value_quantiles(
        df,
        value_col=value_col,
        group_col=group_col,
        cell_col=cell_col,
        quantiles=tuple(p / 100 for p in percentiles),
        k=k,
    ).select(
        group_col, *[f"est_p{p}" for p in percentiles]
    )
    # rank(est) per group from the same histogram the exact pass built:
    # cum at the greatest value <= est, over n. Both frames keyed by
    # group and tiny (one row per group), so the joins broadcast.
    hist = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    wcum = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("__cum", F.sum("__c").over(wcum))
    joined = cum.join(F.broadcast(kll), group_col)
    rank_aggs = [F.sum("__c").cast("bigint").alias("__n")]
    for p in percentiles:
        rank_aggs.append(
            F.max(
                F.when(
                    F.col(value_col) <= F.col(f"est_p{p}"), F.col("__cum")
                )
            ).alias(f"__rank_p{p}")
        )
        rank_aggs.append(F.max(f"est_p{p}").alias(f"est_p{p}"))
    ranks = joined.groupBy(group_col).agg(*rank_aggs)
    err_cols = []
    for p in percentiles:
        err_cols.append(
            F.round(
                F.abs(
                    F.coalesce(F.col(f"__rank_p{p}"), F.lit(0)).cast("double")
                    / F.col("__n")
                    - F.lit(p / 100.0)
                ),
                6,
            ).alias(f"rank_err_p{p}")
        )
    bridge = exact.join(
        F.broadcast(
            ranks.select(
                group_col,
                *[f"est_p{p}" for p in percentiles],
                *err_cols,
            )
        ),
        group_col,
    )
    ordered = [group_col, "n_values"]
    for p in percentiles:
        ordered += [f"disc_p{p}", f"cont_p{p}", f"est_p{p}", f"rank_err_p{p}"]
    return bridge.select(*ordered)


def exact_group_mad(
    df: DataFrame,
    *,
    group_col: str,
    value_col: str,
    outlier_k: int = 3,
) -> DataFrame:
    """EXACT median absolute deviation per group, plus the robust
    outlier census — the same histogram-lattice discipline as
    :func:`exact_group_percentiles`, applied twice.

    MAD = median(|x − median(x)|) is the robust dispersion statistic
    (50% breakdown point, vs 0% for stddev): one planted outlier moves
    a stddev threshold, it cannot move MAD. Both medians here are
    ``percentile_disc`` order statistics read off cumulative histogram
    counts with the pure-integer rule ``100·cum >= 50·n``, and the
    deviation values are single IEEE subtractions — every step is
    bit-reproducible in any engine, so the query carrying this is
    hash-oracled.

    ``n_outliers`` counts values with ``|x − median| > outlier_k ·
    MAD`` — counted from the deviation HISTOGRAM (weights, not rows),
    so the whole operator is: two histogram-sized hash aggregates, two
    histogram-sized windows, two broadcast-size joins. Nothing after
    the first aggregate scales with the fact-table row count.

    Returns ``(group_col, n_values, median, mad, n_outliers,
    outlier_ppm)``.
    """
    from pyspark.sql import Window

    from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import (
        scoped_persist,
    )

    v = F.col(value_col)

    def _disc_median(hist: DataFrame, col: str) -> DataFrame:
        wcum = (
            Window.partitionBy(group_col)
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wall = Window.partitionBy(group_col)
        cum = hist.withColumn("__cum", F.sum("__c").over(wcum)).withColumn(
            "__n", F.sum("__c").over(wall)
        )
        return cum.groupBy(group_col).agg(
            F.max("__n").cast("bigint").alias("__n_values"),
            F.min(
                F.when(F.col("__cum") * 100 >= F.col("__n") * 50, F.col(col))
            ).alias("__med"),
        )

    hist = (
        df.filter(v.isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    # both histograms are read twice (median pass + downstream join);
    # scoped_persist keeps the lambda-free but shuffle-fed subtrees
    # from recomputing, and releases them at cache_scope exit
    hist = scoped_persist(hist)
    med = _disc_median(hist, value_col).select(
        group_col,
        F.col("__n_values").alias("n_values"),
        F.col("__med").alias("median"),
    )
    dev_hist = (
        hist.join(F.broadcast(med), group_col)
        .select(
            group_col,
            "n_values",
            "median",
            F.abs(v - F.col("median")).alias("__dev"),
            "__c",
        )
        .groupBy(group_col, "n_values", "median", "__dev")
        .agg(F.sum("__c").cast("bigint").alias("__c"))
    )
    dev_hist = scoped_persist(dev_hist)
    mad = _disc_median(
        dev_hist.select(group_col, F.col("__dev").alias("dev"), "__c"), "dev"
    ).select(group_col, F.col("__med").alias("mad"))
    out = (
        dev_hist.join(F.broadcast(mad), group_col)
        .groupBy(group_col, "n_values", "median", "mad")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("__dev") > F.lit(float(outlier_k)) * F.col("mad"),
                        F.col("__c"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .withColumn(
            "outlier_ppm",
            F.expr("(n_outliers * 1000000) DIV n_values").cast("bigint"),
        )
        .select(
            group_col, "n_values", "median", "mad", "n_outliers", "outlier_ppm"
        )
    )
    return out


def hll_sliding_distinct(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    bin_minutes: int = 60,
    window_bins: int = 24,
    lgk: int = 12,
) -> DataFrame:
    """HLL twin of ``timeseries.py:sliding_distinct_counts`` — the
    100 TB configuration of "distinct keys per sliding window": ONE
    HLL sketch per time bin (the only fact-scaled aggregate, mergeable
    map-side), then each window UNIONS its ``window_bins`` bin
    sketches — the mergeability that makes sliding distinct O(bins)
    sketch rows instead of the exact twin's (key × bin × W) expansion.
    The shuffle after the bin aggregate carries ``bins × W`` sketches
    of ~2^lgk bytes, independent of key cardinality.

    Same window labeling/support contract as the exact twin, so the
    two frames join 1:1 on ``window_end``; the carrying query is
    machine-audited against the exact twin (relative error within the
    HLL envelope for 2^lgk buckets) rather than hash-oracled —
    approximate by design.

    Returns ``(window_end timestamp, est_keys bigint)``.
    """
    if bin_minutes < 1:
        raise ValueError(f"bin_minutes must be >= 1, got {bin_minutes}")
    if window_bins < 1:
        raise ValueError(f"window_bins must be >= 1, got {window_bins}")
    bin_us = int(bin_minutes) * 60_000_000
    per_bin = (
        df.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(F.expr(f"unix_micros({ts_col}) DIV {bin_us}").alias("__bin"))
        .agg(F.hll_sketch_agg(F.col(key_col), F.lit(lgk)).alias("__sk"))
    )
    bounds = per_bin.agg(F.max("__bin").alias("__mx"))
    fanned = per_bin.select(
        "__sk",
        F.explode(
            F.sequence(F.col("__bin"), F.col("__bin") + F.lit(window_bins - 1))
        ).alias("__win"),
    ).join(F.broadcast(bounds), F.col("__win") <= F.col("__mx"))
    return (
        fanned.groupBy("__win")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg(F.col("__sk")))
            .cast("bigint")
            .alias("est_keys")
        )
        .select(
            F.timestamp_micros(F.expr(f"__win * {bin_us}")).alias("window_end"),
            "est_keys",
        )
    )


def _pmod_hash(key, j):
    """The shared arithmetic universal hash ``(a_j·key + b_j) mod p``
    (``a_j = 37 + 61·j``, ``b_j = 13 + 7919·j``, ``p = 1e9+7``),
    normalized NON-NEGATIVE via ``((x % p) + p) % p``: SQL ``%`` takes
    the dividend's sign on every engine, so a negative key would
    otherwise yield a negative index — which ``element_at`` silently
    resolves from the END of the array (false negatives in the Bloom
    probe). For non-negative keys the normalization is the identity,
    so existing bitmaps/cell tables are bit-identical."""
    p = F.lit(1_000_000_007)
    raw = (F.lit(37) + F.lit(61) * j) * key + F.lit(13) + F.lit(7919) * j
    return ((raw % p) + p) % p


def cms_topk_audit(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    k: int = 20,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Count-Min-Sketch frequency estimates audited against exact
    counts for the exact top-``k`` keys — the mergeable fixed-size
    counter sketch (Cormode & Muthukrishnan 2005) next to HLL/KLL/
    Theta in the sketch family.

    The CMS is built RELATIONALLY: each row increments ``depth``
    cells, so one ``explode(sequence) → groupBy(row, bucket) → count``
    pass materializes the whole ``depth × width`` table (≤ a few
    thousand cells after map-side combine — the only row-scaled
    exchange, and it carries the fact scan exactly once). Cells merge
    by addition, so the same pass works per-partition, per-day, or
    per-source and rolls up later — the property that makes CMS the
    standard distributed counter.

    The hash family is ARITHMETIC, not engine-native:
    ``((a_j·key + b_j) mod 1e9+7) mod width`` with per-row constants
    ``a_j = 37 + 61·j``, ``b_j = 13 + 7919·j`` — pure int64-safe
    integer math any engine reproduces bit-for-bit, which is what
    makes a SKETCH query hash-oracled (engine-native hashes like
    xxhash64 would be Spark-only). Pairwise independence is
    approximate at these constants; the audit columns price the
    consequence instead of assuming it away.

    Output: the exact top-``k`` keys (ties by key — deterministic)
    with ``exact_n``, the CMS estimate ``cms_n = min_j cell_j``, and
    ``over_n = cms_n − exact_n`` (structurally ≥ 0: every cell
    overcounts, never undercounts — a negative value means the sketch
    itself is broken).
    """
    from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import (
        scoped_persist,
    )

    # ONE fact scan: the keyed projection feeds both the cell build
    # and the exact top-k — persist it (the reused-input-frame rule)
    # or each aggregate re-reads the source.
    keyed = scoped_persist(
        df.where(F.col(key_col).isNotNull()).select(
            F.col(key_col).alias("__k")
        )
    )
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("__j")
    cell = _pmod_hash(F.col("__k"), F.col("__j")) % F.lit(width)
    cms = scoped_persist(
        keyed.select("__k", rows)
        .select("__j", cell.cast("bigint").alias("__cell"))
        .groupBy("__j", "__cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    top = (
        keyed.groupBy("__k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("__k").asc())
        .limit(k)
    )
    probes = top.select(
        "__k", "exact_n", rows
    ).withColumn("__cell", cell.cast("bigint"))
    est = (
        probes.join(F.broadcast(cms), ["__j", "__cell"])
        .groupBy("__k", "exact_n")
        .agg(F.min("__n").cast("bigint").alias("cms_n"))
    )
    return est.select(
        F.col("__k").alias(key_col),
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).cast("bigint").alias("over_n"),
    )


def bloom_build(
    keys: DataFrame,
    *,
    key_col: str,
    bits: int = 1 << 18,
    hashes: int = 3,
) -> DataFrame:
    """Build a Bloom filter over ``keys`` as a RELATIONAL bitmap: one
    row per non-empty 32-bit word, ``(word_idx, word)``, produced by a
    single ``explode(hashes) → groupBy(word_idx) → bit_or`` pass —
    map-side combinable, mergeable by OR, and at most ``bits/32`` rows
    however many keys went in. 32-bit words keep every mask strictly
    positive in int64, so the identical bit arithmetic runs on any
    engine (a 1<<63 long mask would hit the sign bit and engine-
    specific overflow rules).

    Hash family is the same ARITHMETIC universal hashing as
    :func:`cms_topk_audit` (``((a_j·key + b_j) mod 1e9+7) mod bits``),
    so any engine rebuilds the identical bitmap bit-for-bit — which is
    what lets a Bloom-prefiltered query keep a hash oracle.
    """
    j = F.explode(F.sequence(F.lit(0), F.lit(hashes - 1))).alias("__j")
    bit = _pmod_hash(F.col(key_col), F.col("__j")) % F.lit(bits)
    return (
        keys.select(F.col(key_col), j)
        .select(bit.cast("bigint").alias("__bit"))
        .select(
            F.expr("__bit DIV 32").alias("word_idx"),
            # shiftleft's count arg must be a literal in the Python
            # API; the SQL function form takes a column
            F.expr("shiftleft(1L, CAST(__bit % 32 AS INT))").alias("__mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__mask").cast("bigint").alias("word"))
    )


def bloom_might_contain(
    df: DataFrame,
    bloom: DataFrame,
    *,
    key_col: str,
    out_col: str = "bloom_pass",
    bits: int = 1 << 18,
    hashes: int = 3,
) -> DataFrame:
    """Flag each row of ``df`` with whether the Bloom filter possibly
    contains ``key_col`` — the probe is a PURE PROJECTION: the sparse
    word table densifies into one ``bits/32``-long array (one ~tens-of-
    KB row, broadcast via crossJoin), and each row checks its
    ``hashes`` bits with ``element_at`` — zero shuffle on the probe
    side, exactly the map-side shape a runtime join filter needs at
    100 TB. No false negatives by construction; false positives are
    the filter\'s priced trade (the caller verifies with an exact
    semi-join on the survivors)."""
    nwords = bits // 32
    # Densify via a zero-filled word spine + ordered collect: element_at
    # on an ARRAY is O(1) per probe, where a MAP built from entries
    # would linear-scan per lookup (O(nwords²) to densify — measured as
    # the dominant cost of the whole query before this form).
    spine = bloom.sparkSession.range(nwords).select(
        F.col("id").cast("bigint").alias("word_idx")
    )
    dense = (
        spine.join(bloom, "word_idx", "left")
        .select(
            F.struct(
                F.col("word_idx"),
                F.coalesce(F.col("word"), F.lit(0).cast("bigint")).alias(
                    "word"
                ),
            ).alias("__s")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list("__s")),
                lambda s: s.getField("word"),
            ).alias("__bloom")
        )
    )
    out = df.crossJoin(F.broadcast(dense))
    cond = F.lit(True)
    for j in range(hashes):
        # Same non-negative normalization as the build side — the two
        # remainders MUST agree or a negative key probes different bits
        # than it set and the no-false-negatives contract breaks.
        bit_sql = (
            f"((((({37 + 61 * j} * {key_col}) + {13 + 7919 * j})"
            f" % 1000000007) + 1000000007) % 1000000007) % {bits}"
        )
        word = F.element_at(
            F.col("__bloom"), F.expr(f"CAST(({bit_sql}) DIV 32 AS INT) + 1")
        )
        mask = F.expr(f"shiftleft(1L, CAST(({bit_sql}) % 32 AS INT))")
        cond = cond & (word.bitwiseAND(mask) == mask)
    return out.withColumn(out_col, cond).drop("__bloom")
