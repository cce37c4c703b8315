"""Aggregate-function coverage (SURVEY.md §2.4) as oracle-checked queries.

One query per aggregate family from the reference's registry
(``BuiltInTypeAndFunctionNamespaceManager.java:596-897``; implementations
``operator/aggregation/``): basic counts/sums, min_by/max_by, statistical
moments, correlation/regression, boolean/bitwise aggs, collection aggs
(array_agg/map_agg/histogram as Spark collect+transform patterns),
percentiles, geometric mean, entropy, and the approximate family
(approx_distinct/approx_percentile → HLL/quantile sketches, rows-only
checked; accuracy is asserted against exact values in
tests/test_aggregates.py).

All Spark SQL here plans to HashAggregateExec with partial (map-side)
aggregation before the shuffle — the same PARTIAL→FINAL split the
reference plans via AggregationNode steps (SURVEY.md §2.4), which is what
makes these hold at 100 TB: only per-group partial states cross the wire.
"""

from __future__ import annotations

from sensql_presto_spark.queries.relational import _sql_query

# --- basic aggregates + FILTER clause (AggregationOperator.java,
#     ImplementFilteredAggregations.java) --------------------------------------

_sql_query(
    "agg_basic",
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           count(DISTINCT l_partkey) AS n_parts,
           sum(l_quantity) AS sum_qty,
           CAST(CAST(floor(sum(cast(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                 * 100.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS avg_price,
           min(l_shipdate) AS min_ship,
           max(l_shipdate) AS max_ship,
           count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           CAST(sum(cast(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                FILTER (WHERE l_tax = 0) AS DOUBLE) / 100.0 AS sum_untaxed
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregates",),
    doc="Money summed as exact integer cents: double addition is order-"
    "sensitive, so raw sum(double) is not hash-stable across engines.",
)

# --- min_by / max_by (minmaxby/, MaxNAggregationFunction.java) ---------------

_sql_query(
    "agg_minmax_by",
    """
    SELECT o_orderpriority,
           max_by(o_orderkey, o_totalprice) AS biggest_order,
           min_by(o_orderkey, o_totalprice) AS smallest_order,
           max(o_totalprice) AS max_price,
           min(o_totalprice) AS min_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    oracle="""
    SELECT o_orderpriority,
           arg_max(o_orderkey, o_totalprice) AS biggest_order,
           arg_min(o_orderkey, o_totalprice) AS smallest_order,
           max(o_totalprice) AS max_price,
           min(o_totalprice) AS min_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("aggregates",),
    doc="Deterministic because o_totalprice is unique per priority group in the testdata.",
)

# Presto max(x, n)/min(x, n) (MaxNAggregationFunction.java): top-n values as
# array — Spark composition: slice(array_sort(collect_list(x)), ...).
_sql_query(
    "agg_top_n_values",
    """
    SELECT o_orderpriority,
           array_join(slice(sort_array(collect_list(o_orderkey), false), 1, 3), ',') AS top3_keys,
           array_join(slice(sort_array(collect_list(o_orderkey)), 1, 3), ',') AS bottom3_keys
    FROM orders
    WHERE o_orderkey < 2000
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(o_orderkey), 'DESC')[1:3], ',') AS top3_keys,
           array_to_string(list_sort(list(o_orderkey))[1:3], ',') AS bottom3_keys
    FROM orders
    WHERE o_orderkey < 2000
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("aggregates",),
)

# --- statistical moments (VarianceAggregation.java, CentralMomentsAggregation.java)

# Float canonicalization: variances (~3e9) are ln-compressed before rounding
# so last-ulp accumulation-order drift between engines can't flip a digit;
# stddev/skew/kurt are rounded well inside the engines' agreement margin.
_sql_query(
    "agg_stats_moments",
    """
    SELECT l_returnflag,
           round(ln(var_pop(l_extendedprice)), 6) AS ln_vpop,
           round(ln(var_samp(l_extendedprice)), 6) AS ln_vsamp,
           round(stddev_pop(l_extendedprice), 2) AS spop,
           round(stddev_samp(l_extendedprice), 2) AS ssamp,
           round(skewness(l_extendedprice), 5) AS skew,
           round(kurtosis(l_extendedprice), 5) AS kurt
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    oracle="""
    SELECT l_returnflag,
           round(ln(var_pop(l_extendedprice)), 6) AS ln_vpop,
           round(ln(var_samp(l_extendedprice)), 6) AS ln_vsamp,
           round(stddev_pop(l_extendedprice), 2) AS spop,
           round(stddev_samp(l_extendedprice), 2) AS ssamp,
           -- DuckDB skewness is sample-corrected G1; Spark emits population g1
           round(skewness(l_extendedprice) * (count(*) - 2)
             / sqrt(count(*) * (count(*) - 1.0)), 5) AS skew,
           round(kurtosis_pop(l_extendedprice), 5) AS kurt
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregates", "stats"),
)

# --- correlation / regression (DoubleCorrelationAggregation.java etc.) --------

_sql_query(
    "agg_corr_regr",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 9) AS c,
           round(covar_pop(l_quantity, l_extendedprice), 6) AS cvp,
           round(covar_samp(l_quantity, l_extendedprice), 6) AS cvs,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS icept,
           round(regr_r2(l_extendedprice, l_quantity), 9) AS r2,
           regr_count(l_extendedprice, l_quantity) AS rn
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregates", "stats"),
    doc="Co-moment merge order differs between engines at ~1e-15 relative; "
    "rounded so the comparison hashes stably.",
)

# --- boolean / bitwise aggregates (BitwiseAndAggregation.java etc.) -----------

_sql_query(
    "agg_bool_bitwise",
    """
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000) AS all_gt_1k,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           bit_and(o_orderkey) AS band,
           bit_or(o_orderkey) AS bor,
           bit_xor(o_orderkey) AS bxor
    FROM orders
    WHERE o_orderkey < 1000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("aggregates", "bitwise"),
)

# --- collection aggregates: array_agg / set_agg / ordered agg (arrayagg/) -----

_sql_query(
    "agg_collect",
    """
    SELECT c_nationkey,
           array_join(sort_array(collect_set(c_mktsegment)), ',') AS segments,
           size(collect_list(c_custkey)) AS n_keys,
           array_join(transform(array_sort(collect_list(named_struct('bal', -c_acctbal, 'k', c_custkey))),
                                s -> CAST(s.k AS STRING)), ',') AS keys_by_bal_desc
    FROM customer
    WHERE c_custkey < 100
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
           count(c_custkey) AS n_keys,
           string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_acctbal DESC, c_custkey) AS keys_by_bal_desc
    FROM customer
    WHERE c_custkey < 100
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    tags=("aggregates", "collect"),
    doc="Presto array_agg(x ORDER BY y) == Spark transform(array_sort(collect_list(struct(y,x)))).",
)

# --- map aggregates: map_agg / histogram / multimap_agg (MapAggregationFunction.java,
#     histogram/) — emitted as sorted entry strings so outputs stay hashable ---

_sql_query(
    "agg_map_histogram",
    """
    WITH m AS (
        SELECT o_custkey,
               map_from_entries(collect_list(named_struct('k', o_orderpriority, 'v', o_orderkey))) AS prio_to_key
        FROM (SELECT o_custkey, o_orderpriority, min(o_orderkey) AS o_orderkey
              FROM orders WHERE o_custkey < 50
              GROUP BY o_custkey, o_orderpriority)
        GROUP BY o_custkey
    ),
    h AS (
        SELECT o_custkey, o_orderpriority, count(*) AS cnt
        FROM orders WHERE o_custkey < 50
        GROUP BY o_custkey, o_orderpriority
    )
    SELECT m.o_custkey,
           array_join(transform(array_sort(map_entries(m.prio_to_key)),
                                e -> concat(e.key, '=', CAST(e.value AS STRING))), ';') AS map_agg_repr,
           (SELECT array_join(transform(array_sort(collect_list(named_struct('k', h.o_orderpriority, 'c', h.cnt))),
                                        e -> concat(e.k, ':', CAST(e.c AS STRING))), ';')
            FROM h WHERE h.o_custkey = m.o_custkey) AS histogram_repr
    FROM m
    ORDER BY m.o_custkey
    """,
    oracle="""
    SELECT o_custkey,
           string_agg(o_orderpriority || '=' || CAST(min_key AS VARCHAR), ';' ORDER BY o_orderpriority) AS map_agg_repr,
           string_agg(o_orderpriority || ':' || CAST(cnt AS VARCHAR), ';' ORDER BY o_orderpriority) AS histogram_repr
    FROM (SELECT o_custkey, o_orderpriority, min(o_orderkey) AS min_key, count(*) AS cnt
          FROM orders WHERE o_custkey < 50
          GROUP BY o_custkey, o_orderpriority)
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
    tags=("aggregates", "map"),
    doc="Presto map_agg/histogram as map_from_entries(collect_list(struct)) patterns.",
)

# --- percentiles: exact (reference approx_percentile's semantic target) -------

_sql_query(
    "agg_percentile_exact",
    """
    SELECT l_returnflag,
           percentile(l_extendedprice, 0.5) AS p50,
           percentile(l_extendedprice, 0.9) AS p90,
           median(l_quantity) AS med_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS p50,
           quantile_cont(l_extendedprice, 0.9) AS p90,
           median(l_quantity) AS med_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregates", "percentile"),
)

# --- approximate family (HLL / quantile sketches; ApproximateCountDistinctAggregation.java,
#     QuantileDigestAggregationFunction.java). Sketch estimates are
#     engine-specific, so the oracle-checkable surface is the error bound:
#     each column asserts |approx - exact| <= eps * exact ON THE SPARK SIDE
#     and the DuckDB oracle expects TRUE — a hard accuracy gate the driver
#     hash-compares, instead of a rows-only check. Quartiles are emitted as
#     two scalar bound columns (an array column is hash-fragile and crashed
#     the round-1 canonicalizer).

_sql_query(
    "agg_approx_sketches",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           (abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
              <= 0.15 * count(DISTINCT l_partkey)) AS acd_ok,
           (abs(approx_count_distinct(l_suppkey, 0.01) - count(DISTINCT l_suppkey))
              <= 0.05 * count(DISTINCT l_suppkey)) AS acd_rsd_ok,
           (abs(percentile_approx(l_extendedprice, 0.5, 10000) - percentile(l_extendedprice, 0.5))
              <= 0.02 * percentile(l_extendedprice, 0.5)) AS p50_ok,
           (abs(percentile_approx(l_extendedprice, 0.25, 10000) - percentile(l_extendedprice, 0.25))
              <= 0.03 * percentile(l_extendedprice, 0.25)) AS p25_ok,
           (abs(percentile_approx(l_extendedprice, 0.75, 10000) - percentile(l_extendedprice, 0.75))
              <= 0.03 * percentile(l_extendedprice, 0.75)) AS p75_ok
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           TRUE AS acd_ok, TRUE AS acd_rsd_ok,
           TRUE AS p50_ok, TRUE AS p25_ok, TRUE AS p75_ok
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregates", "approx"),
)

# --- geometric mean + entropy (GeometricMeanAggregations.java, EntropyAggregation.java)

_GEOMEAN_ENTROPY_SQL = """
    WITH counts AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS cnt
        FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT g.c_nationkey, g.geo_mean_bal, e.seg_entropy
    FROM (SELECT c_nationkey, round(exp(avg(ln(abs(c_acctbal) + 1))), 4) AS geo_mean_bal
          FROM customer GROUP BY c_nationkey) g
    JOIN (SELECT c_nationkey,
                 round(-sum((cnt / tot) * log2(cnt / tot)), 6) AS seg_entropy
          FROM (SELECT c_nationkey, cnt, {tot} AS tot
                FROM counts)
          GROUP BY c_nationkey) e
      ON g.c_nationkey = e.c_nationkey
    ORDER BY g.c_nationkey
    """

_sql_query(
    "agg_geomean_entropy",
    _GEOMEAN_ENTROPY_SQL.format(tot="sum(cnt) OVER (PARTITION BY c_nationkey)"),
    oracle=_GEOMEAN_ENTROPY_SQL.format(tot="CAST(sum(cnt) OVER (PARTITION BY c_nationkey) AS DOUBLE)"),
    tags=("aggregates", "stats"),
    doc="Presto geometric_mean and entropy(bigint) as pure-SQL compositions.",
)

# --- checksum_agg (ChecksumAggregationFunction.java): order-independent
#     checksum — per-row hash, bit_xor-combined. The row hash is an explicit
#     polynomial (identical arithmetic in both dialects, same pattern as
#     dedup_simhash) so the checksum is oracle-checkable bit-for-bit; a
#     production deployment would swap in xxhash64 for speed (covered by
#     z_fn_hash_spark_native's determinism tests) — the aggregation shape
#     (map-side partial bit_xor, one shuffle) is identical either way.

_CHECKSUM_SQL = """
    SELECT l_returnflag,
           bit_xor((((l_orderkey * 131 + l_linenumber) % 1000000007) * 131
                    + cast(l_quantity AS BIGINT)) % 1000000007) AS checksum,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """

_sql_query(
    "agg_checksum",
    _CHECKSUM_SQL,
    oracle=_CHECKSUM_SQL,
    tags=("aggregates", "hash"),
)

# --- numeric_histogram (DoubleHistogramAggregation.java, fixedhistogram/):
#     fixed-width bucketing — declarative floor() keeps identical semantics
#     in both engines (Spark width_bucket has no DuckDB twin).

_sql_query(
    "agg_numeric_histogram",
    """
    SELECT CAST(least(floor(o_totalprice / 50000), 9) AS INT) AS bucket,
           count(*) AS n,
           CAST(sum(cast(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
               / count(*) AS avg_in_bucket
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("aggregates", "histogram"),
)

# --- arbitrary/any_value (ArbitraryAggregationFunction.java): deterministic
#     here because each group has exactly one distinct value. -----------------

_sql_query(
    "agg_any_value",
    """
    SELECT n_nationkey, any_value(n_name) AS name, count(*) AS n
    FROM nation GROUP BY n_nationkey ORDER BY n_nationkey
    """,
    oracle="""
    SELECT n_nationkey, min(n_name) AS name, count(*) AS n
    FROM nation GROUP BY n_nationkey ORDER BY n_nationkey
    """,
    tags=("aggregates",),
)

# --- count_if + conditional aggregation (CountIfAggregationFunction.java) -----

# avg_big is computed as an exact integer cent-sum divided once at the end —
# double accumulation order differs between engines, integer sums don't.
_COUNT_IF_SQL = """
    SELECT o_orderstatus,
           CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
           CAST(sum(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) AS BIGINT) AS n_p1,
           round(cast(sum(if(o_totalprice > 100000,
                        cast(floor(o_totalprice * 100 + 0.5) AS BIGINT), NULL)) AS DOUBLE) / 100.0
                 / count_if(o_totalprice > 100000), 2) AS avg_big
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """

_sql_query(
    "agg_count_if",
    _COUNT_IF_SQL,
    oracle=_COUNT_IF_SQL,
    tags=("aggregates",),
)

# --- reduce_agg (ReduceAggregationFunction.java): generic fold — expressible
#     as collect_list + aggregate() HOF (state stays distributed until the
#     per-group fold, same as the reference's per-group state). ---------------

_sql_query(
    "agg_reduce",
    """
    SELECT o_orderstatus,
           aggregate(collect_list(CAST(o_totalprice AS DOUBLE)), CAST(0 AS DOUBLE),
                     (acc, x) -> acc + x * 0.5) AS half_sum
    FROM orders
    WHERE o_orderkey < 1000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    oracle="""
    SELECT o_orderstatus, sum(o_totalprice) * 0.5 AS half_sum
    FROM orders
    WHERE o_orderkey < 1000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("aggregates",),
    doc="reduce_agg parity via aggregate() fold; oracle uses the closed form.",
)

# --- sketch columns as first-class values (HyperLogLogType.java,
#     approx_set/merge/cardinality; SURVEY.md §1.2): per-nation HLL sketches
#     built at the finest grain, then MERGED (not recomputed) to region
#     level — the re-aggregatable-sketch pattern that makes 100 TB rollups
#     one shuffle per level. Sketch bytes are engine-specific, so the
#     driver-checked surface is the merge-estimate error bound (<= 5% of
#     exact, oracle expects TRUE); tests/test_aggregates.py asserts the
#     same accuracy independently.

_sql_query(
    "agg_hll_sketch_rollup",
    """
    WITH nation_sketches AS (
        SELECT n.n_regionkey, c.c_nationkey,
               hll_sketch_agg(c.c_custkey) AS sk,
               count(DISTINCT c.c_custkey) AS exact_n
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_regionkey, c.c_nationkey
    )
    SELECT n_regionkey,
           sum(exact_n) AS exact_customers,
           (abs(hll_sketch_estimate(hll_union_agg(sk)) - sum(exact_n))
              <= 0.05 * sum(exact_n)) AS merge_estimate_ok
    FROM nation_sketches
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
    oracle="""
    SELECT n.n_regionkey AS n_regionkey,
           count(DISTINCT c.c_custkey) AS exact_customers,
           TRUE AS merge_estimate_ok
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_regionkey
    ORDER BY n_regionkey
    """,
    tags=("aggregates", "approx", "sketch"),
)

# --- approx_most_frequent (approxmostfrequent/ApproximateMostFrequent.java):
#     top-k heavy hitters per group as sorted entry strings. Implemented
#     exactly (count + rank — two shuffles, both partial-agg'd); the
#     reference sketches because Presto lacks a second shuffle inside one
#     aggregate call, which Spark does not need. ----------------------------

_MOST_FREQUENT_SQL = """
    WITH counts AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                                     ORDER BY cnt DESC, o_orderpriority) AS rk
        FROM counts
    )
    SELECT o_orderstatus,
           {top3} AS top3
    FROM ranked WHERE rk <= 3
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """

_sql_query(
    "agg_most_frequent",
    _MOST_FREQUENT_SQL.format(
        top3="concat_ws(';', sort_array(collect_list(concat(o_orderpriority, '=', cast(cnt AS string)))))"
    ),
    oracle=_MOST_FREQUENT_SQL.format(
        top3="""string_agg(o_orderpriority || '=' || cast(cnt AS varchar), ';'
                      ORDER BY o_orderpriority || '=' || cast(cnt AS varchar))"""
    ),
    tags=("aggregates", "approx"),
)

# --- reservoir_sample (reservoirsample/): deterministic distributed sample —
#     the n rows with smallest md5(key). Hash-ordering makes the "reservoir"
#     reproducible and mergeable across partitions (TakeOrderedAndProject:
#     per-partition top-n, then merge — no global sort). -------------------

_sql_query(
    "agg_reservoir_sample",
    """
    SELECT o_orderkey, o_orderstatus
    FROM orders
    ORDER BY md5(cast(o_orderkey AS string)), o_orderkey
    LIMIT 5
    """,
    oracle="""
    SELECT o_orderkey, o_orderstatus
    FROM orders
    ORDER BY md5(cast(o_orderkey AS varchar)), o_orderkey
    LIMIT 5
    """,
    tags=("aggregates", "sample"),
)


# --- classification metric aggregates (ClassificationPrecisionAggregation
#     .java, ClassificationRecallAggregation.java, ClassificationMissRate
#     Aggregation.java, ClassificationFallOutAggregation.java): each is a
#     ratio of confusion-matrix cells, so the distributed shape is one
#     partial-agg pass counting TP/FP/FN/TN — identical in any engine. The
#     "classifier" is a deterministic threshold on order value; the label
#     is the priority class. -------------------------------------------------

_sql_query(
    "agg_classification_metrics",
    """
    WITH scored AS (
        SELECT o_orderstatus,
               (o_totalprice > 150000) AS pred,
               (o_orderpriority < '3') AS label
        FROM orders
    ),
    cells AS (
        SELECT o_orderstatus,
               CAST(sum(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM scored
        GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, tp, fp, fn, tn,
           round(tp / CAST(tp + fp AS DOUBLE), 6) AS precision_,
           round(tp / CAST(tp + fn AS DOUBLE), 6) AS recall_,
           round(fn / CAST(tp + fn AS DOUBLE), 6) AS miss_rate,
           round(fp / CAST(fp + tn AS DOUBLE), 6) AS fall_out
    FROM cells
    ORDER BY o_orderstatus
    """,
    tags=("aggregates", "classification"),
)


# --- classification_thresholds + the per-threshold curve family
#     (ClassificationThresholdsAggregation.java + the Precision/Recall/
#     MissRate/FallOut siblings over PrecisionRecallState): scores bucket
#     into fixed-width bins and each non-empty bin's lower bound is a
#     threshold; metrics at threshold t classify score >= t as positive.
#     Expressed as one histogram shuffle + reverse-cumulative windows over
#     the (tiny) bucket relation — the same two-phase shape the reference's
#     state merge produces, flattened to one row per threshold instead of
#     parallel arrays. ------------------------------------------------------

_sql_query(
    "agg_classification_curve",
    """
    WITH scored AS (
        SELECT CAST(o_orderkey % 100 AS DOUBLE) / 100.0 AS score,
               (o_orderpriority < '3') AS label
        FROM orders
    ),
    hist AS (
        SELECT CAST(floor(score * 10) AS BIGINT) AS bucket,
               CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS pos,
               CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS neg
        FROM scored GROUP BY 1
    ),
    cum AS (
        -- every window here (ordered cumulative + global totals) rides
        -- `hist`, which is AT MOST 11 rows (bucket = floor(score*10),
        -- score in [0,1]) regardless of corpus size — the single-partition
        -- WindowExec is constant-bounded, never the 100x bottleneck
        SELECT bucket,
               sum(pos) OVER (ORDER BY bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
               sum(neg) OVER (ORDER BY bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
               sum(pos) OVER () AS all_pos,
               sum(neg) OVER () AS all_neg
        FROM hist
    )
    SELECT CAST(bucket AS DOUBLE) / 10 AS threshold,
           round(tp / CAST(tp + fp AS DOUBLE), 6) AS precision_,
           round(tp / CAST(all_pos AS DOUBLE), 6) AS recall_,
           round((all_pos - tp) / CAST(all_pos AS DOUBLE), 6) AS miss_rate,
           round(fp / CAST(all_neg AS DOUBLE), 6) AS fall_out
    FROM cum ORDER BY threshold
    """,
    tags=("aggregates", "classification"),
    doc="Binary-classification threshold curve: bucketed score histogram + "
    "reverse-cumulative windows give classification_thresholds and the "
    "precision/recall/miss_rate/fall_out arrays, one row per threshold.",
)


# --- differential_entropy (differentialentropy/FixedHistogramMleStateStrategy
#     .java): MLE entropy over a fixed-width histogram of the value range —
#     h = -sum(p_i * ln(p_i)) + ln(bin_width). Expressed declaratively:
#     one bucket-assignment projection + one groupBy + the closed form, so
#     the distributed shape is a single partial-agg shuffle on bucket id. ----

_sql_query(
    "agg_differential_entropy",
    """
    WITH bounds AS (
        SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi, count(*) AS n
        FROM orders
    ),
    bucketed AS (
        SELECT CAST(least(floor((o_totalprice - b.lo) / ((b.hi - b.lo) / 64)), 63) AS INT) AS bucket,
               b.n, (b.hi - b.lo) / 64 AS width
        FROM orders, bounds b
    ),
    hist AS (
        SELECT bucket, width, n, count(*) AS c
        FROM bucketed GROUP BY bucket, width, n
    )
    SELECT round(
               CAST(-sum((c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE))) + ln(max(width)) AS DOUBLE),
               6) AS diff_entropy,
           CAST(sum(c) AS BIGINT) AS n_rows
    FROM hist
    """,
    tags=("aggregates", "entropy"),
)


# --- equi-depth (quantile) histogram — the CBO selectivity input -------------
#
# agg_numeric_histogram is equi-WIDTH (fixed value ranges, varying
# counts); the histogram a cost-based optimizer actually wants is
# equi-DEPTH — bucket boundaries placed so each bucket holds ~N/B rows,
# which is what makes range-predicate selectivity a bucket count.  The
# naive construction (ntile over a global ORDER BY) moves every row to
# one partition — scale-hostile.  This is the scale-honest shape: ONE
# map-side-combined value-histogram groupBy collapses the corpus to its
# distinct values (state bounded by NDV, not row count — the same
# contract as agg_exact_quantiles), a cumulative window over that
# bounded value list assigns each distinct value the bucket of its first
# row position, and a bucket rollup emits (lo, hi, rows, ndv) per
# bucket.  Repeated values never split across buckets (the "compressed
# histogram" in the Poosala/Ioannidis taxonomy — also what makes the
# result deterministic without a row tiebreak).  All arithmetic exact
# cents; the bucket index floor((cum_lo*8)/n) is identical IEEE in both
# engines (products < 2^53).
_sql_query(
    "agg_histogram_equi_depth",
    """
    WITH h AS (
        SELECT cast(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v_cents, count(*) AS c
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT sum(c) AS n FROM h),
    cum AS (
        SELECT v_cents, c,
               sum(c) OVER (ORDER BY v_cents
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS cum_lo
        FROM h
    ),
    b AS (
        SELECT v_cents, c,
               CAST(floor(cum_lo * 8.0 / (SELECT n FROM tot)) AS BIGINT) AS bucket
        FROM cum
    )
    SELECT bucket,
           CAST(min(v_cents) AS BIGINT) AS lo_cents,
           CAST(max(v_cents) AS BIGINT) AS hi_cents,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    tags=("aggregates", "histogram", "cbo"),
    doc="Equi-depth 8-bucket histogram (the CBO selectivity input): "
    "value-histogram groupBy bounds window state by NDV instead of row "
    "count, cumulative first-row positions place whole distinct values "
    "into buckets (compressed-histogram semantics, deterministic without "
    "row tiebreaks); exact cents, ~N/8 rows per bucket.",
)
