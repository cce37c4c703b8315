"""Quantile-digest queries (reference: QuantileDigestFunctions.java,
TDigestFunctions.java, qdigest/tdigest aggregations).

Two registry entries:

- ``fn_sketch_scalars`` — the scalar probe surface (value_at_quantile,
  quantile_at_value, values_at_quantiles) over a literal digest, exact
  against hand-computed oracle constants.
- ``agg_qdigest_rollup`` — the mergeable-value path: leaf digests built per
  (nation, segment) with ``percentile_approx`` (JVM GK summaries), merged
  up to nation by weighted re-quantiling of cut points (shuffle volume =
  digests x K, never raw rows), probed and checked against exact
  percentiles via error-bound booleans (oracle emits TRUE) — the same
  accuracy-gate pattern the driver uses for the approx aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sensql_presto_spark import catalog
from sensql_presto_spark.functions.sketches import (
    merge_digests_sql,
    qdigest_agg_sql,
    register_sketch_functions,
)
from sensql_presto_spark.queries.registry import register

# Literal digest: 17 equi-depth cuts 0,10,...,160 -> probes are exact.
_SCALARS_SQL = """
SELECT value_at_quantile(cuts, 0.25) AS v_q25,
       value_at_quantile(cuts, 0.5) AS v_q50,
       value_at_quantile(cuts, 0.96875) AS v_q96875,
       quantile_at_value(cuts, 85.0) AS q_at_85,
       quantile_at_value(cuts, -1.0) AS q_below,
       array_join(transform(values_at_quantiles(cuts, array(0.0, 0.5, 1.0)),
                            x -> cast(cast(x AS BIGINT) AS STRING)), ',') AS vs
FROM (SELECT transform(sequence(0, 160, 10), x -> cast(x AS DOUBLE)) AS cuts)
"""

_SCALARS_ORACLE = """
SELECT 40.0 AS v_q25,
       80.0 AS v_q50,
       155.0 AS v_q96875,
       CAST(9 AS DOUBLE) / 17 AS q_at_85,
       0.0 AS q_below,
       '0,80,160' AS vs
"""


@register(
    "fn_sketch_scalars",
    oracle=_SCALARS_ORACLE,
    tags=("functions", "sketch"),
    doc="Digest scalar probes over a literal digest; interpolation and CDF "
    "values are exact by construction (QuantileDigestFunctions.java:88-153).",
)
def fn_sketch_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_sketch_functions(spark)
    return catalog.sql(spark, sf_dir, _SCALARS_SQL)


_ROLLUP_SQL = f"""
WITH leaf AS (
    SELECT c_nationkey, c_mktsegment, count(*) AS n,
           {qdigest_agg_sql("c_acctbal")} AS cuts
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
),
merged AS ({{MERGED}}),
exact AS (
    SELECT c_nationkey,
           percentile(c_acctbal, 0.5) AS p50,
           min(c_acctbal) AS mn, max(c_acctbal) AS mx,
           count(*) AS n
    FROM customer GROUP BY c_nationkey
)
SELECT m.c_nationkey,
       -- 15%-of-range accuracy gate at n >= 30; below that a quantile
       -- estimate has no distribution-free value-error guarantee, so only
       -- the range-sanity bound applies (sf0.001 groups have ~6 rows)
       abs(value_at_quantile(m.cuts, 0.5) - e.p50) / (e.mx - e.mn)
           < CASE WHEN e.n >= 30 THEN 0.15 ELSE 1.0 END AS p50_ok,
       quantile_at_value(m.cuts, e.p50) BETWEEN 0.25 AND 0.75 AS cdf_ok,
       size(m.cuts) >= 10 AS digest_ok
FROM merged m JOIN exact e ON m.c_nationkey = e.c_nationkey
ORDER BY m.c_nationkey
"""

_ROLLUP_ORACLE = """
SELECT c_nationkey, TRUE AS p50_ok, TRUE AS cdf_ok, TRUE AS digest_ok
FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
"""


@register(
    "agg_qdigest_rollup",
    oracle=_ROLLUP_ORACLE,
    tags=("aggregates", "sketch"),
    doc="Mergeable qdigest rollup: leaf digests per (nation, segment), "
    "weighted re-quantile merge to nation, error-bound accuracy gate vs "
    "exact percentiles (qdigest_agg + merge, QuantileDigestFunctions.java).",
)
def agg_qdigest_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_sketch_functions(spark)
    merged = merge_digests_sql("leaf", "c_nationkey")
    return catalog.sql(spark, sf_dir, _ROLLUP_SQL.replace("{MERGED}", merged))


# --- setdigest / KMV parity (SetDigestFunctions.java: make_set_digest,
#     merge_set_digest, intersection_cardinality, jaccard_index). A KMV
#     (k-minimum-values) sketch is the k smallest hashes of a set; the
#     Jaccard index of two sets is estimated by comparing their KMV unions.
#     Pure SQL: the polynomial string hash is identical in both engines, so
#     the sketch itself is cross-engine deterministic and the estimate is
#     gated against the exact Jaccard.

_KMV_K = 64

# 31-polynomial string hash over the first 8 chars — identical arithmetic
# in Spark and DuckDB (the dedup_simhash pattern), avoiding engine-native
# hash functions inside the sketch.
_POLYHASH = (
    "aggregate(sequence(1, least(length({c}), 8)), cast(0 AS BIGINT), "
    "(acc, i) -> acc * 31 + ascii(substring({c}, i, 1)))"
)

_SETDIGEST_SQL = f"""
WITH vals AS (
    SELECT c_mktsegment, cast(c_custkey % 400 AS STRING) AS v
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
),
hashed AS (
    SELECT c_mktsegment, v, {_POLYHASH.format(c="v")} AS h
    FROM (SELECT DISTINCT c_mktsegment, v FROM vals)
),
digests AS (
    SELECT c_mktsegment,
           slice(array_sort(collect_set(h)), 1, {_KMV_K}) AS kmv
    FROM hashed GROUP BY c_mktsegment
),
pair AS (
    SELECT a.kmv AS ka, b.kmv AS kb
    FROM digests a JOIN digests b
      ON a.c_mktsegment = 'BUILDING' AND b.c_mktsegment = 'MACHINERY'
),
est AS (
    SELECT size(array_intersect(
               slice(array_sort(array_union(ka, kb)), 1, {_KMV_K}),
               array_intersect(ka, kb))) AS inter_k,
           size(slice(array_sort(array_union(ka, kb)), 1, {_KMV_K})) AS union_k
    FROM pair
),
exact AS (
    SELECT CAST(count(CASE WHEN na = 1 AND nb = 1 THEN 1 END) AS DOUBLE)
               / count(*) AS j
    FROM (
        SELECT v, max(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS na,
               max(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS nb
        FROM vals GROUP BY v
    )
)
SELECT abs(CAST(est.inter_k AS DOUBLE) / est.union_k - exact.j) < 0.2 AS jaccard_ok,
       -- bounded, not exactly-full: below ~sf0.01 the union has fewer than
       -- k distinct hashes (unsaturated digests), where the KMV estimate
       -- degrades to the exact jaccard — still inside the 0.2 gate
       est.union_k <= {_KMV_K} AND est.union_k > 0 AS digest_bounded,
       exact.j > 0 AS sets_overlap
FROM est CROSS JOIN exact
"""

_SETDIGEST_ORACLE = """
SELECT TRUE AS jaccard_ok, TRUE AS digest_bounded,
       -- computed from the data, not hardcoded: at tiny SFs the two
       -- segments' value sets may be disjoint and both engines must agree
       (SELECT count(*) FROM (
            SELECT c_custkey % 400 AS v,
                   max(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS a,
                   max(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS b
            FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
            GROUP BY 1) t WHERE a = 1 AND b = 1) > 0 AS sets_overlap
"""


@register(
    "agg_setdigest_jaccard",
    oracle=_SETDIGEST_ORACLE,
    tags=("aggregates", "sketch"),
    doc="KMV set-digest Jaccard estimation (SetDigestFunctions.java "
    "jaccard_index/intersection_cardinality): k smallest polynomial hashes "
    "per set, estimate gated against the exact Jaccard. The digest is an "
    "array value, mergeable with array_union + re-slice.",
)
def agg_setdigest_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.sql(spark, sf_dir, _SETDIGEST_SQL)


# --- KHyperLogLog surface (type/khyperloglog/KHyperLogLog.java:307-327,
# KHyperLogLogFunctions.java uniquenessDistribution:78-103 and
# reidentificationPotential:105-110). A KHLL is a per-key minhash of value
# HLLs; its two headline probes reduce to a two-level aggregation:
# per-key distinct-value counts, then a histogram over those counts.
# Exact count(DISTINCT) here (oracle-identical); at 100 TB swap level 1 to
# approx_count_distinct — same shuffle shape (partial aggs map-side), the
# histogram level is unchanged.
_KHLL_SQL = """
    WITH per_key AS (
        SELECT user_id, count(DISTINCT event_type) AS nv
        FROM events GROUP BY user_id
    ),
    hist AS (
        SELECT least(nv, 5) AS bucket, count(*) AS n_keys
        FROM per_key GROUP BY least(nv, 5)
    )
    -- the global windows ride `hist`, which is AT MOST 5 rows (bucket =
    -- least(nv, 5)) at any corpus size — the single-partition WindowExec
    -- is constant-bounded, never the 100x-scale bottleneck
    SELECT bucket,
           round(n_keys / cast(sum(n_keys) OVER () AS double), 6) AS frac_keys,
           round(sum(CASE WHEN bucket <= 2 THEN n_keys ELSE 0 END) OVER ()
                 / cast(sum(n_keys) OVER () AS double), 6) AS reident_potential_t2
    FROM hist
    ORDER BY bucket
"""


@register(
    "agg_khll_uniqueness",
    oracle=_KHLL_SQL,
    tags=("sketch", "khll", "aggregation"),
    doc="KHyperLogLog uniqueness_distribution + reidentification_potential "
    "as the two-level aggregation the sketch approximates.",
)
def agg_khll_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.sql(spark, sf_dir, _KHLL_SQL)


# --- Count-min sketch (Cormode & Muthukrishnan 2005) ----------------------
#
# The frequency-estimation sketch missing from the HLL/qdigest/setdigest
# family: d=4 hash rows x w=8 buckets, each cell the sum of counts of
# terms hashing there; a point query reads one cell per row and takes the
# MIN — an overestimate by construction, never an under-estimate.  The
# output checks exactly that contract: for the 5 most frequent corpus
# terms, cms_estimate >= true_count with the overcount published.
#
# Scale shape (100 TB posture): the sketch is the POINT — state is O(d*w)
# = 32 cells at the test vocabulary (w sized so collisions actually occur over the 31-term corpus vocabulary; production w is ~2/eps), built with one token-count
# shuffle + one bounded cell aggregate (both map-side combining); the
# interpreted char hash runs only over the DISTINCT vocabulary (the
# classifier-filter discipline) and the 5x4 probe set broadcasts onto the
# bounded cell table.  Cells are mergeable by addition, the streaming/
# cross-shard contract.  All arithmetic exact BIGINT: polynomial char
# hash mod 1e9+7, per-row affine rehash ((h*A_r + B_r) mod 1e9+7) mod 64
# with A_r,B_r pinned constants — identical in both dialects.
_CMS_CELLS_SQL = """
    cells AS (
        SELECT r,
               ((h0 * (CASE r WHEN 0 THEN 31 WHEN 1 THEN 131
                              WHEN 2 THEN 1031 ELSE 8191 END)
                 + r * 97 + 1) % 1000000007) % 8 AS b,
               sum(c) AS cell
        FROM hashed CROSS JOIN rows_
        GROUP BY 1, 2
    ),
    top5 AS (
        SELECT term, c, h0,
               row_number() OVER (ORDER BY c DESC, term) AS rk
        FROM hashed
    ),
    probes AS (
        SELECT t.rk, t.term, t.c, r.r,
               ((t.h0 * (CASE r.r WHEN 0 THEN 31 WHEN 1 THEN 131
                                  WHEN 2 THEN 1031 ELSE 8191 END)
                 + r.r * 97 + 1) % 1000000007) % 8 AS b
        FROM (SELECT * FROM top5 WHERE rk <= 5) t CROSS JOIN rows_ r
    )
    SELECT CAST(p.rk AS BIGINT) AS rk, p.term,
           CAST(p.c AS BIGINT) AS true_count,
           CAST(min(cl.cell) AS BIGINT) AS cms_estimate,
           CAST(min(cl.cell) - p.c AS BIGINT) AS overcount
    FROM probes p JOIN cells cl ON p.r = cl.r AND p.b = cl.b
    GROUP BY p.rk, p.term, p.c
    ORDER BY rk
"""

_CMS_SPARK_SQL = (
    """
    WITH tf AS (
        SELECT term, count(*) AS c
        FROM (SELECT explode(split(text, ' ')) AS term FROM documents)
        GROUP BY term
    ),
    hashed AS (
        SELECT term, c,
               aggregate(split(term, ''), 7L,
                         (acc, ch) -> (acc * 31 + ascii(ch)) % 1000000007) AS h0
        FROM tf
    ),
    rows_ AS (SELECT explode(sequence(0, 3)) AS r),
"""
    + _CMS_CELLS_SQL
)

_CMS_DUCK_SQL = (
    """
    WITH tf AS (
        SELECT term, count(*) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY term
    ),
    hashed AS (
        SELECT term, c,
               list_reduce(list_prepend(7::BIGINT,
                               [ascii(ch)::BIGINT FOR ch IN string_split(term, '')]),
                           (a, b) -> (a * 31 + b) % 1000000007) AS h0
        FROM tf
    ),
    rows_ AS (SELECT unnest(range(0, 4)) AS r),
"""
    + _CMS_CELLS_SQL
)


@register(
    "agg_countmin_freq",
    oracle=_CMS_DUCK_SQL,
    tags=("sketch", "countmin", "frequency"),
    doc="Count-min sketch (Cormode & Muthukrishnan 2005), d=4 x w=8: "
    "cells are sums over the hashed vocabulary (one token shuffle + one "
    "bounded cell aggregate, O(d*w) state at any corpus size, mergeable "
    "by addition); point queries for the top-5 terms take the min over "
    "rows — exact-integer affine rehash, overcount >= 0 by construction.",
)
def agg_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.sql(spark, sf_dir, _CMS_SPARK_SQL)


# --- approx_most_frequent: the SpaceSaving sketch (Presto parity) ----------
#
# Reference: presto-main/.../aggregation/approxmostfrequent/
# ApproximateMostFrequentFunction.java — SpaceSaving (Metwally et al.
# 2005) with `capacity` tracked entries; estimates never undercount
# (est >= true >= est - err) and any value with frequency > N/capacity
# is guaranteed tracked.  text_heavy_hitters is the two-pass
# Misra-Gries + exact-recount pattern (exact output); THIS entry is the
# one-pass mergeable-sketch semantics the reference function actually
# ships: per-partition SpaceSaving inside Arrow batches (each batch
# pre-counted with value_counts, then merged into the capacity-bounded
# summary — the mergeable-summaries formulation), partition sketches
# merged with PODS'12 mergeable-summaries semantics, bound-compatible
# with StreamSummary.merge (spacesaving_merge: absent keys absorb the
# source sketch's eviction floor into estimate and error, then re-prune
# to capacity).  With capacity
# (256) >= the key cardinality (~120 event_type#hour keys) no eviction
# ever fires, every error is 0 and the sketch is provably exact — which
# is what makes the entry oracle-able against an exact GROUP BY; the
# capacity < NDV approximation path is pinned separately by a pytest
# asserting the SpaceSaving bounds on a skewed stream.  Scale shape:
# ONE corpus scan, per-task state <= capacity entries, merge rows <=
# capacity x partitions — the same bounded-state contract as the HLL /
# qdigest rollups.
_AMF_CAPACITY = 256


def spacesaving_update(counts: dict, value, n: int, capacity: int) -> None:
    """Merge `n` occurrences of `value` into a SpaceSaving summary
    {value: [estimate, error]} bounded at `capacity` entries."""
    if value in counts:
        counts[value][0] += n
    elif len(counts) < capacity:
        counts[value] = [n, 0]
    else:
        victim = min(counts, key=lambda k: (counts[k][0], k))
        est, _err = counts.pop(victim)
        # new entry inherits the victim's estimate as its error bound
        counts[value] = [est + n, est]


def spacesaving_floor(counts: dict, capacity: int) -> int:
    """Eviction floor of a summary: an absent key's true count is 0 if
    the summary never filled, else bounded by the minimum estimate
    (Metwally et al. 2005, Lemma 3.3)."""
    if len(counts) < capacity:
        return 0
    return min(v[0] for v in counts.values())


def spacesaving_merge(sketches: list, capacity: int) -> dict:
    """Merge SpaceSaving summaries with Agarwal et al. "Mergeable
    Summaries" (PODS'12 SS4) semantics — bound-compatible with, but not
    identical to, the reference StreamSummary.merge (presto-main/.../
    aggregation/approxmostfrequent/stream/StreamSummary.java), which
    instead RE-INSERTS the other summary's entries through add() (evict
    the minimum; the inserted key's error is the victim's estimate at
    insertion time).  In the evicting regime the two produce different
    per-key estimates/errors; both preserve the same correctness
    envelope, and the pytest bounds pin this one's.  Each element is
    ``(counts, floor)`` where
    ``floor`` is that sketch's eviction floor; a key absent from a sketch
    contributes the floor to BOTH its merged estimate and its merged
    error bound (the absent mass may be up to floor, and all of it is
    uncertain), and the union is then pruned back to the ``capacity``
    largest estimates.  Preserves est >= true >= est - err across the
    merge even when individual partitions evicted."""
    keys: set = set()
    for counts, _floor in sketches:
        keys.update(counts)
    merged: dict = {}
    for k in keys:
        est = 0
        err = 0
        for counts, floor in sketches:
            if k in counts:
                e, r = counts[k]
                est += e
                err += r
            else:
                est += floor
                err += floor
        merged[k] = [est, err]
    if len(merged) > capacity:
        keep = sorted(merged, key=lambda k: (-merged[k][0], k))[:capacity]
        merged = {k: merged[k] for k in keep}
    return merged


@register(
    "agg_approx_most_frequent",
    oracle="""
    WITH keyed AS (
        SELECT event_type || '#' || CAST(hour(ts) AS VARCHAR) AS k FROM events
    ),
    exact AS (SELECT k, count(*) AS c FROM keyed GROUP BY k)
    SELECT k AS value, CAST(c AS BIGINT) AS est_count,
           CAST(0 AS BIGINT) AS max_err,
           CAST(row_number() OVER (ORDER BY c DESC, k) AS BIGINT) AS rk
    FROM exact ORDER BY rk LIMIT 10
    """,
    tags=("sketches", "aggregates"),
    doc="approx_most_frequent (SpaceSaving, Presto parity): one-pass "
    "capacity-bounded summaries per Arrow batch merged with "
    "mergeable-summaries (PODS'12) semantics, bound-compatible with "
    "StreamSummary.merge (absent key <- source eviction floor, "
    "re-prune to capacity); capacity 256 >= ~120 keys makes every error 0 and "
    "the top-10 provably exact (the oracle); the capacity<NDV bound "
    "(est >= true >= est - err, heavy keys always tracked) is pinned by "
    "pytest on a skewed stream.",
)
def agg_approx_most_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import functions as F

    def sketch(batches):
        import uuid

        counts: dict = {}
        for pdf in batches:
            for value, n in pdf["k"].value_counts().items():
                spacesaving_update(counts, value, int(n), _AMF_CAPACITY)
        if counts:
            # sid tags the rows of THIS partition's summary so the merge
            # can reconstruct it; floor is its eviction floor (0 unless
            # the partition actually evicted) — dropped before output.
            yield pd.DataFrame(
                {
                    "sid": uuid.uuid4().hex,
                    "k": list(counts),
                    "est": [v[0] for v in counts.values()],
                    "err": [v[1] for v in counts.values()],
                    "floor": spacesaving_floor(counts, _AMF_CAPACITY),
                }
            )

    keyed = (
        catalog.table(spark, sf_dir, "events")
        .select(
            F.concat_ws("#", F.col("event_type"), F.hour("ts").cast("string")).alias("k")
        )
    )
    partials = keyed.mapInPandas(
        sketch, "sid string, k string, est long, err long, floor long"
    )

    # Merge = PODS'12 mergeable-summaries semantics, bound-compatible
    # with the reference's StreamSummary.merge (spacesaving_merge:
    # absent key <- source sketch's eviction floor added to estimate AND
    # error, union re-pruned to capacity), run on ONE task over the
    # bounded partial rows (<= capacity x partitions: 256 x 1000 tasks =
    # 256k tiny rows at cluster scale — merge state is O(capacity), the
    # same bounded-merge contract as the HLL/qdigest rollups).  The
    # previous plain groupBy-sum undercounted when any partition evicted
    # (r9 ADVICE): mass absorbed into a victim's successor was dropped
    # for keys tracked elsewhere.
    def merge_sketches(batches):
        chunks = list(batches)
        if not chunks:
            return
        rows = pd.concat(chunks, ignore_index=True)
        if rows.empty:
            return
        sketches = []
        for _sid, g in rows.groupby("sid"):
            counts = {
                k: [int(e), int(r)]
                for k, e, r in zip(g["k"], g["est"], g["err"])
            }
            sketches.append((counts, int(g["floor"].iloc[0])))
        out = spacesaving_merge(sketches, _AMF_CAPACITY)
        yield pd.DataFrame(
            {
                "k": list(out),
                "est_count": [v[0] for v in out.values()],
                "max_err": [v[1] for v in out.values()],
            }
        )

    merged = partials.repartition(1).mapInPandas(
        merge_sketches, "k string, est_count long, max_err long"
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("est_count").desc(), F.col("k"))
    return (
        merged.select(
            F.col("k").alias("value"),
            F.col("est_count").cast("long"),
            F.col("max_err").cast("long"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .orderBy("rk")
        .limit(10)
    )
