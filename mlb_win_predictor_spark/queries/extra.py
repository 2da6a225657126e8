"""Remaining engine-surface catalog entries (SURVEY §2.4-2.6 'absent from
reference, declared as built-ins' + §2.9 UDTF surface): correlation, cube,
cross join, non-equi range join, RANGE window frames, positional explode,
ranking functions, approximate distinct."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.ngrams import word_tokens
from ..functions.scalars import stable_round
from ..session import load_table
from .base import QueryDef

D2 = "decimal(18,2)"


def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — pairwise relationships (the sns.pairplot of eda cell 35):
    sample Pearson correlations over lineitem measures."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        stable_round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        stable_round(F.corr("l_quantity", "l_discount"), 6).alias("corr_qty_disc"),
        stable_round(F.corr("l_extendedprice", "l_discount"), 6).alias("corr_price_disc"),
    )


CORR_SQL = """
SELECT (ROUND(CORR(l_quantity, l_extendedprice) * 1e6) / 1e6) AS corr_qty_price,
       (ROUND(CORR(l_quantity, l_discount) * 1e6) / 1e6)      AS corr_qty_disc,
       (ROUND(CORR(l_extendedprice, l_discount) * 1e6) / 1e6) AS corr_price_disc
FROM lineitem
"""


def cube_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cube lattice over (priority, status) — all 4 grouping sets."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast(D2)).cast("double").alias("total"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            "n",
            "total",
        )
    )


CUBE_SQL = """
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL') AS status,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def cross_join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join (SURVEY §2.4 — the NearestCentroid scorer shape):
    region × nation grid with a derived same-region flag."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select(
        "r_regionkey",
        "n_nationkey",
        (F.col("n_regionkey") == F.col("r_regionkey")).cast("int").alias("same_region"),
    )


CROSS_JOIN_SQL = """
SELECT r_regionkey, n_nationkey,
       CASE WHEN n_regionkey = r_regionkey THEN 1 ELSE 0 END AS same_region
FROM region CROSS JOIN nation
"""


PRICE_BANDS = [
    (0.0, 50000.0, "low"),
    (50000.0, 150000.0, "mid"),
    (150000.0, 300000.0, "high"),
    (300000.0, 1e9, "extreme"),
]


def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta/range) join: orders banded by price via
    lo <= price < hi against a broadcast band dim — the Spark plan is a
    BroadcastNestedLoopJoin with the range predicate, the scalable form
    of a bucketize-then-equi-join."""
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(PRICE_BANDS, ["lo", "hi", "band"])
    joined = o.join(
        F.broadcast(bands),
        (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        "inner",
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(D2)).cast("double").alias("total"),
    )


_bands_values = ", ".join(f"({lo}, {hi}, '{b}')" for lo, hi, b in PRICE_BANDS)
RANGE_JOIN_SQL = f"""
WITH bands(lo, hi, band) AS (VALUES {_bands_values})
SELECT band, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
"""


OVERLAP_DAYS = 7
OVERLAP_EPOCH = "1992-01-01"


def interval_overlap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large×large interval-overlap self-join via
    ``operators.rangejoin.bucketed_interval_join``: each order is active
    for [orderdate, orderdate+7]; count the other orders whose activity
    window overlaps. A naive overlap join is a BroadcastNestedLoopJoin /
    cartesian plan — impossible when BOTH sides are fact-sized — so the
    value domain is bucketized (width = interval span + 1) and the join
    becomes an ordinary bucket-key hash shuffle with each pair emitted in
    its canonical bucket exactly once; the oracle runs the plain
    inequality join (DuckDB IEJoin) as the semantic ground truth."""
    from ..operators.rangejoin import bucketed_interval_join

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff("o_orderdate", F.lit(OVERLAP_EPOCH).cast("date")).alias("s"),
    ).withColumn("e", F.col("s") + OVERLAP_DAYS)
    a = o.select(
        F.col("o_orderkey").alias("a_key"),
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
    )
    b = o.select(
        F.col("o_orderkey").alias("b_key"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
    )
    pairs = bucketed_interval_join(
        a, b, "a_s", "a_e", "b_s", "b_e",
        bucket_width=OVERLAP_DAYS + 1,
        extra_cond=F.col("a_key") != F.col("b_key"),
    )
    counts = pairs.groupBy("a_key").agg(F.count(F.lit(1)).alias("n_overlaps"))
    return (
        o.select(F.col("o_orderkey"))
        .join(counts, o.o_orderkey == counts.a_key, "left")
        .select(
            "o_orderkey",
            F.coalesce(F.col("n_overlaps"), F.lit(0)).alias("n_overlaps"),
        )
    )


INTERVAL_OVERLAP_SQL = f"""
WITH iv AS (
  SELECT o_orderkey,
         date_diff('day', DATE '{OVERLAP_EPOCH}', o_orderdate) AS s,
         date_diff('day', DATE '{OVERLAP_EPOCH}', o_orderdate) + {OVERLAP_DAYS} AS e
  FROM orders
), pairs AS (
  SELECT a.o_orderkey AS a_key, CAST(COUNT(*) AS BIGINT) AS n_overlaps
  FROM iv a JOIN iv b
    ON a.s <= b.e AND b.s <= a.e AND a.o_orderkey != b.o_orderkey
  GROUP BY 1
)
SELECT iv.o_orderkey, COALESCE(p.n_overlaps, 0) AS n_overlaps
FROM iv LEFT JOIN pairs p ON iv.o_orderkey = p.a_key
"""


def range_between_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (SURVEY §2.6): per order, count+sum of the customer's
    orders in the previous 90 days (value-based frame, not row-based) —
    the time-decayed variant of the J4 as-of pattern."""
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    w = (
        W.partitionBy("o_custkey")
        .orderBy(day.cast("long"))
        .rangeBetween(-90, -1)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("prior_90d_orders"),
        F.sum(F.col("o_totalprice").cast(D2)).over(w).cast("double").alias("prior_90d_total"),
    )


RANGE_BETWEEN_SQL = """
SELECT o_custkey, o_orderkey,
       COUNT(*) OVER w AS prior_90d_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS prior_90d_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY datediff('day', DATE '1995-01-01', o_orderdate)
             RANGE BETWEEN 90 PRECEDING AND 1 PRECEDING)
"""


EXPLODE_DOC_CAP = 20


def explode_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF surface (SURVEY §2.9): posexplode of document tokens —
    (doc_id, pos, token) rows, 1-based positions."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < EXPLODE_DOC_CAP)
    toks = word_tokens("text")
    return d.select("doc_id", F.posexplode(toks).alias("pos", "token")).withColumn(
        "pos", F.col("pos") + 1
    )


EXPLODE_SQL = rf"""
SELECT doc_id,
       CAST(generate_subscripts(regexp_split_to_array(TRIM(text), '\s+'), 1) AS INT) AS pos,
       UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS token
FROM documents WHERE doc_id < {EXPLODE_DOC_CAP}
"""


def ranking_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile / percent_rank over customer balances
    within market segments (deterministic: custkey tie-break feeds
    row_number; rank family computed on the balance alone)."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc())
    wt = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_mktsegment",
        "c_custkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(wt).cast("long").alias("quartile"),
        stable_round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


RANKING_SQL = """
SELECT c_mktsegment, c_custkey,
       RANK()       OVER w  AS rnk,
       DENSE_RANK() OVER w  AS drnk,
       NTILE(4)     OVER wt AS quartile,
       (ROUND(PERCENT_RANK() OVER w * 1e6) / 1e6) AS pct_rank
FROM customer
WINDOW w  AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC),
       wt AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
"""


def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) — the dual of unionByName+dropDuplicates."""
    o = load_table(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return hi.union(urgent).distinct()


UNION_DISTINCT_SQL = """
SELECT o_custkey FROM orders WHERE o_totalprice > 300000
UNION
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) — sketch semantics differ from
    DuckDB's approximation, so this is rows-only; the exact dual is
    oracle-checked in ``distinct_count``."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_customers"),
        F.countDistinct("o_custkey").alias("exact_customers"),
    )




def having_filter_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING through the SQL API (the catalog is otherwise
    DataFrame-API; Catalyst produces the same plan either way — this
    entry pins that equivalence): customers with 15+ orders and their
    decimal-exact spend."""
    from ..session import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_custkey,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) >= 15
        """
    )


HAVING_SQL = """
SELECT o_custkey, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
"""


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping_id — the generalization of the
    rollup/cube entries: three explicit granularities in one pass
    (Spark expands to a single Expand + hash agg, one shuffle)."""
    from ..session import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (`percentile` /
    `quantile_cont`) — the exact complement of A1's percentile_approx.
    Exact percentiles need a per-group sort; at 100 TB the approx path
    (one-pass GK sketch, mergeable) is the default and this is the
    bounded-cardinality / oracle path."""
    li = load_table(spark, sf_dir, "lineitem")
    pcts = F.percentile("l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    agg = li.groupBy("l_returnflag").agg(pcts.alias("p"))
    return agg.select(
        "l_returnflag",
        stable_round(F.element_at("p", 1), 6).alias("p25"),
        stable_round(F.element_at("p", 2), 6).alias("p50"),
        stable_round(F.element_at("p", 3), 6).alias("p75"),
    )


EXACT_PERCENTILES_SQL = """
SELECT l_returnflag,
       (ROUND(quantile_cont(l_extendedprice, 0.25) * 1e6) / 1e6) AS p25,
       (ROUND(quantile_cont(l_extendedprice, 0.50) * 1e6) / 1e6) AS p50,
       (ROUND(quantile_cont(l_extendedprice, 0.75) * 1e6) / 1e6) AS p75
FROM lineitem GROUP BY l_returnflag
"""


PERCENTILE_WITHIN_GROUP_SQL = """
SELECT l_returnflag,
       ROUND(CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS DOUBLE) * 1e6) / 1e6 AS median_cont,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS DOUBLE) AS median_disc,
       ROUND(CAST(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS DOUBLE) * 1e6) / 1e6 AS p90_cont
FROM lineitem GROUP BY l_returnflag
"""


def percentile_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2008 ordered-set aggregates ``percentile_cont`` /
    ``percentile_disc ... WITHIN GROUP`` — the standard spelling of
    ``exact_percentiles`` plus the DISCRETE variant (an actual data
    value, what cont's interpolation can't give you). ONE dialect-common
    SQL text runs on both engines verbatim (tri-modal, pinned in
    tests/test_sql_surface.py). Same scale posture as exact_percentiles:
    the exact form needs a per-group sort; the 100 TB default is the
    mergeable sketch (`approx_percentiles`), with this as its oracle."""
    from ..session import register_views

    register_views(spark, sf_dir)
    return spark.sql(PERCENTILE_WITHIN_GROUP_SQL)


REGRESSION_AGG_SQL = """
SELECT l_returnflag,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
       ROUND(regr_slope(l_extendedprice, l_quantity) * 1e6) / 1e6 AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity) * 1e6) / 1e6 AS intercept,
       ROUND(regr_r2(l_extendedprice, l_quantity) * 1e6) / 1e6 AS r2,
       ROUND(corr(l_extendedprice, l_quantity) * 1e6) / 1e6 AS pearson_r
FROM lineitem GROUP BY l_returnflag
"""


def regression_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2003 linear-regression aggregates (``regr_slope`` /
    ``regr_intercept`` / ``regr_r2`` / ``regr_count`` + Pearson r): the
    price~quantity fit per return flag, entirely inside the JVM
    aggregation framework — one partial-aggregated groupBy, no
    `applyInPandas` (contrast `per_group_linear_models`, which exists
    for MULTI-feature fits where numpy lstsq is the right tool; for the
    single-regressor case the built-in moment aggregates are exact, one
    pass, and mergeable at any scale). Dialect-common text → tri-modal
    (tests/test_sql_surface.py); 6dp rounding absorbs the engines'
    different partial-fold orders, as with `corr_matrix`."""
    from ..session import register_views

    register_views(spark, sf_dir)
    return spark.sql(REGRESSION_AGG_SQL)


def iqr_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection per group (the numeric data-cleaning
    rule): rows outside [q1 - 1.5*IQR, q3 + 1.5*IQR] of their event
    type's value. The per-group quartiles are a tiny aggregate joined
    back via broadcast, so the fact table streams once; both engines
    compute quantile_cont with the same (n-1)*p interpolation on the same
    doubles, so the fences agree bit-for-bit. Runs on events.value
    (long-tailed — hundreds of outliers at sf0.01): the uniform TPC-H
    price columns have NO Tukey outliers, which made the original
    lineitem version hash-match on the empty set and verify nothing
    (the q22 lesson; non-vacuousness pytest-pinned)."""
    e = load_table(spark, sf_dir, "events")
    pcts = F.percentile("value", F.array(F.lit(0.25), F.lit(0.75)))
    bounds = (
        e.groupBy("event_type")
        .agg(pcts.alias("p"))
        .select(
            "event_type",
            (F.element_at("p", 1) - 1.5 * (F.element_at("p", 2) - F.element_at("p", 1))).alias("lo"),
            (F.element_at("p", 2) + 1.5 * (F.element_at("p", 2) - F.element_at("p", 1))).alias("hi"),
        )
    )
    j = e.join(F.broadcast(bounds), "event_type")
    out = j.filter((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")))
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_outliers"),
        F.min("value").alias("min_outlier"),
        F.max("value").alias("max_outlier"),
    )


IQR_OUTLIER_SQL = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_outliers,
       MIN(value) AS min_outlier,
       MAX(value) AS max_outlier
FROM events e JOIN b ON e.event_type = b.event_type
WHERE value < q1 - 1.5*(q3-q1)
   OR value > q3 + 1.5*(q3-q1)
GROUP BY 1
"""


APPROX_PCT_ACCURACY = 10000


def approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass mergeable quantile sketch per group (`percentile_approx`,
    Greenwald-Khanna) — the 100 TB default for A1-style summaries: no
    per-group sort, map-side partial sketches merge associatively, error
    bounded by 1/accuracy. Rows-only entry (DuckDB's approx_quantile is a
    different sketch); accuracy vs the exact sort-based percentile is
    pytest-enforced (test_approx_percentiles_within_rank_error)."""
    li = load_table(spark, sf_dir, "lineitem")
    pcts = F.percentile_approx(
        "l_extendedprice",
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
        F.lit(APPROX_PCT_ACCURACY),
    )
    agg = li.groupBy("l_returnflag").agg(pcts.alias("p"))
    return agg.select(
        "l_returnflag",
        F.element_at("p", 1).alias("p25"),
        F.element_at("p", 2).alias("p50"),
        F.element_at("p", 3).alias("p75"),
    )


def dense_global_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0..n-1 surrogate-key assignment over orders ordered by
    o_orderkey — implemented WITHOUT the single-partition global window
    (operators.indexing: range partition → local row_number → offset
    join); the oracle is the naive ROW_NUMBER()-1 formulation."""
    from ..operators.indexing import dense_global_index

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    return dense_global_index(o, order_cols=["o_orderkey"]).select(
        "o_orderkey", "row_idx"
    )


DENSE_INDEX_SQL = """
SELECT o_orderkey,
       CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey ASC) - 1 AS BIGINT) AS row_idx
FROM orders
"""


def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding (the leakage-free categorical
    encoder of a feature pipeline): each customer's segment is encoded as
    the mean positive-balance rate of the OTHER customers in the segment
    — window sums minus self, no per-row subquery."""
    c = load_table(spark, sf_dir, "customer")
    label = (F.col("c_acctbal") > 0).cast("long")
    w = W.partitionBy("c_mktsegment")
    loo = (F.sum(label).over(w) - label).cast("double") / (
        F.count(F.lit(1)).over(w) - 1
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        label.alias("label"),
        stable_round(loo, 6).alias("segment_loo_rate"),
    )


TARGET_ENCODE_SQL = """
WITH lab AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS label
  FROM customer
)
SELECT c_custkey, c_mktsegment, CAST(label AS BIGINT) AS label,
       (ROUND(CAST(SUM(label) OVER w - label AS DOUBLE)
              / (COUNT(*) OVER w - 1) * 1e6) / 1e6) AS segment_loo_rate
FROM lab
WINDOW w AS (PARTITION BY c_mktsegment)
"""


def hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — THE pattern for distinct counts at
    100 TB: build per-nation HLL sketches of customer keys once, then
    roll up to region by merging sketches (`hll_union_agg`) without
    rescanning the fact. Rows-only: the estimate is
    implementation-defined (Datasketches), accuracy vs exact is
    pytest-asserted."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_nation = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey", "n_nationkey")
        .agg(F.hll_sketch_agg("c_custkey").alias("sk"))
    )
    return (
        per_nation.groupBy("n_regionkey")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias(
                "approx_customers"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


def theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra (Datasketches, native in Spark 4) — the
    scale path for cross-segment audience overlap: per-event-type theta
    sketches of user ids, then |A∩B| / |A∪B| / |A\\B| estimated from the
    two SKETCHES, never a self-join of the fact. At 100 TB each segment
    sketch is one partial-agg tree; every pairwise overlap after that is
    O(sketch size). Rows-only (estimates are implementation-defined);
    accuracy vs exact distinct intersections is pytest-asserted."""
    e = load_table(spark, sf_dir, "events")
    sk = e.groupBy("event_type").agg(
        F.expr("theta_sketch_agg(user_id)").alias("sk")
    )
    a = sk.select(F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"))
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    return pairs.select(
        "type_a",
        "type_b",
        F.expr("CAST(theta_sketch_estimate(theta_intersection(sk_a, sk_b)) AS LONG)").alias(
            "users_both"
        ),
        F.expr("CAST(theta_sketch_estimate(theta_union(sk_a, sk_b)) AS LONG)").alias(
            "users_either"
        ),
        F.expr("CAST(theta_sketch_estimate(theta_difference(sk_a, sk_b)) AS LONG)").alias(
            "users_only_a"
        ),
    )


def kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketches (Datasketches, native in Spark 4) — the
    MERGEABLE percentile path: per-event-type KLL sketches of value,
    rolled up to a global sketch via kll_merge_agg_double without
    rescanning the fact (same shape as the HLL rollup but for
    quantiles/ranks). Rows-only; rank error vs exact percentiles is
    pytest-asserted."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    per_type = e.groupBy("event_type").agg(
        F.expr("kll_sketch_agg_double(value, 200)").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    merged = per_type.agg(
        F.expr("kll_merge_agg_double(sk)").alias("g"),
        F.sum("n_rows").alias("n_rows"),
    )
    return merged.select(
        F.lit("all").alias("scope"),
        "n_rows",
        F.expr("kll_sketch_get_quantile_double(g, 0.5)").alias("p50"),
        F.expr("kll_sketch_get_quantile_double(g, 0.95)").alias("p95"),
        F.expr("kll_sketch_get_quantile_double(g, 0.99)").alias("p99"),
    )


def first_last_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value over a full-partition frame: each
    customer's first and latest order total beside every order."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_total"),
        F.last("o_totalprice").over(w).alias("last_total"),
    )


FIRST_LAST_SQL = """
SELECT o_custkey, o_orderkey,
       FIRST_VALUE(o_totalprice) OVER w AS first_total,
       LAST_VALUE(o_totalprice)  OVER w AS last_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""




def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide->long, the dual of pivot_wide): lineitem measures
    melted to (key, measure, value) rows via df.unpivot/stack."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "value",
    )


UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, measure, value
FROM (
  SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
  FROM lineitem WHERE l_orderkey < 200
) UNPIVOT (value FOR measure IN (l_quantity, l_discount, l_tax))
"""


def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function battery over token arrays: union/intersect/except,
    sort, slice, contains, flatten-free sizes — the list-manipulation
    surface the dedup/text operators compose from."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = F.array_distinct(word_tokens("text"))
    common = F.array(F.lit("the"), F.lit("data"), F.lit("row"), F.lit("table"))
    return d.select(
        "doc_id",
        F.size(F.array_intersect(toks, common)).alias("n_common"),
        F.size(F.array_except(toks, common)).alias("n_rest"),
        F.size(F.array_union(toks, common)).alias("n_union"),
        F.element_at(F.array_sort(toks), 1).alias("first_sorted_token"),
        F.array_contains(toks, "spark").cast("int").alias("mentions_spark"),
        F.concat_ws("|", F.slice(F.array_sort(toks), 1, 3)).alias("first3"),
    )


ARRAY_FUNCTIONS_SQL = r"""
WITH t AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(TRIM(text), '\s+')) AS toks,
         ['the', 'data', 'row', 'table'] AS common
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       CAST(len(list_intersect(toks, common)) AS INT) AS n_common,
       CAST(len(list_filter(toks, x -> NOT list_contains(common, x))) AS INT) AS n_rest,
       CAST(len(list_distinct(list_concat(toks, common))) AS INT) AS n_union,
       list_sort(toks)[1] AS first_sorted_token,
       CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END AS mentions_spark,
       array_to_string(list_slice(list_sort(toks), 1, 3), '|') AS first3
FROM t
"""


RECURSIVE_HIERARCHY_SQL = """
WITH RECURSIVE walk(root, pk, depth, price) AS (
  SELECT p_partkey AS root, p_partkey AS pk, 0 AS depth,
         CAST(p_retailprice AS DECIMAL(18,2)) AS price
  FROM part WHERE p_partkey < 10
  UNION ALL
  SELECT w.root, p.p_partkey, w.depth + 1,
         CAST(p.p_retailprice AS DECIMAL(18,2))
  FROM walk w JOIN part p
    ON CAST(FLOOR(p.p_partkey / 10.0) AS BIGINT) = w.pk AND p.p_partkey >= 10
)
SELECT root, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MAX(depth) AS BIGINT) AS max_depth,
       CAST(SUM(price) AS DOUBLE) AS subtree_price
FROM walk GROUP BY root
"""


def recursive_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE hierarchy traversal + rollup (Spark 4's native
    ``WITH RECURSIVE``, SPARK-24497): a BOM-style containment tree
    derived from ``part`` (node k's parent is k/10, roots are k<10) is
    walked from the roots, then each root's subtree is rolled up
    (node count, max depth, exact-decimal subtree price). The SAME SQL
    text runs on both engines — the recursion is dialect-common.

    Scale: each iteration is one hash join of the frontier against the
    static ``part`` scan; depth is log10(max key), so the loop runs a
    handful of iterations even at 100 TB key ranges, and each level's
    frontier is a partitioned DataFrame — no driver-side accumulation.
    The recursion's TOTAL row count is structurally |part| (the k→k/10
    tree has a single parent per node, so the walk visits each part
    exactly once), but Spark's runaway-recursion safety valve
    ``spark.sql.cteRecursionRowLimit`` defaults to 1M rows and aborts
    the query one decade up (found by the r12 sf10 extension sweep:
    RECURSION_ROW_LIMIT_EXCEEDED at |part| = 2M). The valve is a
    per-query guard, not a capability bound — raise it to its int max
    while keeping the depth valve (default 100 ≫ log10)."""
    from ..session import register_views

    register_views(spark, sf_dir)
    # the conf is a JVM int; 2^31−1 is the largest accepted value
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(2**31 - 1))
    return spark.sql(RECURSIVE_HIERARCHY_SQL)


LATERAL_SPARK_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
) t
WHERE c.c_mktsegment = 'BUILDING'
"""

LATERAL_ORACLE_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
) t
WHERE c.c_mktsegment = 'BUILDING'
"""


def lateral_topn_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row LIMIT (SQL:2016 lateral
    derived tables; Spark SQL ``JOIN LATERAL``): each BUILDING customer's
    top-2 orders by price. The DataFrame-API dual is
    ``topk_per_group`` (window row_number <= k); this entry pins that the
    SQL surface decorrelates to the same shape — Catalyst rewrites the
    per-row subquery into a join + per-key window/limit, NOT one
    subquery execution per outer row (the 100 TB difference between a
    plan and a driver loop). Deterministic via the total tie-break
    (price DESC, orderkey ASC)."""
    from ..session import register_views

    register_views(spark, sf_dir)
    return spark.sql(LATERAL_SPARK_SQL)


LISTAGG_SPARK_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       listagg(CAST(o_orderkey AS STRING), ',')
         WITHIN GROUP (ORDER BY o_orderkey) AS keys
FROM orders WHERE o_orderkey < 300 GROUP BY o_orderpriority
"""

LISTAGG_ORACLE_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS keys
FROM orders WHERE o_orderkey < 300 GROUP BY o_orderpriority
"""


def listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2023 LISTAGG ... WITHIN GROUP (Spark 4's native ordered string
    aggregation; the reference's HTML-list building D10 used concat over
    a collected array — this is the standard-SQL spelling). The
    WITHIN-GROUP order makes the result value-deterministic without the
    array_sort(collect_list) detour the `string_agg_digest` entry takes.
    Keys capped to bound the string length; one hash agg, map-side
    combined like any other aggregate."""
    from ..session import register_views

    register_views(spark, sf_dir)
    return spark.sql(LISTAGG_SPARK_SQL)


ZONEMAP_LOOKUP_LO, ZONEMAP_LOOKUP_HI = 1000, 2999


def zonemap_snapshot_path(sf_dir: str) -> str:
    """Content-tagged temp location of the zone-map snapshot for one
    sf_dir — the tag covers the source parquet's (mtime, size), not just
    its path, so a regenerated dataset invalidates the snapshot. Shared
    with tests/test_table.py: the r9 full-suite run caught the test
    rebuilding the PRE-ea99d09 path-only tag, which only ever passed
    because a stale /tmp dir from before the content-tag change was
    still on disk — a fresh boot surfaced the mismatch."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "orders.parquet")
    st = os.stat(src)
    sig = f"{os.path.abspath(sf_dir)}:{st.st_mtime_ns}:{st.st_size}"
    tag = hashlib.md5(sig.encode()).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"mlbwp_ztab_{tag}")


def versioned_zonemap_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 + data skipping — a range lookup served through a committed
    ``VersionedTable`` snapshot's zone-map (``read_pruned``,
    operators/table.py): per-file min/max stats prune every file whose
    key range cannot overlap [lo, hi]; the residual filter decides. By
    construction the result is identical to a full-scan filter — this
    entry pins that with a DuckDB oracle over the raw ``orders`` table,
    while tests/test_table.py pins the files-actually-skipped claim.

    The snapshot is built ONCE per sf_dir into a content-tagged temp
    location (range-clustered into 16 files on ``o_orderkey`` via
    repartitionByRange + sortWithinPartitions, so zone ranges are tight
    and disjoint) and reused by later calls — the entry then times the
    PRUNED READ, which at 100 TB is the difference between scanning a
    keyspace slice and scanning the table. The tag covers the source
    parquet's (mtime, size), not just its path: a REGENERATED dataset
    under the same path must invalidate the snapshot, or the read would
    silently serve stale rows (and the first timed run after any data
    refresh honestly pays one snapshot build — the r7 sf1 sweep recorded
    exactly that as its only 'superlinear' point)."""
    from ..operators.table import VersionedTable

    t = VersionedTable(zonemap_snapshot_path(sf_dir))
    if t.latest_version() is None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        try:
            t.init(
                orders.repartitionByRange(16, "o_orderkey").sortWithinPartitions(
                    "o_orderkey"
                )
            )
        except FileExistsError:
            pass  # a concurrent builder won the init CAS; read its snapshot
    df = t.read_pruned(spark, "o_orderkey", ZONEMAP_LOOKUP_LO, ZONEMAP_LOOKUP_HI)
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(D2)).cast("double").alias("total_price"),
        F.countDistinct("o_custkey").alias("n_custkeys"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


ZONEMAP_LOOKUP_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custkeys,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM orders
WHERE o_orderkey BETWEEN {ZONEMAP_LOOKUP_LO} AND {ZONEMAP_LOOKUP_HI}
"""


QUERIES: dict[str, QueryDef] = {
    "versioned_zonemap_lookup": QueryDef(
        versioned_zonemap_lookup,
        ZONEMAP_LOOKUP_SQL,
        "S9: zone-map-pruned range read over a VersionedTable snapshot (data skipping)",
    ),
    "listagg_ordered": QueryDef(
        listagg_ordered,
        LISTAGG_ORACLE_SQL,
        "ordered LISTAGG / string_agg within group",
    ),
    "lateral_topn_subquery": QueryDef(
        lateral_topn_subquery,
        LATERAL_ORACLE_SQL,
        "correlated LATERAL top-N subquery (decorrelated by Catalyst)",
    ),
    "grouping_sets_agg": QueryDef(
        grouping_sets_agg, GROUPING_SETS_SQL, "GROUPING SETS + grouping_id"
    ),
    "exact_percentiles": QueryDef(
        exact_percentiles, EXACT_PERCENTILES_SQL, "exact interpolated percentiles"
    ),
    "percentile_within_group": QueryDef(
        percentile_within_group,
        PERCENTILE_WITHIN_GROUP_SQL,
        "SQL:2008 percentile_cont/disc WITHIN GROUP (tri-modal)",
    ),
    "regression_aggregates": QueryDef(
        regression_aggregates,
        REGRESSION_AGG_SQL,
        "SQL:2003 regr_* linear-fit aggregates (tri-modal)",
    ),
    "approx_percentiles": QueryDef(
        approx_percentiles, None, "mergeable GK quantile sketch"
    ),
    "iqr_outlier_filter": QueryDef(
        iqr_outlier_filter, IQR_OUTLIER_SQL, "Tukey-fence outliers per group"
    ),
    "dense_global_index": QueryDef(
        dense_global_index_query, DENSE_INDEX_SQL, "dense surrogate keys, no 1-partition sort"
    ),
    "target_encode_loo": QueryDef(
        target_encode_loo, TARGET_ENCODE_SQL, "leave-one-out target encoding"
    ),
    "theta_audience_overlap": QueryDef(
        theta_audience_overlap, None, "theta-sketch set algebra (overlap, no self-join)"
    ),
    "kll_quantile_rollup": QueryDef(
        kll_quantile_rollup, None, "KLL mergeable quantile rollup"
    ),
    "hll_mergeable_rollup": QueryDef(
        hll_mergeable_rollup, None, "HLL sketch rollup (merge, no rescan)"
    ),
    "corr_matrix": QueryDef(corr_matrix, CORR_SQL, "A3 correlations"),
    "having_filter_sql_api": QueryDef(having_filter_sql_api, HAVING_SQL, "SQL API + HAVING"),
    "unpivot_measures": QueryDef(unpivot_measures, UNPIVOT_SQL, "unpivot wide->long"),
    "array_functions": QueryDef(array_functions, ARRAY_FUNCTIONS_SQL, "array fn battery"),
    "first_last_window": QueryDef(first_last_window, FIRST_LAST_SQL, "first/last_value"),
    "cube_aggregation": QueryDef(cube_aggregation, CUBE_SQL, "cube lattice"),
    "cross_join_dims": QueryDef(cross_join_dims, CROSS_JOIN_SQL, "cross join"),
    "range_join_bands": QueryDef(range_join_bands, RANGE_JOIN_SQL, "non-equi range join"),
    "interval_overlap_counts": QueryDef(
        interval_overlap_counts,
        INTERVAL_OVERLAP_SQL,
        "large×large interval-overlap join via bucketization",
    ),
    "range_between_window": QueryDef(
        range_between_window, RANGE_BETWEEN_SQL, "RANGE window frame"
    ),
    "explode_positional": QueryDef(explode_positional, EXPLODE_SQL, "posexplode UDTF"),
    "ranking_functions": QueryDef(ranking_functions, RANKING_SQL, "rank/ntile family"),
    "union_distinct": QueryDef(union_distinct, UNION_DISTINCT_SQL, "union distinct"),
    "approx_distinct": QueryDef(approx_distinct, None, "approx_count_distinct (HLL)"),
    "recursive_hierarchy_rollup": QueryDef(
        recursive_hierarchy_rollup,
        RECURSIVE_HIERARCHY_SQL,
        "native WITH RECURSIVE hierarchy walk + subtree rollup",
    ),
}
