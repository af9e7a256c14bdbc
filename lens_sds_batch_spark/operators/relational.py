"""The relational operator inventory (SURVEY.md §2 Table B).

The reference implements no relational algebra (B1-B8 are marked absent
in the survey) — this module provides the full surface our engine must
have anyway, each operator as one named, DuckDB-oracle-checked query
over the driver testdata.

Cross-engine determinism rules used throughout (the driver hash-compares
Spark vs DuckDB output):

- Money/measure aggregation happens in DECIMAL (exact), and only the
  final value is cast to DOUBLE — bit-identical results in both engines
  regardless of summation order.  (Summing doubles directly would be
  order-dependent and non-reproducible at any scale.)
- Timestamps are output as epoch-second BIGINTs (Spark session TZ is
  pinned to UTC; DuckDB is UTC-naive).
- Every ORDER BY used under a LIMIT or window rank carries a unique
  tiebreak column.

Scale notes are inline per operator: each one is written the way it
should run on 100 TB (broadcast the dimension sides, aggregate before
joining where possible, no driver-side collects).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import local_ckpt
from ..sources.parquet import load_events, load_table


def _dec(c, scale: int = 2):
    return F.col(c).cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# B4: filter + multi-aggregate (TPC-H Q1 shape)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-heavy agg: predicate + column pruning reach the parquet scan;
    partial aggregation map-side; 2-col group key — no skew risk."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-01")
    # ALL operands are NARROWED to their value ranges (r12, found by the
    # sf1 sweep): the old (18,2)^3 sum_charge product needs precision 56
    # > 38, so Spark rounds per-row under allowPrecisionLoss while
    # DuckDB promotes differently — invisible at sf0.1, but at sf1 the
    # accumulated drift crosses 1 ULP of the final double (…098011 vs
    # …098007).  qty <= 50 fits (6,2), price <= 105k fits (12,2),
    # disc/tax in [0, 0.1] fit (3,2): disc_price lands at (17,4) —
    # still on Spark's LONG-backed decimal fast path — and the charge
    # triple product at (22,6) stays EXACT in both engines (the q9
    # narrowest-operand discipline).  One cast per source column,
    # shared across arms (the r12 A/B showed the duplicate wide+narrow
    # cast sets cost ~1.2x standalone).
    one3 = F.lit(1).cast("decimal(3,2)")
    qty6 = F.col("l_quantity").cast("decimal(6,2)")
    px = F.col("l_extendedprice").cast("decimal(12,2)")
    disc3 = F.col("l_discount").cast("decimal(3,2)")
    tax3 = F.col("l_tax").cast("decimal(3,2)")
    disc_price = px * (one3 - disc3)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty6).cast("double").alias("sum_qty"),
            F.sum(px).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(disc_price * (one3 + tax3)).cast("double").alias("sum_charge"),
            (F.sum(qty6).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(px).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# Oracle decimal->double casts go THROUGH VARCHAR (r12, found by the
# sf1 sweep): DuckDB v1.0's direct DECIMAL->DOUBLE cast is not
# correctly rounded (scaled-hugeint double-rounding) — at |x| >= ~4e9
# it can land 1 ULP off the true nearest double, which flips the 6th
# decimal the comparator hashes (measured: exact 27845339640.098010
# -> duck cast …007, Spark/Python correct rounding …011).  VARCHAR ->
# DOUBLE parses via strtod, which IS correctly rounded and agrees with
# Spark's BigDecimal.doubleValue.  Use this round-trip in any oracle
# whose exact-decimal aggregate exceeds ~1e9.
Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(6,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(6,2))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# B3+B4+B6: join + agg + top-k (TPC-H Q3 shape)
# ---------------------------------------------------------------------------

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem with selective filters; customer is
    the small side (broadcast); top-10 via exact decimal revenue."""
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-01-01")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1996-01-01")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_epoch"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT o_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate_epoch,
       o_orderpriority,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# B3: 5-way dimensional join + agg (TPC-H Q5 shape)
# ---------------------------------------------------------------------------

def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region→nation→customer are tiny dims: broadcast all three; the
    only shuffle left is the orders⋈lineitem equi-join + final 1-col agg."""
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    dims = F.broadcast(
        cust.join(nation, cust.c_nationkey == nation.n_nationkey).join(
            region, nation.n_regionkey == region.r_regionkey
        ).select("c_custkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, orders.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).cast("double").alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# ---------------------------------------------------------------------------
# B3: semi / anti / outer joins
# ---------------------------------------------------------------------------

def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers with ≥1 open order.  Semi-join avoids
    materializing the many-side — at scale the build side is the
    deduplicated key set, not the orders table."""
    cust = load_table(spark, sf_dir, "customer")
    open_orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return (
        cust.join(open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


JOIN_SEMI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
ORDER BY c_custkey
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: orders with no lineitems (the reference's
    remove-pruning shape, A14) — non-empty in this data, unlike
    customers-without-orders."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti")
        .select("o_orderkey", "o_orderstatus")
    )


JOIN_ANTI_SQL = """
SELECT o_orderkey, o_orderstatus FROM orders
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
ORDER BY o_orderkey
"""


def join_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer + agg: order count per customer including zeros.
    Aggregate-then-join: orders are pre-aggregated to one row per
    custkey before joining, so the join input is minimal at scale."""
    cust = load_table(spark, sf_dir, "customer")
    per_cust = (
        load_table(spark, sf_dir, "orders").groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select("c_custkey", F.coalesce(F.col("cnt"), F.lit(0)).alias("n_orders"))
    )


JOIN_OUTER_SQL = """
SELECT c_custkey, coalesce(cnt, 0) AS n_orders
FROM customer
LEFT JOIN (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey) o
  ON c_custkey = o_custkey
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# B5: window functions
# ---------------------------------------------------------------------------

def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by value — the canonical rank-filter.
    One shuffle on the partition key; no global sort."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


WINDOW_TOPK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= 3
ORDER BY o_custkey, rk
"""


# ---------------------------------------------------------------------------
# B4: rollup / distinct aggregates
# ---------------------------------------------------------------------------

def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region→nation dimension chain."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"))
    )


AGG_ROLLUP_SQL = """
SELECT r_name, n_name, count(*) AS n_customers,
       CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST
"""


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


AGG_DISTINCT_SQL = """
SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
       count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# B7: set operations
# ---------------------------------------------------------------------------

def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with both open AND finished orders (INTERSECT dedups)."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


SET_INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY o_custkey
"""


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.subtract(b)


SET_EXCEPT_SQL = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY o_custkey
"""


# ---------------------------------------------------------------------------
# B6: global top-k + B8: scalar functions
# ---------------------------------------------------------------------------

def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT — Spark runs this as TakeOrderedAndProject
    (per-partition top-k then merge), never a full global sort."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.orderBy(F.desc("p_retailprice"), "p_partkey")
        .select("p_partkey", "p_name", "p_retailprice")
        .limit(5)
    )


TOPK_GLOBAL_SQL = """
SELECT p_partkey, p_name, p_retailprice FROM part
ORDER BY p_retailprice DESC, p_partkey LIMIT 5
"""


def scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 part-grain scalars; r14 widening adds edit distance
    (levenshtein), bit algebra (& / xor / shift — exact small-int),
    greatest/least, and split_part+lpad composition — all
    integer/string-exact cross-engine (no float arithmetic)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type5"),
        (F.col("p_size") * 2 + 1).alias("size2"),
        F.concat_ws("-", "p_brand", F.col("p_size").cast("string")).alias("brand_size"),
        F.levenshtein(F.col("p_brand"), F.substring("p_type", 1, 8)).alias("lev"),
        F.expr("(p_size & 12) + shiftleft(p_size ^ 21, 1)").alias("bits"),
        (F.greatest(F.col("p_size"), F.lit(25))
         - F.least(F.col("p_size"), F.lit(10))).alias("gl"),
        F.concat(
            F.expr("split_part(p_type, ' ', 2)"), F.lit("#"),
            F.lpad(F.col("p_size").cast("string"), 3, "0"),
        ).alias("type_tail"),
    )


SCALAR_FUNCS_SQL = """
SELECT p_partkey, upper(p_brand) AS brand_u, length(p_name) AS name_len,
       substr(p_type, 1, 5) AS type5, p_size * 2 + 1 AS size2,
       p_brand || '-' || CAST(p_size AS VARCHAR) AS brand_size,
       levenshtein(p_brand, substr(p_type, 1, 8)) AS lev,
       (p_size & 12) + (xor(p_size, 21) << 1) AS bits,
       greatest(p_size, 25) - least(p_size, 10) AS gl,
       split_part(p_type, ' ', 2) || '#' || lpad(CAST(p_size AS VARCHAR), 3, '0') AS type_tail
FROM part ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# time windows / sessionization / as-of join over `events`
# ---------------------------------------------------------------------------

def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows per event_type (batch form of the streaming
    windowed agg, B9).  Window keys are exact int64 nano arithmetic —
    identical in both engines (see sources.parquet.load_events)."""
    ev = load_events(spark, sf_dir)
    hour_ns = 3600 * 1_000_000_000
    return (
        ev.groupBy(
            (F.expr(f"ts_ns div {hour_ns}") * 3600).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
    )


EVENTS_TUMBLING_SQL = """
SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS window_start, event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization, 30-minute inactivity gap
    (exact nano integer gaps)."""
    ev = load_events(spark, sf_dir)
    gap_ns = 1800 * 1_000_000_000
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts_ns").over(w).isNull()
            | ((F.col("ts_ns") - F.lag("ts_ns").over(w)) > gap_ns),
            1,
        ).otherwise(0),
    )
    return (
        flagged.groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


SESSIONIZE_SQL = """
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
               OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
)
GROUP BY user_id ORDER BY user_id
"""


ASOF_TOL_NS = 6 * 3600 * 1_000_000_000  # tolerance arm: 6 hours in ns
# The synthetic orders (1995-2001) and events (Jan 2024) calendars are
# DISJOINT, so raw order dates would make every backward lookup NULL
# (vacuously "correct", r6 degeneracy audit).  Probes are therefore
# mapped deterministically into the events window: floor-second of
# min(event ts) + (order epoch mod 30 days) — identical arithmetic in
# the oracle, scattering probes so all four direction arms produce
# real hits AND misses.  The base is DERIVED FROM THE DATA (a tiny
# broadcast of the min-ts aggregate), not a constant, so the mapping
# survives the per-round testdata regeneration shifting the events
# calendar (the ts physical type has already drifted twice; a pinned
# epoch here would re-vacuate the backward arm silently).
ASOF_SPAN_S = 30 * 86400


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with the full merge-asof direction surface (pandas
    ``merge_asof`` parity): per order-probe, the latest event
    at-or-before (backward), the earliest at-or-after (forward), the
    nearest of the two (tie → backward), and backward bounded by a
    30-day tolerance — all from ONE distributed plan:

    union(events, order-probes) → one shuffle on the key → running
    ``max(ev_ts)`` window (backward) + a mirrored descending running
    ``min(ev_ts)`` window (forward) over the SAME exchange → keep
    probe rows.  NO join at all: the pair space never materializes
    (the round-1 inequality-join form broadcast the unbounded events
    side and exploded per-user pairs — both fatal at 100 TB).  Shuffle
    size = |events| + |orders|, exactly once, on the natural key; the
    two directions cost two in-partition sorts, not a second shuffle;
    skewed users cost a long sorted partition, not a quadratic
    blowup.  Inclusive at equality in both directions via the
    is_probe tiebreak (probes sort after events ascending, after
    events descending too).  Nearest/tolerance are per-row CASE
    arithmetic over the two window results.  The oracle keeps the
    declarative inequality-join form — same semantics, independent
    plan."""
    ev = load_events(spark, sf_dir)
    # FLOOR division (x - pmod(x, y)) div y, not `div` (truncation):
    # a pre-1970 min ts would floor to -1s in the oracle's `//` but
    # truncate to 0s here, shifting every probe by a second.  Cost
    # note: this is a second, column-pruned scan of events and a
    # barrier before the probe mapping — measured +0.2s at sf0.1,
    # the price of surviving testdata calendar drift.
    base = ev.agg(
        F.expr(
            "(min(ts_ns) - pmod(min(ts_ns), 1000000000)) div 1000000000"
        ).alias("asof_base_s")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .crossJoin(F.broadcast(base))
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 15).alias("uid"),
            (
                (F.col("asof_base_s") + F.unix_timestamp("o_orderdate") % ASOF_SPAN_S)
                * F.lit(1_000_000_000)
            ).alias("odate_ns"),
        )
    )
    probes = orders.select(
        "uid",
        F.col("odate_ns").alias("t"),
        F.lit(1).alias("is_probe"),
        "o_orderkey",
        F.lit(None).cast("bigint").alias("ev_ts"),
    )
    ev_rows = ev.select(
        F.col("user_id").alias("uid"),
        F.col("ts_ns").alias("t"),
        F.lit(0).alias("is_probe"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.col("ts_ns").alias("ev_ts"),
    )
    wb = (
        Window.partitionBy("uid")
        .orderBy("t", "is_probe")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("uid")
        .orderBy(F.col("t").desc(), F.col("is_probe").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_ev, next_ev = F.col("last_ev"), F.col("next_ev")
    # choose the nearest side at NS granularity, then integer-divide —
    # a double division here would round half-even at ~1.7e18 ns
    # (ulp 256 ns) and diverge from the oracle's integer `//` on
    # ns-granularity event times
    nearest_ns = (
        F.when(last_ev.isNull(), next_ev)
        .when(next_ev.isNull(), last_ev)
        .when(F.col("t") - last_ev <= next_ev - F.col("t"), last_ev)
        .otherwise(next_ev)
    )
    return (
        ev_rows.unionByName(probes)
        .withColumn("last_ev", F.max("ev_ts").over(wb))
        .withColumn("next_ev", F.min("ev_ts").over(wf))
        .where(F.col("is_probe") == 1)
        .withColumn("nearest_ns", nearest_ns)
        .select(
            "o_orderkey",
            F.expr("last_ev div 1000000000").alias("last_event_epoch"),
            F.expr("next_ev div 1000000000").alias("next_event_epoch"),
            F.expr("nearest_ns div 1000000000").alias("nearest_event_epoch"),
            F.when(F.col("t") - last_ev <= ASOF_TOL_NS, F.expr("last_ev div 1000000000")).alias(
                "last_event_epoch_within_tol"
            ),
        )
    )


ASOF_JOIN_SQL = f"""
WITH base AS (SELECT min(epoch_ns(ts)) // 1000000000 AS asof_base_s FROM events),
o AS (SELECT o_orderkey, o_custkey % 15 AS uid,
             (asof_base_s + CAST(epoch(o_orderdate) AS BIGINT) % {ASOF_SPAN_S})
               * 1000000000 AS odate_ns
      FROM orders CROSS JOIN base),
bwd AS (SELECT o_orderkey, max(epoch_ns(e.ts)) AS last_ns
        FROM o LEFT JOIN events e ON o.uid = e.user_id AND epoch_ns(e.ts) <= o.odate_ns
        GROUP BY o_orderkey),
fwd AS (SELECT o_orderkey, min(epoch_ns(e.ts)) AS next_ns
        FROM o LEFT JOIN events e ON o.uid = e.user_id AND epoch_ns(e.ts) >= o.odate_ns
        GROUP BY o_orderkey)
SELECT o.o_orderkey,
       last_ns // 1000000000 AS last_event_epoch,
       next_ns // 1000000000 AS next_event_epoch,
       (CASE WHEN last_ns IS NULL THEN next_ns
             WHEN next_ns IS NULL THEN last_ns
             WHEN (o.odate_ns - last_ns) <= (next_ns - o.odate_ns) THEN last_ns
             ELSE next_ns END) // 1000000000 AS nearest_event_epoch,
       CASE WHEN o.odate_ns - last_ns <= {ASOF_TOL_NS}
            THEN last_ns // 1000000000 END AS last_event_epoch_within_tol
FROM o JOIN bwd USING (o_orderkey) JOIN fwd USING (o_orderkey)
ORDER BY o.o_orderkey
"""


# ---------------------------------------------------------------------------
# B2/B7: pivot / unpivot
# ---------------------------------------------------------------------------

def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    aggs = [
        F.sum(F.when(F.col("o_orderpriority") == p, 1).otherwise(0)).alias(a)
        for p, a in [
            ("1-URGENT", "urgent"),
            ("2-HIGH", "high"),
            ("3-MEDIUM", "medium"),
            ("4-NOT SPECIFIED", "not_specified"),
            ("5-LOW", "low"),
        ]
    ]
    return orders.groupBy("o_orderstatus").agg(*aggs)


PIVOT_SQL = """
SELECT o_orderstatus,
  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
  CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS not_specified,
  CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def unpivot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack() — the same EAV-ification the ODM item
    derivation uses (reference data model §1.1)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.expr(
                "stack(2, 'size', CAST(p_size AS DOUBLE), 'retailprice', p_retailprice) AS (attr, val)"
            ),
        )
    )


UNPIVOT_SQL = """
SELECT p_partkey, attr, val FROM (
  SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
  UNION ALL
  SELECT p_partkey, 'retailprice' AS attr, p_retailprice AS val FROM part
) ORDER BY p_partkey, attr
"""


# ---------------------------------------------------------------------------
# Batch 2 — remaining Table B inventory
# ---------------------------------------------------------------------------

def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER: per-nation customer counts vs supplier counts (only
    some nations have suppliers — nulls on both sides exercised)."""
    cust = load_table(spark, sf_dir, "customer").groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_cust"))
    supp = load_table(spark, sf_dir, "supplier").groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_supp"))
    j = cust.join(supp, cust.c_nationkey == supp.s_nationkey, "full")
    return j.select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


JOIN_FULL_OUTER_SQL = """
SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
       coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
FULL OUTER JOIN (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s
  ON c_nationkey = s_nationkey
ORDER BY nationkey
"""


def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join: region x order-status grid."""
    region = load_table(spark, sf_dir, "region").select("r_name")
    status = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(status)


JOIN_CROSS_SQL = """
SELECT r_name, o_orderstatus
FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
ORDER BY r_name, o_orderstatus
"""


def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: same-user event pairs within 60 seconds.
    At scale: pre-bucket by time-band and equi-join on (user, band) to
    bound the pair space; here the inequality join states the
    semantics."""
    a = load_events(spark, sf_dir).select(F.col("user_id").alias("ua"), F.col("event_id").alias("ea"), F.col("ts_ns").alias("ta"))
    b = load_events(spark, sf_dir).select(F.col("user_id").alias("ub"), F.col("event_id").alias("eb"), F.col("ts_ns").alias("tb"))
    pairs = a.join(
        b,
        (F.col("ua") == F.col("ub"))
        & (F.col("tb") > F.col("ta"))
        & (F.col("tb") - F.col("ta") <= 60 * 1_000_000_000),
    )
    return pairs.groupBy(F.col("ua").alias("user_id")).agg(F.count(F.lit(1)).alias("n_pairs"))


RANGE_JOIN_SQL = """
SELECT a.user_id AS user_id, count(*) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND epoch_ns(b.ts) > epoch_ns(a.ts)
 AND epoch_ns(b.ts) - epoch_ns(a.ts) <= 60000000000
GROUP BY a.user_id ORDER BY user_id
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (mktsegment, orderstatus)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        j.cube("c_mktsegment", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


AGG_CUBE_SQL = """
SELECT c_mktsegment, o_orderstatus, count(*) AS n
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (c_mktsegment, o_orderstatus)
ORDER BY c_mktsegment ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
"""


def percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median per priority (rounded to absorb the
    engines' interpolation-rounding freedom)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"))
    )


PERCENTILE_SQL = """
SELECT o_orderpriority, round(quantile_cont(o_totalprice, 0.5), 4) AS median_price
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h length, 1h slide) in batch form: each event
    lands in 2 windows via an explicit window-index explode — exact
    integer window keys, no timestamp semantics involved."""
    ev = load_events(spark, sf_dir)
    hour_ns = 3600 * 1_000_000_000
    ev2 = ev.select(
        "event_type",
        F.expr(f"ts_ns div {hour_ns}").alias("hour_idx"),
        F.explode(F.array(F.lit(0), F.lit(1))).alias("k"),
    )
    return (
        ev2.select(((F.col("hour_idx") - F.col("k")) * 3600).alias("window_start"), "event_type")
        .groupBy("window_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


EVENTS_SLIDING_SQL = """
SELECT ((epoch_ns(ts) // 3600000000000) - k) * 3600 AS window_start, event_type,
       count(*) AS n
FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def rank_math_percentiles(df, group_col, value_col, percentiles):
    """EXACT per-group percentiles via distributed rank math — a
    drop-in for `percentile(value, p) GROUP BY g` that never buffers a
    group's values in one aggregation buffer.  The builtin exact
    Percentile aggregate accumulates EVERY value of a group into an
    OpenHashMap on both the partial and merge side, so a low-cardinality
    group key funnels the whole column through that many buffers.  Rank
    math instead sorts the (group, value) pairs once (row_number window,
    fully partitioned by group), keeps only the two boundary rows per
    requested percentile, and interpolates — identical O(n log n) work
    but spread across the cluster.

    Interpolation mirrors Spark's Percentile.getPercentile exactly:
    pos = p * (n - 1); result = (hi - pos) * v[lo] + (pos - lo) * v[hi],
    with the boundary case lo == hi returning v[lo].  NULL values are
    excluded up front, matching the builtin's null handling; a group
    with only NULL values yields no row here where the builtin yields
    NULL — callers join back with a left join (approx_sketches does).
    Pinned equal to `percentile()` on randomized data with ties and
    NULLs by tests/test_contract.py::
    test_rank_math_percentile_equals_builtin.

    `percentiles` is a list of (p, alias) pairs; returns one row per
    group with `group_col` plus one double column per alias.

    Internals: one ordered window per group (row_number + per-group
    count), boundary-rank filter, interpolate.  With a low-cardinality
    group key the sort funnels into |groups| partitions — but a window
    sort SPILLS gracefully where the builtin's OpenHashMap buffer
    OOMs, which is the scale failure this helper removes.  A fully
    parallel histogram-refinement variant (bucket counts + targeted
    bucket rescan) was built and A/B-REJECTED here (r14-opt): its
    ~10-stage dependency chain cost 8.1 s vs 3.0 s for this form at
    sf0.1 — the latency of sequential tiny stages dwarfed the 1.4 s
    funnel it removed.  Revisit only for truly huge single groups."""
    pw = Window.partitionBy(group_col).orderBy(value_col)
    pn = Window.partitionBy(group_col)
    ranked = (
        df.where(F.col(value_col).isNotNull())
        .select(group_col, value_col)
        .withColumn("rn", F.row_number().over(pw) - F.lit(1))
        .withColumn("nn", F.count(F.lit(1)).over(pn))
    )

    def _pos(p):
        return F.lit(p) * (F.col("nn") - 1).cast("double")

    keep = None
    for p, _alias in percentiles:
        cond = (F.col("rn") == F.floor(_pos(p))) | (F.col("rn") == F.ceil(_pos(p)))
        keep = cond if keep is None else (keep | cond)
    boundary = ranked.where(keep)

    def _interp(p):
        pos = _pos(p)
        lo, hi = F.floor(pos), F.ceil(pos)
        v = F.col(value_col).cast("double")
        vlo = F.min(F.when(F.col("rn") == lo, v))
        vhi = F.min(F.when(F.col("rn") == hi, v))
        # aggregate lo/hi/pos are group constants (rn-filtered mins)
        alo = F.min(F.when(F.col("rn") == lo, lo.cast("double")))
        ahi = F.min(F.when(F.col("rn") == hi, hi.cast("double")))
        apos = F.first(pos)
        return F.when(alo == ahi, vlo).otherwise(
            (ahi - apos) * vlo + (apos - alo) * vhi
        )

    return boundary.groupBy(group_col).agg(
        *[_interp(p).alias(alias) for p, alias in percentiles]
    )


def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct + approximate quantile sketches — oracle-PAIRED by
    proving the error bounds inside the query: sketch values differ
    across engines by design (so raw sketch output can never hash-match
    DuckDB), but the CLAIM a sketch makes is checkable.  The query
    emits the exact values plus in-bound flags; the oracle emits the
    same exact values with literal-true flags, so the CORRECTNESS row
    fails if either sketch ever drifts out of its documented envelope
    (VERDICT r4 #8 — this replaces the rows-only registration).

    Bounds checked (both deterministic given the data):
    - HLL (default rsd=0.05): |approx - exact| <= 20% of exact (4σ —
      widened from 3σ in r6 per ADVICE: the bound is data-dependent, so
      a fresh SF/dataset could push a healthy engine past a 3σ gate;
      the tighter 10% watchdog lives in tests/test_sketch_quality.py,
      where a trip is diagnosable, not a CORRECTNESS zero).
    - percentile_approx (default accuracy 1e4 => rank error ~1e-4):
      approx median lies within the exact [p45, p55] value band.
    At 100 TB these sketches are the only viable plan (exact distinct
    of 1e12 keys is a full shuffle of all keys); the in-bound flags are
    how a pipeline validates them cheaply at small SF first."""
    li = load_table(spark, sf_dir, "lineitem")
    # The exact count-distinct runs as its OWN aggregate, joined back
    # on the 3-row group key: mixing a distinct aggregate with the
    # percentile/HLL aggregates forces Expand (every row duplicated
    # per distinct-set) + SortAggregate over the expanded stream —
    # measured 12.2s fused vs ~3s split at sf0.1 (late r6; the query
    # was invisible to bench until the full-registry suite).  Two
    # column-pruned scans beat one 2x-expanded sort by 4x.
    # (12.2s was the isolated warm A/B session; the full-suite bench
    # run recorded 10.9 → 2.5s for the same change — both runs, one
    # conclusion.)
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("apc"),
        F.percentile_approx("l_extendedprice", 0.5).alias("amed"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    # EXACT p45/p55 via distributed rank math, NOT `percentile(...)`
    # (r14-opt): with a 3-value group key the builtin exact-percentile
    # aggregate funnels the whole column through 3 scan-side partial
    # buffers and 3 reducers (stage profile: 2.2 s accumulation + 11 MB
    # of serialized buffers + 0.9 s merge ≈ 3/4 of this query).  See
    # rank_math_percentiles above for the equivalence argument and its
    # pin.  NULL prices are excluded (percentile ignores them); n_rows
    # above still counts all rows.
    pct = rank_math_percentiles(
        li, "l_returnflag", "l_extendedprice", [(0.45, "p45"), (0.55, "p55")]
    ).withColumnRenamed("l_returnflag", "pct_flag")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts_exact")
    )
    # null-safe join: the fused groupBy (and the oracle's GROUP BY)
    # keep a NULL-flag group; a plain equi-join would silently drop it
    g = (
        sketches.join(
            exact, sketches.l_returnflag.eqNullSafe(exact.l_returnflag)
        )
        .drop(exact.l_returnflag)
        .join(pct, F.col("l_returnflag").eqNullSafe(F.col("pct_flag")), "left")
        .drop("pct_flag")
    )
    return g.select(
        "l_returnflag",
        "n_parts_exact",
        "n_rows",
        (F.abs(F.col("apc") - F.col("n_parts_exact"))
         <= 0.20 * F.col("n_parts_exact")).cast("int").alias("hll_within_20pct"),
        ((F.col("amed") >= F.col("p45")) & (F.col("amed") <= F.col("p55")))
        .cast("int").alias("median_within_rank_band"),
    )


APPROX_SKETCHES_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts_exact,
       count(*) AS n_rows,
       1 AS hll_within_20pct,
       1 AS median_within_rank_band
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew mitigation: two-stage salted aggregation over a 3-value hot
    key (l_returnflag).  Stage 1 aggregates on (key, salt) — spreading
    each hot key over 16 reducers — stage 2 merges the partials.
    Result is identical to a direct groupBy (the oracle proves it);
    only the shuffle distribution differs.  At 100 TB this is the
    pattern for any low-cardinality/zipfian key; AQE skew-join handles
    the join-side equivalent."""
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("salt", (F.col("l_orderkey") % 16))
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.sum(_dec("l_quantity")).alias("p_qty"),
        F.count(F.lit(1)).alias("p_n"),
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.sum("p_qty").cast("double").alias("total_qty"),
            F.sum("p_n").alias("n_rows"),
        )
    )


SALTED_AGG_SQL = """
SELECT l_returnflag,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


SKEW_JOIN_SALT = 16   # hot-key fan-out: replicas of the build side
SKEW_JOIN_DIM_MOD = 997  # prime so derived dim keys spread


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew mitigation, JOIN flavor (r9 verdict #4 — the one SURVEY §4
    physical pattern without a gated query; ``salted_hot_key_agg``
    covers only the aggregation side): a fact table whose join key is
    zipfian — 3/4 of all lineitems share ONE derived hot key — joined
    to a dimension that at 100 TB is too big to broadcast.

    A plain shuffle join hashes on the key alone, so the hot key's
    entire fact volume lands on ONE reducer (the straggler that
    dominates the stage).  The salted form: the probe side gets a
    deterministic salt in [0, S), the build side is replicated S ways
    (a bounded crossJoin with a literal 16-element array — NOT a
    cartesian over data), and the join runs on (key, salt) — spreading
    the hot key over S reducers.  The trailing per-key re-aggregation
    merges the salt shards; the oracle runs the UNSALTED join+group,
    proving the rewrite is semantics-preserving.

    The salted join is hinted ``merge`` (SortMergeJoin): at these test
    scale factors Spark would broadcast the replicated dim and there
    would BE no shuffle to de-skew — the hint pins the plan shape the
    pattern exists for (pytest asserts SMJ + no BHJ on this join).
    AQE's skewJoin handles the same case adaptively when splits
    suffice; explicit salting is the deterministic form that also
    works where AQE can't split (e.g. under a required child
    distribution), and the gate pins its arithmetic.

    The hot key is 1, not 0: derived dim keys are ``s_suppkey %
    997`` and supplier keys start at 1, so key 1 exists at every
    scale factor while 0 would inner-join away the entire hot side."""
    dim = (
        load_table(spark, sf_dir, "supplier")
        .groupBy((F.col("s_suppkey") % SKEW_JOIN_DIM_MOD).alias("dk"))
        .agg(F.min("s_name").alias("dim_tag"))
    )
    dim_rep = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(SKEW_JOIN_SALT - 1)))
    )
    # Salt must be independent of the hot-key predicate: l_orderkey % 16
    # would be correlated with l_orderkey % 4 != 0 (hot rows could never
    # take salts 0/4/8/12, wasting 4 of 16 build replicas), so hash the
    # full (orderkey, linenumber) pair instead — uniform over [0, S).
    fact = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 4 != 0, F.lit(1).cast("bigint"))
        .otherwise(F.col("l_orderkey") % SKEW_JOIN_DIM_MOD)
        .alias("hk"),
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SKEW_JOIN_SALT))
        .cast("int")
        .alias("salt"),
        _dec("l_quantity").alias("q"),
    )
    joined = fact.join(
        dim_rep.hint("merge"),
        (fact.hk == dim_rep.dk) & (fact.salt == dim_rep.salt),
    )
    return (
        joined.groupBy("dk", "dim_tag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("q").cast("double").alias("total_qty"),
        )
    )


SKEW_SALTED_JOIN_SQL = f"""
WITH dim AS (
  SELECT s_suppkey % {SKEW_JOIN_DIM_MOD} AS dk, min(s_name) AS dim_tag
  FROM supplier GROUP BY 1
),
fact AS (
  SELECT CASE WHEN l_orderkey % 4 <> 0 THEN CAST(1 AS BIGINT)
              ELSE l_orderkey % {SKEW_JOIN_DIM_MOD} END AS hk,
         CAST(l_quantity AS DECIMAL(18,2)) AS q
  FROM lineitem
)
SELECT dk, dim_tag, count(*) AS n_rows, CAST(sum(q) AS DOUBLE) AS total_qty
FROM fact JOIN dim ON hk = dk
GROUP BY dk, dim_tag
ORDER BY dk
"""

def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((segment), (status), ()) — the general
    form behind rollup/cube."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    j.createOrReplaceTempView("__gs_join")
    return spark.sql(
        """
        SELECT c_mktsegment, o_orderstatus, count(*) AS n
        FROM __gs_join
        GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())
        """
    )


AGG_GROUPING_SETS_SQL = """
SELECT c_mktsegment, o_orderstatus, count(*) AS n
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())
ORDER BY c_mktsegment ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
"""


def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (bag semantics — duplicates preserved)."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") != "F").select("o_custkey")
    b = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.exceptAll(b).groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))


SET_EXCEPT_ALL_SQL = """
SELECT o_custkey, count(*) AS n FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus <> 'F'
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
) GROUP BY o_custkey ORDER BY o_custkey
"""


def array_funcs_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array algebra over tokenized text: sort, slice, contains,
    element access, reverse-sorted distinct size."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    sorted_w = F.array_sort(F.array_distinct(words))
    return docs.select(
        "doc_id",
        F.size(words).alias("n"),
        F.element_at(sorted_w, 1).alias("first_sorted"),
        F.element_at(sorted_w, -1).alias("last_sorted"),
        F.slice(sorted_w, 1, 3).cast("string").alias("first3"),
        F.array_contains(words, "data").cast("int").alias("has_data"),
    )


ARRAY_FUNCS_SQL = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n,
       list_sort(list_distinct(string_split(text, ' ')))[1] AS first_sorted,
       list_sort(list_distinct(string_split(text, ' ')))[-1] AS last_sorted,
       '[' || array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ', ') || ']' AS first3,
       CAST(list_contains(string_split(text, ' '), 'data') AS INT) AS has_data
FROM documents ORDER BY doc_id
"""


def json_funcs_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction + reconstruction over the events.props payload."""
    ev = load_events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.select(
        "event_id",
        k.alias("k"),
        (k % 7).alias("k_mod"),
        F.concat(F.lit('{"k2":'), (k * 2).cast("string"), F.lit("}")).alias("rebuilt"),
    )


JSON_FUNCS_SQL = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k,
       CAST(json_extract(props, '$.k') AS BIGINT) % 7 AS k_mod,
       '{"k2":' || CAST(CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS VARCHAR) || '}' AS rebuilt
FROM events ORDER BY event_id
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-semi-join + count by priority (orders
    having at least one lineitem shipped after the order date)."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = li.join(
        orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey")
    ).where(F.col("l_shipdate") > F.col("o_orderdate")).select("l_orderkey").distinct()
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (r6): pure filter+aggregate — ALL three predicates
    (shipdate year band, discount band, quantity ceiling) must reach the
    parquet scan as PushedFilters; the plan is a scan + partial/final
    agg with zero joins and zero wide columns.  The canonical 100 TB
    win: I/O bound, row-group pruned, nothing shuffled but one partial
    aggregate per partition."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount", 4))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q6_SQL = """
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q12_late_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape adapted to this schema (no l_shipmode /
    l_commitdate in the testdata): per returnflag, count late-shipped
    lines (l_shipdate > o_orderdate + 90 days) split by order priority
    urgency — the join + date-interval predicate + CASE-inside-agg
    shape.  The orders side carries only (o_orderkey, o_orderpriority,
    o_orderdate): column pruning keeps the shuffle narrow."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    # NULL-safe bucket split mirroring the oracle's CASE exactly: a
    # NULL o_orderpriority must count as LOW (the CASE ELSE branch),
    # not vanish from both sums (isin(NULL) -> NULL, sum skips it)
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_returnflag
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — broadcast dim join (part
    is the small side) + conditional aggregation.  Both engines sum in
    DECIMAL (exact), cast to DOUBLE, and divide in DOUBLE in the same
    expression order, so the ratio is bit-identical."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    one = F.lit(1).cast("decimal(18,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount"))
    agg = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,2)")))
        .cast("double")
        .alias("promo_rev"),
        F.sum(rev).cast("double").alias("total_rev"),
    )
    return agg.select(
        (F.col("promo_rev") / F.col("total_rev") * F.lit(100.0)).alias("promo_pct"),
        F.round("promo_rev", 2).alias("promo_rev_r"),
        F.round("total_rev", 2).alias("total_rev_r"),
    )


Q14_SQL = """
WITH agg AS (
  SELECT CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS VARCHAR) AS DOUBLE) AS promo_rev,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS total_rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
)
SELECT promo_rev / total_rev * 100.0 AS promo_pct,
       round(promo_rev, 2) AS promo_rev_r,
       round(total_rev, 2) AS total_rev_r
FROM agg
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape adapted to this schema (no p_container /
    l_shipmode in the testdata): revenue through an OR-of-AND-blocks
    predicate spanning BOTH join sides — the classic disjunctive-join
    stress.  Each branch conjoins a part predicate (brand/type + size
    band) with a lineitem predicate (quantity band); since the
    disjunction spans both tables it cannot be pushed below the join
    wholesale, so the plan keeps the broadcast part join cheap and
    evaluates the OR post-join — exactly what a 100 TB run wants (the
    small side broadcast, the fact side streamed once)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type", "p_size")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    branch = (
        ((F.col("p_brand") == "Brand#1") & sz.between(1, 15) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & sz.between(16, 35) & q.between(10, 35))
        | ((F.col("p_type") == "ECONOMY") & sz.between(36, 50) & q.between(20, 50))
    )
    one = F.lit(1).cast("decimal(18,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(branch)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q19_SQL = """
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 16 AND 35 AND l_quantity BETWEEN 10 AND 35)
   OR (p_type = 'ECONOMY' AND p_size BETWEEN 36 AND 50 AND l_quantity BETWEEN 20 AND 50)
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (r8): CORRELATED SCALAR SUBQUERY —
    ``l_quantity < 0.2 * (SELECT avg(l_quantity) ... same part)`` —
    decorrelated the way a distributed engine must run it:
    aggregate-per-key then join back.  The oracle states the classical
    correlated form; this side proves the aggregate-then-join-back
    rewrite is value-identical.

    Two engine-parity traps avoided: (1) the threshold compare is done
    in EXACT arithmetic (``qty*5*cnt < sum`` in DECIMAL — no
    float-avg whose last-bit differs between engines and flips
    boundary rows); (2) the filtered brand's per-part stats are
    computed from the ALREADY part-pruned lineitems and broadcast back
    (~80 parts).  The brand-pruned slice is lazily localCheckpointed:
    it feeds BOTH the stats aggregate and the probe side, and without
    the checkpoint each consumer re-scans the full fact table (the
    broadcast-pruned slice is ~1/25th of it — materializing that once
    is the 100 TB play, same pattern as curation_funnel's shared
    stage)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    li_b = local_ckpt(
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .drop("p_partkey"),
        eager=False,
    )
    stats = li_b.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(_dec("l_quantity")).alias("sumq")
    )
    small = li_b.join(F.broadcast(stats), "l_partkey").where(
        _dec("l_quantity") * F.col("cnt") * F.lit(5) < F.col("sumq")
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_lines"),
        (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly"),
    )


Q17_SQL = """
SELECT count(*) AS n_lines,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem l JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#12'
  AND CAST(l_quantity AS DECIMAL(18,2))
        * (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey) * 5
      < (SELECT sum(CAST(l_quantity AS DECIMAL(18,2))) FROM lineitem l2
         WHERE l2.l_partkey = l.l_partkey)
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (r8): HAVING-sum semi-join + top-k — orders
    whose total quantity exceeds the threshold, joined back to
    orders/customer, top 100 by volume.  The HAVING aggregate runs at
    l_orderkey grain (map-side combinable, same key as the join that
    follows — one co-partitioned shuffle); the customer dim is
    broadcast.  Deterministic top-k: o_orderkey breaks sum_qty ties."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty"))
        .where(F.col("sum_qty") > 150)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "c_name", F.col("sum_qty").cast("double").alias("sum_qty"))
        .orderBy(F.desc("sum_qty"), "o_orderkey")
        .limit(100)
    )


Q18_SQL = """
SELECT o_orderkey, c_name, CAST(sum_qty AS DOUBLE) AS sum_qty
FROM orders
JOIN (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY sum_qty DESC, o_orderkey
LIMIT 100
"""


def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (r8, adapted: no l_receiptdate in this testdata
    so "late" := ``l_returnflag = 'R'``): suppliers whose line was late
    on a multi-supplier order where NO OTHER supplier was late — the
    classical EXISTS + NOT-EXISTS double self-join.  The oracle states
    exactly that correlated form; this side decorrelates both
    quantifiers into counts at order grain (``n_supp > 1 AND
    n_late_suppliers = 1``: the late supplier in such an order is
    unique, so membership follows from the pair being late).  Plan
    shape: ONE map-combinable distinct-pair aggregate on
    (l_orderkey, l_suppkey), a window at l_orderkey grain for both
    quantifier counts (no Expand — two countDistincts in one agg
    would 2x the rows), then a broadcast supplier-dim join.  Two
    exchanges total; no self-join of the fact table."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    late = (F.col("l_returnflag") == "R").cast("int")
    pairs = li.groupBy("l_orderkey", "l_suppkey").agg(F.max(late).alias("is_late"))
    w = Window.partitionBy("l_orderkey")
    flagged = pairs.select(
        "l_orderkey",
        "l_suppkey",
        "is_late",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("is_late").over(w).alias("n_late"),
    )
    waiting = flagged.where(
        (F.col("is_late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(F.broadcast(supp), waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM (
  SELECT DISTINCT l1.l_suppkey, l1.l_orderkey
  FROM lineitem l1
  WHERE l1.l_returnflag = 'R'
    AND EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_returnflag = 'R')
) w
JOIN supplier ON w.l_suppkey = s_suppkey
GROUP BY s_name
"""


def q20_part_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: no partsupp table in this testdata, so
    the correlated availqty threshold becomes a correlated SHARE
    threshold): nations' suppliers who shipped >30% of a 'ring' part's
    total 1996 volume — the classical nested-IN chain
    ``s_suppkey IN (… GROUP BY HAVING <correlated agg>)`` with the
    inner part-IN.  Decorrelated the distributed way: ONE scan of the
    part-pruned fact slice aggregated to (suppkey, partkey) grain, the
    per-part total derived by RE-aggregating that result (never a
    second fact scan), joined back on partkey, then a semi-join into
    the supplier dim.  The share compare is exact DECIMAL
    (``sq*10 > tq*3``) — a float ratio's last bit can flip boundary
    suppliers between engines.  ``sp`` feeds two consumers (the
    re-agg and the join probe) → lazily localCheckpointed, else each
    re-executes the fact scan.  At 100 TB: part subset broadcasts,
    fact scanned once, everything after lives at supplier×part grain."""
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%ring%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    sp = local_ckpt(
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_dec("l_quantity")).alias("sq")),
        eager=False,
    )
    totals = sp.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    qual = (
        sp.join(totals, "l_partkey")
        .where(F.col("sq") * F.lit(10) > F.col("tq") * F.lit(3))
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        supp.join(qual, supp.s_suppkey == qual.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )


Q20_SQL = """
SELECT n_name, count(*) AS n_supp
FROM supplier s JOIN nation n ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%ring%')
    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) * 10 >
         (SELECT sum(CAST(l2.l_quantity AS DECIMAL(18,2))) FROM lineitem l2
          WHERE l2.l_partkey = lineitem.l_partkey
            AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
            AND l2.l_shipdate < TIMESTAMP '1997-01-01'
            AND l2.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%ring%')) * 3
)
GROUP BY n_name
"""


def q22_dormant_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted: no c_phone in this testdata, so
    c_nationkey plays the country code; every customer has SOME order,
    so "never ordered" becomes "no order since 1999" to keep the
    anti-join non-vacuous): customers in selected countries whose
    balance beats the positive-balance average of that population and
    who placed no recent order — an UNCORRELATED scalar subquery
    threshold + NOT-EXISTS anti-join + group-count rollup.

    The scalar (cnt, tot) aggregate is a 1-row broadcast crossJoin —
    never a driver-side collect; the threshold compare is exact
    DECIMAL (``bal*cnt > tot``, same Q17 discipline).  The anti-join's
    right side is pre-filtered and projected to DISTINCT custkeys so
    the shuffle carries keys, not order rows."""
    sel = load_table(spark, sf_dir, "customer").where(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13)
    )
    thresh = sel.where(F.col("c_acctbal") > 0).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(_dec("c_acctbal")).alias("tot")
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        sel.crossJoin(F.broadcast(thresh))
        .where(_dec("c_acctbal") * F.col("cnt") > F.col("tot"))
        .join(recent, sel.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


Q22_SQL = """
WITH sel AS (SELECT * FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
a AS (SELECT count(*) AS cnt, sum(CAST(c_acctbal AS DECIMAL(18,2))) AS tot
      FROM sel WHERE c_acctbal > 0)
SELECT c_nationkey, count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM sel, a
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * cnt > tot
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = sel.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_nationkey
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (r8 cont.): volume shipping between two nations —
    the classical ROLE-PLAYING dimension pattern (nation joined twice,
    once through supplier and once through customer) with a
    DISJUNCTIVE pair predicate that spans both roles, grouped by
    (supp_nation, cust_nation, year).

    Distributed strategy: the nation-pair filter is pushed into EACH
    dimension independently (supplier and customer each shrink to the
    2 selected nations' members ≈ 2/25 of the dim) BEFORE the fact
    joins, so both reduced dims broadcast; the only shuffle left is
    lineitem ⋈ orders on orderkey — fact-to-fact, co-partitioned.
    The residual disjunction (excluding the (1,1)/(2,2) pairs) is
    evaluated post-join on two tiny tag columns.  At 100 TB this is
    exactly the plan you want: never shuffle a fact table on a
    dimension key, semi-reduce dims first.  Revenue sums in DECIMAL,
    cast to DOUBLE after (engine-exact, Q14 discipline)."""
    pair = ("NATION_1", "NATION_2")
    nat = load_table(spark, sf_dir, "nation").where(F.col("n_name").isin(*pair))
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    one = F.lit(1).cast("decimal(18,2)")
    vol = _dec("l_extendedprice") * (one - _dec("l_discount"))
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(vol).cast("double").alias("revenue"))
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(extract(year FROM l_shipdate) AS INTEGER) AS l_year,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS revenue
FROM supplier, lineitem, orders, customer, nation n1, nation n2
WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (r8 cont., adapted: p_type plays the product
    filter): one nation's market share of a region's STANDARD-part
    order volume per year — the deepest classical join tree (part,
    lineitem, orders, customer, supplier, nation×2, region) feeding a
    conditional-sum ratio.

    The customer side reduces through nation⋈region (AMERICA) before
    touching facts; part filters to one p_type; both broadcast.  The
    supplier side is NOT filtered (every supplier's nation tags the
    numerator), but the supplier dim itself is broadcast-sized after
    projection to (s_suppkey, supp_nation).  Remaining shuffle:
    lineitem ⋈ orders on orderkey, same co-partitioned fact join as
    Q7.  Numerator and denominator sum in DECIMAL and divide in
    DOUBLE in one expression order (bit-identical across engines)."""
    nat = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    cust_nat = nat.join(
        F.broadcast(region), nat.n_regionkey == region.r_regionkey
    ).select("n_nationkey")
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(cust_nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_type") == "STANDARD")
        .select("p_partkey")
    )
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    vol = _dec("l_extendedprice") * (one - _dec("l_discount"))
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(zero))
            .cast("double")
            .alias("nation_vol"),
            F.sum(vol).cast("double").alias("total_vol"),
        )
        .select(
            "o_year",
            (F.col("nation_vol") / F.col("total_vol")).alias("mkt_share"),
        )
    )


Q8_SQL = """
SELECT o_year, nation_vol / total_vol AS mkt_share
FROM (
  SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS o_year,
         CAST(CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                       THEN CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS VARCHAR) AS DOUBLE) AS nation_vol,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS total_vol
  FROM part, lineitem, supplier, orders, customer, nation n1, nation n2, region
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey
    AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
    AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
    AND s_nationkey = n2.n_nationkey AND p_type = 'STANDARD'
    AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  GROUP BY o_year
)
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (r8 cont., adapted: o_orderpriority plays
    o_comment's exclusion filter): the customer order-count
    DISTRIBUTION — a LEFT OUTER join whose extra predicate lives in
    the ON clause (so non-matching customers survive with count 0,
    which a WHERE would destroy), then aggregation OVER an
    aggregation (count orders per customer, then count customers per
    order-count).

    Shuffle shape: orders pre-filters and projects to o_custkey (keys
    only cross the wire), ONE shuffle joins customer⋈orders on
    custkey, the per-customer count reuses that partitioning
    (map-side combinable), and the second groupBy is over ≤ a few
    hundred distinct counts — trivially small.  count(o_custkey)
    counts non-NULL only, preserving the zero bucket."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .select("o_custkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_custkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_custkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (r9): the revenue "view" — per-supplier revenue
    over a 3-month shipdate window — consumed TWICE, once as the group
    rows and once reduced to its global max, keeping the supplier(s)
    AT the max (ties preserved, per the spec's view semantics).

    Distributed strategy: revenue is ONE map-side-combinable shuffle
    at supplier grain; the max is a 1-row aggregate broadcast-
    crossJoined (the Q22 scalar discipline — NOT a global window,
    which would funnel every supplier row through a single partition
    at scale); the shared view frame is localCheckpointed so its two
    consumers don't re-scan lineitem (the q17/odm_xml_ingest lesson).
    The max-equality compare runs on the EXACT DECIMAL sums — casting
    to DOUBLE first could make two engines disagree on which supplier
    is "the" max when sums differ below float precision.  Supplier
    names ride a broadcast dim join AFTER the reduction (one row)."""
    one = F.lit(1).cast("decimal(18,2)")
    rev = local_ckpt(
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).alias("total_rev")),
        eager=False,
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", F.col("total_rev").cast("double").alias("total_rev"))
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-04-01'
  GROUP BY l_suppkey
)
SELECT s_name, CAST(total_rev AS DOUBLE) AS total_rev
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM revenue)
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (r9, adapted: no partsupp table in this
    testdata, so part VALUE = lineitem revenue from the selected
    nations' suppliers): group totals kept only when they beat a
    SCALED GLOBAL SCALAR of the same aggregate — the classical
    "HAVING sum(...) > (SELECT sum(...) * f FROM same-filter)" form.

    Distributed strategy: the nation filter semi-reduces supplier to
    a broadcast BEFORE the fact scan (lineitem shrinks first, exactly
    the Q7 dim-reduction discipline), part-grain value is one
    map-side-combinable shuffle, the global total derives from that
    SAME part-grain frame (localCheckpointed — never a second
    lineitem scan) as a 1-row broadcast, and the threshold compare is
    exact-DECIMAL ``value * K > total`` (integer multiplier; a
    fractional ``total * 0.000x`` would compare in DOUBLE and two
    engines could disagree at the boundary).

    Precision discipline (r10, advisor finding): ``value`` accumulates
    as decimal(38,4), and a (38,4) x multiplier product exceeds
    precision 38 — Spark would silently NULL the row under
    allowPrecisionLoss while DuckDB falls back to DOUBLE, so the two
    engines could disagree exactly at the threshold.  Both operands are
    therefore narrowed explicitly: value -> decimal(33,4) (29 integral
    digits — a single part's revenue passes 10^29 on no conceivable
    dataset; ~10^13 at 100 TB), multiplier -> decimal(4,0), so the
    product is decimal(38,4) on Spark and decimal(37,4) on DuckDB —
    EXACT on both, mirrored casts in Q11_SQL."""
    supp = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey").isin(4, 7, 11))
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
    )
    one = F.lit(1).cast("decimal(18,2)")
    value = local_ckpt(
        li.groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).alias("value")),
        eager=False,
    )
    total = value.agg(F.sum("value").alias("total"))
    return (
        value.crossJoin(F.broadcast(total))
        .where(
            F.col("value").cast("decimal(33,4)")
            * F.lit(1500).cast("decimal(4,0)")
            > F.col("total")
        )
        .select("l_partkey", F.col("value").cast("double").alias("value"))
    )


Q11_SQL = """
WITH v AS MATERIALIZED (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS value
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey IN (4, 7, 11)
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(value AS DOUBLE) AS value
FROM v, (SELECT sum(value) AS total FROM v) t
WHERE CAST(value AS DECIMAL(33,4)) * CAST(1500 AS DECIMAL(4,0)) > total
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (r10, adapted: no partsupp table in this
    testdata, so the supply catalog derives from lineitem at
    (partkey, suppkey) grain with cost := min extendedprice): for each
    small STANDARD part, the EUROPE supplier(s) achieving the REGIONAL
    MINIMUM cost — the classical correlated min-subquery whose scope is
    re-tied to the outer row's part (the oracle states exactly that
    correlated form over the same catalog CTE).

    Distributed strategy: part and region-reduced supplier prune the
    fact scan as broadcasts BEFORE the catalog aggregate (the Q7/Q11
    dim-reduction discipline); the per-part regional min RE-aggregates
    the catalog, never a second fact scan (`eu` is lazily
    localCheckpointed for its two consumers — the min agg and the
    winner join-back); the winner compare is exact DECIMAL cost
    equality.  Top-100 by balance under a unique
    (s_acctbal, partkey, suppkey) total order compiles to
    TakeOrderedAndProject — no global sort, no single-partition
    funnel.  At 100 TB the catalog lives at part x supplier grain
    (orders of magnitude below fact grain) and everything after is
    dimension-sized."""
    part = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_name")
    )
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    nat = (
        load_table(spark, sf_dir, "nation")
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem")
    eu = local_ckpt(
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(_dec("l_extendedprice")).alias("cost")),
        eager=False,
    )
    mins = eu.groupBy("l_partkey").agg(F.min("cost").alias("min_cost"))
    winners = (
        eu.join(mins, "l_partkey")
        .where(F.col("cost") == F.col("min_cost"))
        .select("l_partkey", "l_suppkey", "cost")
    )
    return (
        winners.join(F.broadcast(supp), winners.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(part), winners.l_partkey == part.p_partkey)
        .orderBy(F.desc("s_acctbal"), "l_partkey", "l_suppkey")
        .limit(100)
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            (F.col("cost") * F.lit(100)).cast("bigint").alias("cost_cents"),
        )
    )


Q2_SQL = """
WITH eu AS MATERIALIZED (
  SELECT l_partkey, l_suppkey, s_name, s_acctbal, n_name,
         min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
    AND l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_size <= 15 AND p_type = 'STANDARD')
  GROUP BY 1, 2, 3, 4, 5
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       CAST(cost * 100 AS BIGINT) AS cost_cents
FROM eu
JOIN part ON p_partkey = l_partkey
WHERE cost = (SELECT min(e2.cost) FROM eu e2 WHERE e2.l_partkey = eu.l_partkey)
ORDER BY s_acctbal DESC, l_partkey, l_suppkey
LIMIT 100
"""


def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (r10, adapted: no partsupp, so supply cost :=
    p_retailprice * 0.6, a deterministic per-part unit cost standing in
    for ps_supplycost; the part-name token is 'gear' — this corpus has
    no color words): profit per supplier nation per order year over
    the full five-table tree lineitem x part x supplier x nation x
    orders.

    Distributed strategy: the part filter prunes the fact first
    (broadcast), supplier carries its nation name pre-joined
    (broadcast), and the only real shuffle is the co-partitioned
    fact-fact lineitem x orders join — the Q7/Q8 discipline.

    Precision discipline: every operand is cast to the NARROWEST
    decimal that holds its domain (ext (12,2) — max ~1.05e5; retail
    (8,2) — max 999.9; qty (4,1) — max 50; disc (4,2)) so the product
    chain tops out at decimal(19,4) on Spark and never approaches the
    38-digit ceiling where Spark's allowPrecisionLoss and DuckDB's
    DOUBLE-fallback would diverge (the Q11 advisor lesson).  Mirrored
    casts in Q9_SQL; sums stay DECIMAL and only the final value casts
    to DOUBLE."""
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%gear%"))
        .select(
            "p_partkey",
            (
                F.col("p_retailprice").cast("decimal(8,2)")
                * F.lit(0.6).cast("decimal(2,1)")
            ).alias("unit_cost"),
        )
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(4,2)")
    amount = F.col("l_extendedprice").cast("decimal(12,2)") * (
        one - F.col("l_discount").cast("decimal(4,2)")
    ) - F.col("unit_cost") * F.col("l_quantity").cast("decimal(4,1)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("n_name", "o_year")
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


Q9_SQL = """
SELECT n_name, o_year, CAST(CAST(sum(amount) AS VARCHAR) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name, CAST(extract(year FROM o_orderdate) AS INTEGER) AS o_year,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
         - CAST(p_retailprice AS DECIMAL(8,2)) * CAST(0.6 AS DECIMAL(2,1))
           * CAST(l_quantity AS DECIMAL(4,1)) AS amount
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN orders ON o_orderkey = l_orderkey
  WHERE p_name LIKE '%gear%'
) profit
GROUP BY n_name, o_year
"""


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (r10, adapted: the supplier-part catalog is the
    DISTINCT (l_partkey, l_suppkey) set from lineitem — no partsupp —
    and the excluded 'complaint' suppliers are the deterministic
    ``s_suppkey % 13 = 0`` set, non-empty at every SF (1/8/77 suppliers
    at sf0.001/0.01/0.1; this testdata has no s_comment)): distinct
    supplier counts per (brand, type, size) for the non-excluded
    attribute slices — the classical NOT-IN anti-join feeding a
    count-distinct rollup.

    Distributed strategy: ONE distinct shuffle collapses the fact to
    pair grain, then both the exclusion (left_anti) and the part
    attributes are broadcast joins; the final count-distinct re-shuffles
    only pair-grain rows on a 3-col key.  A single distinct aggregate —
    never two in one agg, which would Expand 2x (the Q21 lesson)."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") % 13 == 0)
        .select("s_suppkey")
    )
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#4")
        & (~F.col("p_type").like("PROMO%"))
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    return (
        pairs.join(F.broadcast(bad), pairs.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#4' AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 13 = 0)
GROUP BY 1, 2, 3
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over the event stream: users grouped by
    first-seen day, tracked across subsequent activity days.  Two aggs
    + a self-join on the (small) per-user first-seen table — at scale
    the cohort dimension broadcasts."""
    ev = load_events(spark, sf_dir)
    day_ns = 86400 * 1_000_000_000
    days = ev.select("user_id", F.expr(f"ts_ns div {day_ns}").alias("day")).distinct()
    first_seen = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(F.broadcast(first_seen), "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


COHORT_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
),
first_seen AS (
  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
)
SELECT cohort_day, day - cohort_day AS day_offset, count(DISTINCT d.user_id) AS n_active
FROM days d JOIN first_seen f ON d.user_id = f.user_id
GROUP BY 1, 2 ORDER BY cohort_day, day_offset
"""


def percentile_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-quantile (quartiles) per group."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("p75"),
        )
    )


PERCENTILE_MULTI_SQL = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.75), 4) AS p75
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# Packs — the driver hash-checks only the first 50 registry entries, so
# the micro-query inventory above is folded into union-harmonized packs
# (one CORRECTNESS row each).  An arm lives once, in the pack that runs
# it: each arm is the unchanged original computation, cast onto the
# pack's shared (kind, keys..., values...) schema in BOTH engines, and a
# fold of two packs is one longer arm list, never a union of packs.  The
# driver's column-sorted multiset hash is unaffected by the union because
# values and types are preserved per arm.
# ---------------------------------------------------------------------------


def _nl(dtype: str, name: str):
    return F.lit(None).cast(dtype).alias(name)


def _union(arms: list[DataFrame]) -> DataFrame:
    """A pack's arms as one frame: left-deep ``unionByName`` in list order."""
    return reduce(DataFrame.unionByName, arms)


def _nulls(dtype: str, *names: str) -> str:
    """DuckDB twin of ``_nl`` over several columns: typed NULL pads."""
    return ", ".join(f"CAST(NULL AS {dtype}) AS {n}" for n in names)


def joins_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 inventory in one pack: semi / anti / left-outer / full-outer /
    cross / range joins (each arm = the original operator above)."""
    arms = [
        join_semi(spark, sf_dir).select(
            F.lit("semi").alias("kind"),
            F.col("c_custkey").cast("bigint").alias("k1"),
            F.col("c_name").alias("s1"),
            _nl("bigint", "v1"),
            _nl("bigint", "v2"),
        ),
        join_anti(spark, sf_dir).select(
            F.lit("anti").alias("kind"),
            F.col("o_orderkey").cast("bigint").alias("k1"),
            F.col("o_orderstatus").alias("s1"),
            _nl("bigint", "v1"),
            _nl("bigint", "v2"),
        ),
        join_outer_counts(spark, sf_dir).select(
            F.lit("outer").alias("kind"),
            F.col("c_custkey").cast("bigint").alias("k1"),
            _nl("string", "s1"),
            F.col("n_orders").cast("bigint").alias("v1"),
            _nl("bigint", "v2"),
        ),
        join_full_outer(spark, sf_dir).select(
            F.lit("full").alias("kind"),
            F.col("nationkey").cast("bigint").alias("k1"),
            _nl("string", "s1"),
            F.col("n_cust").cast("bigint").alias("v1"),
            F.col("n_supp").cast("bigint").alias("v2"),
        ),
        join_cross(spark, sf_dir).select(
            F.lit("cross").alias("kind"),
            _nl("bigint", "k1"),
            F.concat_ws("|", "r_name", "o_orderstatus").alias("s1"),
            _nl("bigint", "v1"),
            _nl("bigint", "v2"),
        ),
        range_join(spark, sf_dir).select(
            F.lit("range").alias("kind"),
            F.col("user_id").cast("bigint").alias("k1"),
            _nl("string", "s1"),
            F.col("n_pairs").cast("bigint").alias("v1"),
            _nl("bigint", "v2"),
        ),
    ]
    return _union(arms)


def _arm(kind: str, inner_sql: str, cols: str) -> str:
    body = inner_sql.strip().rstrip(";")
    return f"SELECT '{kind}' AS kind, {cols} FROM ({body})"


JOINS_PACK_SQL = f"""
{_arm('semi', JOIN_SEMI_SQL, "CAST(c_custkey AS BIGINT) AS k1, c_name AS s1, CAST(NULL AS BIGINT) AS v1, CAST(NULL AS BIGINT) AS v2")}
UNION ALL
{_arm('anti', JOIN_ANTI_SQL, "CAST(o_orderkey AS BIGINT) AS k1, o_orderstatus AS s1, CAST(NULL AS BIGINT) AS v1, CAST(NULL AS BIGINT) AS v2")}
UNION ALL
{_arm('outer', JOIN_OUTER_SQL, "CAST(c_custkey AS BIGINT) AS k1, CAST(NULL AS VARCHAR) AS s1, CAST(n_orders AS BIGINT) AS v1, CAST(NULL AS BIGINT) AS v2")}
UNION ALL
{_arm('full', JOIN_FULL_OUTER_SQL, "CAST(nationkey AS BIGINT) AS k1, CAST(NULL AS VARCHAR) AS s1, CAST(n_cust AS BIGINT) AS v1, CAST(n_supp AS BIGINT) AS v2")}
UNION ALL
{_arm('cross', JOIN_CROSS_SQL, "CAST(NULL AS BIGINT) AS k1, r_name || '|' || o_orderstatus AS s1, CAST(NULL AS BIGINT) AS v1, CAST(NULL AS BIGINT) AS v2")}
UNION ALL
{_arm('range', RANGE_JOIN_SQL, "CAST(user_id AS BIGINT) AS k1, CAST(NULL AS VARCHAR) AS s1, CAST(n_pairs AS BIGINT) AS v1, CAST(NULL AS BIGINT) AS v2")}
ORDER BY kind, k1, s1
"""


def window_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 inventory in one scan: running sum (rows frame), ranking
    functions (rank / dense_rank / ntile / percent_rank / cume_dist),
    offset+positional functions (lag / lead / first_value / nth_value),
    a RANGE frame, and a whole-partition frame — five windows over one
    orders pass (one shuffle on o_custkey serves all window specs that
    share the partition key).

    Cross-engine exactness of the r14 arms: w_rank is a TOTAL order
    (o_orderkey tiebreak), so ntile's bucket formula, nth_value's
    default RANGE-to-current frame (== ROWS under a total order), and
    the percent_rank/cume_dist rank inputs are all deterministic; the
    two ratios are single IEEE divisions of small integers — identical
    bit patterns in both engines, no summation order involved."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "od_epoch", F.unix_timestamp("o_orderdate")
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_rank = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    w_range = Window.partitionBy("o_custkey").orderBy("od_epoch").rangeBetween(-30 * 86400, 0)
    w_all = Window.partitionBy("o_custkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("od_epoch").alias("o_orderdate_epoch"),
        F.sum(_dec("o_totalprice")).over(w_run).cast("double").alias("running_spend"),
        F.rank().over(w_rank).alias("rnk"),
        F.dense_rank().over(w_rank).alias("drnk"),
        F.lag("o_orderkey").over(w_rank).alias("prev_key"),
        F.lead("o_orderkey").over(w_rank).alias("next_key"),
        F.first_value("o_orderkey").over(w_rank).alias("top_key"),
        F.sum(_dec("o_totalprice")).over(w_range).cast("double").alias("spend_30d"),
        # r14 arms: quartile bucket, relative ranks, 2nd-by-spend,
        # whole-partition count
        F.ntile(4).over(w_rank).alias("spend_quartile"),
        F.percent_rank().over(w_rank).alias("pct_rnk"),
        F.cume_dist().over(w_rank).alias("cdist"),
        F.nth_value("o_orderkey", 2).over(w_rank).alias("second_key"),
        F.count(F.lit(1)).over(w_all).alias("n_cust_orders"),
    )


WINDOW_PACK_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate_epoch,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w_run AS DOUBLE) AS running_spend,
       rank() OVER w_rank AS rnk,
       dense_rank() OVER w_rank AS drnk,
       lag(o_orderkey) OVER w_rank AS prev_key,
       lead(o_orderkey) OVER w_rank AS next_key,
       first_value(o_orderkey) OVER w_rank AS top_key,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w_range AS DOUBLE) AS spend_30d,
       ntile(4) OVER w_rank AS spend_quartile,
       percent_rank() OVER w_rank AS pct_rnk,
       cume_dist() OVER w_rank AS cdist,
       nth_value(o_orderkey, 2) OVER w_rank AS second_key,
       count(*) OVER w_all AS n_cust_orders
FROM orders
WINDOW w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       w_rank AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
       w_range AS (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
                   RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW),
       w_all AS (PARTITION BY o_custkey)
ORDER BY o_custkey, o_orderkey
"""


def agg_percentile_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 aggregate pack: distinct aggregates, CUBE and explicit
    GROUPING SETS (counts in v1-v3), then the exact quantiles —
    a single median by priority and quartiles by status (group in k1,
    quantiles in p25-p75).  Each arm NULLs the other family's columns."""
    arms = [
        agg_distinct(spark, sf_dir).select(
            F.lit("distinct").alias("kind"),
            F.col("l_returnflag").alias("k1"),
            _nl("string", "k2"),
            F.col("n_supp").cast("bigint").alias("v1"),
            F.col("n_part").cast("bigint").alias("v2"),
            F.col("n_rows").cast("bigint").alias("v3"),
            _nl("double", "p25"), _nl("double", "p50"), _nl("double", "p75"),
        ),
        agg_cube(spark, sf_dir).select(
            F.lit("cube").alias("kind"),
            F.col("c_mktsegment").alias("k1"),
            F.col("o_orderstatus").alias("k2"),
            F.col("n").cast("bigint").alias("v1"),
            _nl("bigint", "v2"), _nl("bigint", "v3"),
            _nl("double", "p25"), _nl("double", "p50"), _nl("double", "p75"),
        ),
        agg_grouping_sets(spark, sf_dir).select(
            F.lit("gsets").alias("kind"),
            F.col("c_mktsegment").alias("k1"),
            F.col("o_orderstatus").alias("k2"),
            F.col("n").cast("bigint").alias("v1"),
            _nl("bigint", "v2"), _nl("bigint", "v3"),
            _nl("double", "p25"), _nl("double", "p50"), _nl("double", "p75"),
        ),
        percentile_exact(spark, sf_dir).select(
            F.lit("by_priority").alias("kind"),
            F.col("o_orderpriority").alias("k1"),
            _nl("string", "k2"),
            _nl("bigint", "v1"), _nl("bigint", "v2"), _nl("bigint", "v3"),
            _nl("double", "p25"),
            F.col("median_price").cast("double").alias("p50"),
            _nl("double", "p75"),
        ),
        percentile_multi(spark, sf_dir).select(
            F.lit("by_status").alias("kind"),
            F.col("o_orderstatus").alias("k1"),
            _nl("string", "k2"),
            _nl("bigint", "v1"), _nl("bigint", "v2"), _nl("bigint", "v3"),
            F.col("p25").cast("double").alias("p25"),
            F.col("p50").cast("double").alias("p50"),
            F.col("p75").cast("double").alias("p75"),
        ),
    ]
    return _union(arms)


_NO_PCT = _nulls("DOUBLE", "p25", "p50", "p75")
_NO_COUNTS = _nulls("BIGINT", "v1", "v2", "v3")

AGG_PERCENTILE_SQL = f"""
{_arm('distinct', AGG_DISTINCT_SQL, f"l_returnflag AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(n_supp AS BIGINT) AS v1, CAST(n_part AS BIGINT) AS v2, CAST(n_rows AS BIGINT) AS v3, {_NO_PCT}")}
UNION ALL
{_arm('cube', AGG_CUBE_SQL, f"c_mktsegment AS k1, o_orderstatus AS k2, CAST(n AS BIGINT) AS v1, {_nulls('BIGINT', 'v2', 'v3')}, {_NO_PCT}")}
UNION ALL
{_arm('gsets', AGG_GROUPING_SETS_SQL, f"c_mktsegment AS k1, o_orderstatus AS k2, CAST(n AS BIGINT) AS v1, {_nulls('BIGINT', 'v2', 'v3')}, {_NO_PCT}")}
UNION ALL
{_arm('by_priority', PERCENTILE_SQL, f"o_orderpriority AS k1, CAST(NULL AS VARCHAR) AS k2, {_NO_COUNTS}, CAST(NULL AS DOUBLE) AS p25, CAST(median_price AS DOUBLE) AS p50, CAST(NULL AS DOUBLE) AS p75")}
UNION ALL
{_arm('by_status', PERCENTILE_MULTI_SQL, f"o_orderstatus AS k1, CAST(NULL AS VARCHAR) AS k2, {_NO_COUNTS}, CAST(p25 AS DOUBLE) AS p25, CAST(p50 AS DOUBLE) AS p50, CAST(p75 AS DOUBLE) AS p75")}
ORDER BY kind, k1, k2
"""


def row_scalar_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 per-row function pack under one (kind, id, s1-s4, v1-v5)
    schema: string/math over part (the part arm fills s4/v3-v5 with
    levenshtein, bit algebra, greatest/least and split_part), array
    algebra over documents, JSON extract/rebuild over events, and
    regex/pad/reverse/translate plus calendar parts over orders.  Arms
    without a value for a slot NULL-pad it.  The orders arm's
    day-of-week is integer epoch math so both engines share one
    definition (0=Sunday; 1970-01-01 was a Thursday)."""
    epoch_day = F.expr("unix_timestamp(o_orderdate) div 86400")
    arms = [
        scalar_funcs(spark, sf_dir).select(
            F.lit("part").alias("kind"),
            F.col("p_partkey").cast("bigint").alias("id"),
            F.col("brand_u").alias("s1"),
            F.col("type5").alias("s2"),
            F.col("brand_size").alias("s3"),
            F.col("type_tail").alias("s4"),
            F.col("name_len").cast("bigint").alias("v1"),
            F.col("size2").cast("bigint").alias("v2"),
            F.col("lev").cast("bigint").alias("v3"),
            F.col("bits").cast("bigint").alias("v4"),
            F.col("gl").cast("bigint").alias("v5"),
        ),
        array_funcs_pack(spark, sf_dir).select(
            F.lit("doc_array").alias("kind"),
            F.col("doc_id").cast("bigint").alias("id"),
            F.col("first_sorted").alias("s1"),
            F.col("last_sorted").alias("s2"),
            F.col("first3").alias("s3"),
            _nl("string", "s4"),
            F.col("n").cast("bigint").alias("v1"),
            F.col("has_data").cast("bigint").alias("v2"),
            _nl("bigint", "v3"), _nl("bigint", "v4"), _nl("bigint", "v5"),
        ),
        json_funcs_pack(spark, sf_dir).select(
            F.lit("ev_json").alias("kind"),
            F.col("event_id").cast("bigint").alias("id"),
            F.col("rebuilt").alias("s1"),
            _nl("string", "s2"), _nl("string", "s3"), _nl("string", "s4"),
            F.col("k").cast("bigint").alias("v1"),
            F.col("k_mod").cast("bigint").alias("v2"),
            _nl("bigint", "v3"), _nl("bigint", "v4"), _nl("bigint", "v5"),
        ),
        load_table(spark, sf_dir, "orders").select(
            F.lit("ord_row").alias("kind"),
            F.col("o_orderkey").cast("bigint").alias("id"),
            F.regexp_extract("o_orderpriority", "^[0-9]+", 0).alias("s1"),
            F.lpad("o_orderstatus", 3, "_").alias("s2"),
            F.reverse("o_orderpriority").alias("s3"),
            F.translate("o_orderstatus", "OFP", "ofp").alias("s4"),
            F.year("o_orderdate").cast("bigint").alias("v1"),
            F.month("o_orderdate").cast("bigint").alias("v2"),
            F.dayofmonth("o_orderdate").cast("bigint").alias("v3"),
            F.quarter("o_orderdate").cast("bigint").alias("v4"),
            ((epoch_day + 4) % 7).cast("bigint").alias("v5"),
        ),
    ]
    return _union(arms)


_NO_V345 = _nulls("BIGINT", "v3", "v4", "v5")

ROW_SCALAR_PACK_SQL = f"""
{_arm('part', SCALAR_FUNCS_SQL, "CAST(p_partkey AS BIGINT) AS id, brand_u AS s1, type5 AS s2, brand_size AS s3, type_tail AS s4, CAST(name_len AS BIGINT) AS v1, CAST(size2 AS BIGINT) AS v2, CAST(lev AS BIGINT) AS v3, CAST(bits AS BIGINT) AS v4, CAST(gl AS BIGINT) AS v5")}
UNION ALL
{_arm('doc_array', ARRAY_FUNCS_SQL, f"CAST(doc_id AS BIGINT) AS id, first_sorted AS s1, last_sorted AS s2, first3 AS s3, CAST(NULL AS VARCHAR) AS s4, CAST(n AS BIGINT) AS v1, CAST(has_data AS BIGINT) AS v2, {_NO_V345}")}
UNION ALL
{_arm('ev_json', JSON_FUNCS_SQL, f"CAST(event_id AS BIGINT) AS id, rebuilt AS s1, {_nulls('VARCHAR', 's2', 's3', 's4')}, CAST(k AS BIGINT) AS v1, CAST(k_mod AS BIGINT) AS v2, {_NO_V345}")}
UNION ALL
SELECT 'ord_row' AS kind, CAST(o_orderkey AS BIGINT) AS id,
       regexp_extract(o_orderpriority, '^[0-9]+', 0) AS s1,
       lpad(o_orderstatus, 3, '_') AS s2,
       reverse(o_orderpriority) AS s3,
       translate(o_orderstatus, 'OFP', 'ofp') AS s4,
       CAST(year(o_orderdate) AS BIGINT) AS v1, CAST(month(o_orderdate) AS BIGINT) AS v2,
       CAST(day(o_orderdate) AS BIGINT) AS v3, CAST(quarter(o_orderdate) AS BIGINT) AS v4,
       CAST(((CAST(epoch(o_orderdate) AS BIGINT) // 86400) + 4) % 7 AS BIGINT) AS v5
FROM orders
ORDER BY kind, id
"""


def shape_ops_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 reshape + B7 set-ops pack under one (kind, key, attr, v_cnt,
    v_num) schema: the status×priority pivot (re-stacked to long form),
    the part unpivot, and INTERSECT / EXCEPT / EXCEPT ALL over order
    customers (custkey in key, except-all multiplicity in v_cnt)."""
    arms = [
        pivot_status_priority(spark, sf_dir).select(
            F.lit("pivot").alias("kind"),
            F.col("o_orderstatus").alias("key"),
            F.expr(
                "stack(5, 'urgent', urgent, 'high', high, 'medium', medium, "
                "'not_specified', not_specified, 'low', low) AS (attr, v_cnt)"
            ),
            _nl("double", "v_num"),
        ),
        unpivot_part(spark, sf_dir).select(
            F.lit("unpivot").alias("kind"),
            F.col("p_partkey").cast("string").alias("key"),
            F.col("attr"),
            _nl("bigint", "v_cnt"),
            F.col("val").cast("double").alias("v_num"),
        ),
        set_intersect(spark, sf_dir).select(
            F.lit("intersect").alias("kind"),
            F.col("o_custkey").cast("string").alias("key"),
            _nl("string", "attr"), _nl("bigint", "v_cnt"), _nl("double", "v_num"),
        ),
        set_except(spark, sf_dir).select(
            F.lit("except").alias("kind"),
            F.col("o_custkey").cast("string").alias("key"),
            _nl("string", "attr"), _nl("bigint", "v_cnt"), _nl("double", "v_num"),
        ),
        set_except_all(spark, sf_dir).select(
            F.lit("except_all").alias("kind"),
            F.col("o_custkey").cast("string").alias("key"),
            _nl("string", "attr"),
            F.col("n").cast("bigint").alias("v_cnt"),
            _nl("double", "v_num"),
        ),
    ]
    return _union(arms)


SHAPE_OPS_SQL = f"""
SELECT 'pivot' AS kind, o_orderstatus AS key, attr, v_cnt, CAST(NULL AS DOUBLE) AS v_num
FROM (
  SELECT o_orderstatus, unnest(['urgent', 'high', 'medium', 'not_specified', 'low']) AS attr,
         unnest([urgent, high, medium, not_specified, low]) AS v_cnt
  FROM ({PIVOT_SQL.strip()})
)
UNION ALL
{_arm('unpivot', UNPIVOT_SQL, "CAST(p_partkey AS VARCHAR) AS key, attr, CAST(NULL AS BIGINT) AS v_cnt, CAST(val AS DOUBLE) AS v_num")}
UNION ALL
{_arm('intersect', SET_INTERSECT_SQL, "CAST(o_custkey AS VARCHAR) AS key, CAST(NULL AS VARCHAR) AS attr, CAST(NULL AS BIGINT) AS v_cnt, CAST(NULL AS DOUBLE) AS v_num")}
UNION ALL
{_arm('except', SET_EXCEPT_SQL, "CAST(o_custkey AS VARCHAR) AS key, CAST(NULL AS VARCHAR) AS attr, CAST(NULL AS BIGINT) AS v_cnt, CAST(NULL AS DOUBLE) AS v_num")}
UNION ALL
{_arm('except_all', SET_EXCEPT_ALL_SQL, "CAST(o_custkey AS VARCHAR) AS key, CAST(NULL AS VARCHAR) AS attr, CAST(n AS BIGINT) AS v_cnt, CAST(NULL AS DOUBLE) AS v_num")}
ORDER BY kind, key, attr
"""


# Single source of truth for the pack's arm inventory: tpch_pack's union
# below and the arm-completeness pytest both consume THIS dict, so adding
# an arm in one place and forgetting another is a test failure.
TPCH_ARMS = {
    "q4": q4_order_priority,
    "q10": q10_returned_items,
    "topk_part": topk_global,
    "q6": q6_forecast_revenue,
    "q12": q12_late_priority_counts,
    "q14": q14_promo_revenue,
    "q19": q19_disjunctive_revenue,
    "q17": q17_small_quantity_revenue,
    "q18": q18_large_volume_customers,
    "q21": q21_sole_late_supplier,
    "q20": q20_part_promotion_suppliers,
    "q22": q22_dormant_balance_customers,
    "q7": q7_volume_shipping,
    "q8": q8_market_share,
    "q13": q13_customer_distribution,
    "q15": q15_top_supplier,
    "q11": q11_important_parts,
    "q2": q2_min_cost_supplier,
    "q9": q9_product_type_profit,
    "q16": q16_supplier_part_counts,
}


def tpch_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H shapes pack: Q4 (EXISTS + count), Q10 (returned-item
    revenue top-20), global top-k, Q6/Q12/Q14 (r6), Q19 (disjunctive
    join predicate), Q17/Q18/Q21 (r8: correlated scalar subquery,
    HAVING-sum semi-join, EXISTS+NOT-EXISTS), Q20/Q22 (r8 cont.:
    nested-IN + correlated-total HAVING, scalar-threshold +
    anti-join), Q7/Q8/Q13 (r8 cont.: role-playing dims + disjunctive
    pair predicate, deep-tree conditional-share ratio, outer-join
    ON-predicate + aggregation-over-aggregation), Q15/Q11 (r9:
    max-over-aggregate view, group HAVING vs scaled global scalar),
    Q2/Q9/Q16 (r10: correlated min-subquery winner pick, five-table
    profit tree, NOT-IN + count-distinct rollup — completing all 22
    TPC-H query shapes across this pack + the standalone q1/q3/q5)."""
    arms = [
        q4_order_priority(spark, sf_dir).select(
            F.lit("q4").alias("kind"),
            F.col("o_orderpriority").alias("k1"),
            _nl("string", "k2"),
            F.col("order_count").cast("bigint").alias("v1"),
            _nl("double", "v2"),
        ),
        q10_returned_items(spark, sf_dir).select(
            F.lit("q10").alias("kind"),
            F.col("c_custkey").cast("string").alias("k1"),
            F.col("c_name").alias("k2"),
            _nl("bigint", "v1"),
            F.col("revenue").cast("double").alias("v2"),
        ),
        topk_global(spark, sf_dir).select(
            F.lit("topk_part").alias("kind"),
            F.col("p_partkey").cast("string").alias("k1"),
            F.col("p_name").alias("k2"),
            _nl("bigint", "v1"),
            F.col("p_retailprice").cast("double").alias("v2"),
        ),
        # r6 arms: Q6 (pure pushdown filter-agg), Q12 shape (join +
        # date-interval predicate + CASE counts), Q14 (broadcast dim
        # join + conditional ratio)
        q6_forecast_revenue(spark, sf_dir).select(
            F.lit("q6").alias("kind"),
            _nl("string", "k1"),
            _nl("string", "k2"),
            F.col("n_lines").cast("bigint").alias("v1"),
            F.col("revenue").alias("v2"),
        ),
        q12_late_priority_counts(spark, sf_dir).select(
            F.lit("q12").alias("kind"),
            F.col("l_returnflag").alias("k1"),
            _nl("string", "k2"),
            F.col("high_line_count").cast("bigint").alias("v1"),
            F.col("low_line_count").cast("double").alias("v2"),
        ),
        q14_promo_revenue(spark, sf_dir).select(
            F.lit("q14").alias("kind"),
            _nl("string", "k1"),
            _nl("string", "k2"),
            _nl("bigint", "v1"),
            F.col("promo_pct").alias("v2"),
        ),
        # late-r6 arm: Q19 shape (disjunctive join predicate)
        q19_disjunctive_revenue(spark, sf_dir).select(
            F.lit("q19").alias("kind"),
            _nl("string", "k1"),
            _nl("string", "k2"),
            F.col("n_lines").cast("bigint").alias("v1"),
            F.col("revenue").alias("v2"),
        ),
        # r8 arms: Q17 (correlated scalar subquery, decorrelated as
        # aggregate-then-join-back), Q18 (HAVING-sum semi-join + top-k),
        # Q21 (EXISTS + NOT EXISTS double self-join, decorrelated to one
        # order-grain aggregate)
        q17_small_quantity_revenue(spark, sf_dir).select(
            F.lit("q17").alias("kind"),
            _nl("string", "k1"),
            _nl("string", "k2"),
            F.col("n_lines").cast("bigint").alias("v1"),
            F.col("avg_yearly").alias("v2"),
        ),
        q18_large_volume_customers(spark, sf_dir).select(
            F.lit("q18").alias("kind"),
            F.col("o_orderkey").cast("string").alias("k1"),
            F.col("c_name").alias("k2"),
            _nl("bigint", "v1"),
            F.col("sum_qty").alias("v2"),
        ),
        q21_sole_late_supplier(spark, sf_dir).select(
            F.lit("q21").alias("kind"),
            F.col("s_name").alias("k1"),
            _nl("string", "k2"),
            F.col("numwait").cast("bigint").alias("v1"),
            _nl("double", "v2"),
        ),
        # r8 continuation arms: Q20 (nested-IN + grouped HAVING against a
        # correlated total), Q22 (uncorrelated scalar threshold +
        # NOT-EXISTS anti-join)
        q20_part_promotion_suppliers(spark, sf_dir).select(
            F.lit("q20").alias("kind"),
            F.col("n_name").alias("k1"),
            _nl("string", "k2"),
            F.col("n_supp").cast("bigint").alias("v1"),
            _nl("double", "v2"),
        ),
        q22_dormant_balance_customers(spark, sf_dir).select(
            F.lit("q22").alias("kind"),
            F.col("c_nationkey").cast("string").alias("k1"),
            _nl("string", "k2"),
            F.col("numcust").cast("bigint").alias("v1"),
            F.col("totacctbal").alias("v2"),
        ),
        # r8 continuation arms: Q7 (role-playing nation dims +
        # disjunctive pair predicate), Q8 (deep join tree +
        # conditional-share ratio), Q13 (outer-join ON-predicate +
        # aggregation over aggregation)
        q7_volume_shipping(spark, sf_dir).select(
            F.lit("q7").alias("kind"),
            F.col("supp_nation").alias("k1"),
            F.col("cust_nation").alias("k2"),
            F.col("l_year").cast("bigint").alias("v1"),
            F.col("revenue").alias("v2"),
        ),
        q8_market_share(spark, sf_dir).select(
            F.lit("q8").alias("kind"),
            _nl("string", "k1"),
            _nl("string", "k2"),
            F.col("o_year").cast("bigint").alias("v1"),
            F.col("mkt_share").alias("v2"),
        ),
        q13_customer_distribution(spark, sf_dir).select(
            F.lit("q13").alias("kind"),
            _nl("string", "k1"),
            _nl("string", "k2"),
            F.col("c_count").cast("bigint").alias("v1"),
            F.col("custdist").cast("double").alias("v2"),
        ),
        # r9 arms: Q15 (max-over-aggregate "view" consumed twice),
        # Q11 (group HAVING vs a scaled global scalar of the same agg)
        q15_top_supplier(spark, sf_dir).select(
            F.lit("q15").alias("kind"),
            F.col("s_name").alias("k1"),
            _nl("string", "k2"),
            _nl("bigint", "v1"),
            F.col("total_rev").alias("v2"),
        ),
        q11_important_parts(spark, sf_dir).select(
            F.lit("q11").alias("kind"),
            F.col("l_partkey").cast("string").alias("k1"),
            _nl("string", "k2"),
            _nl("bigint", "v1"),
            F.col("value").alias("v2"),
        ),
        # r10 arms: Q2 (correlated min-subquery winner pick), Q9
        # (five-table profit tree), Q16 (NOT-IN + count-distinct rollup)
        q2_min_cost_supplier(spark, sf_dir).select(
            F.lit("q2").alias("kind"),
            F.col("p_partkey").cast("string").alias("k1"),
            F.concat_ws("|", "s_name", "n_name").alias("k2"),
            F.col("cost_cents").alias("v1"),
            F.col("s_acctbal").alias("v2"),
        ),
        q9_product_type_profit(spark, sf_dir).select(
            F.lit("q9").alias("kind"),
            F.col("n_name").alias("k1"),
            _nl("string", "k2"),
            F.col("o_year").cast("bigint").alias("v1"),
            F.col("sum_profit").alias("v2"),
        ),
        q16_supplier_part_counts(spark, sf_dir).select(
            F.lit("q16").alias("kind"),
            F.col("p_brand").alias("k1"),
            F.concat_ws("|", "p_type", F.col("p_size").cast("string")).alias("k2"),
            F.col("supplier_cnt").alias("v1"),
            _nl("double", "v2"),
        ),
    ]
    return _union(arms)


TPCH_PACK_SQL = f"""
{_arm('q4', Q4_SQL, "o_orderpriority AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(order_count AS BIGINT) AS v1, CAST(NULL AS DOUBLE) AS v2")}
UNION ALL
{_arm('q10', Q10_SQL, "CAST(c_custkey AS VARCHAR) AS k1, c_name AS k2, CAST(NULL AS BIGINT) AS v1, CAST(revenue AS DOUBLE) AS v2")}
UNION ALL
{_arm('topk_part', TOPK_GLOBAL_SQL, "CAST(p_partkey AS VARCHAR) AS k1, p_name AS k2, CAST(NULL AS BIGINT) AS v1, CAST(p_retailprice AS DOUBLE) AS v2")}
UNION ALL
{_arm('q6', Q6_SQL, "CAST(NULL AS VARCHAR) AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(n_lines AS BIGINT) AS v1, revenue AS v2")}
UNION ALL
{_arm('q12', Q12_SQL, "l_returnflag AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(high_line_count AS BIGINT) AS v1, CAST(low_line_count AS DOUBLE) AS v2")}
UNION ALL
{_arm('q14', Q14_SQL, "CAST(NULL AS VARCHAR) AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(NULL AS BIGINT) AS v1, promo_pct AS v2")}
UNION ALL
{_arm('q19', Q19_SQL, "CAST(NULL AS VARCHAR) AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(n_lines AS BIGINT) AS v1, revenue AS v2")}
UNION ALL
{_arm('q17', Q17_SQL, "CAST(NULL AS VARCHAR) AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(n_lines AS BIGINT) AS v1, avg_yearly AS v2")}
UNION ALL
{_arm('q18', Q18_SQL, "CAST(o_orderkey AS VARCHAR) AS k1, c_name AS k2, CAST(NULL AS BIGINT) AS v1, sum_qty AS v2")}
UNION ALL
{_arm('q21', Q21_SQL, "s_name AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(numwait AS BIGINT) AS v1, CAST(NULL AS DOUBLE) AS v2")}
UNION ALL
{_arm('q20', Q20_SQL, "n_name AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(n_supp AS BIGINT) AS v1, CAST(NULL AS DOUBLE) AS v2")}
UNION ALL
{_arm('q22', Q22_SQL, "CAST(c_nationkey AS VARCHAR) AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(numcust AS BIGINT) AS v1, totacctbal AS v2")}
UNION ALL
{_arm('q7', Q7_SQL, "supp_nation AS k1, cust_nation AS k2, CAST(l_year AS BIGINT) AS v1, revenue AS v2")}
UNION ALL
{_arm('q8', Q8_SQL, "CAST(NULL AS VARCHAR) AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(o_year AS BIGINT) AS v1, mkt_share AS v2")}
UNION ALL
{_arm('q13', Q13_SQL, "CAST(NULL AS VARCHAR) AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(c_count AS BIGINT) AS v1, CAST(custdist AS DOUBLE) AS v2")}
UNION ALL
{_arm('q15', Q15_SQL, "s_name AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(NULL AS BIGINT) AS v1, total_rev AS v2")}
UNION ALL
{_arm('q11', Q11_SQL, "CAST(l_partkey AS VARCHAR) AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(NULL AS BIGINT) AS v1, value AS v2")}
UNION ALL
{_arm('q2', Q2_SQL, "CAST(p_partkey AS VARCHAR) AS k1, s_name || '|' || n_name AS k2, cost_cents AS v1, s_acctbal AS v2")}
UNION ALL
{_arm('q9', Q9_SQL, "n_name AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(o_year AS BIGINT) AS v1, sum_profit AS v2")}
UNION ALL
{_arm('q16', Q16_SQL, "p_brand AS k1, p_type || '|' || CAST(p_size AS VARCHAR) AS k2, supplier_cnt AS v1, CAST(NULL AS DOUBLE) AS v2")}
ORDER BY kind, k1
"""


def time_aggs_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-dimension pack: sliding windows over events + cohort
    retention (events_sliding + cohort_retention merged)."""
    arms = [
        events_sliding(spark, sf_dir).select(
            F.lit("sliding").alias("kind"),
            F.col("window_start").cast("bigint").alias("k1"),
            F.col("event_type").alias("s1"),
            _nl("bigint", "k2"),
            F.col("n").cast("bigint").alias("v1"),
        ),
        cohort_retention(spark, sf_dir).select(
            F.lit("cohort").alias("kind"),
            F.col("cohort_day").cast("bigint").alias("k1"),
            _nl("string", "s1"),
            F.col("day_offset").cast("bigint").alias("k2"),
            F.col("n_active").cast("bigint").alias("v1"),
        ),
    ]
    return _union(arms)


TIME_AGGS_SQL = f"""
{_arm('sliding', EVENTS_SLIDING_SQL, "CAST(window_start AS BIGINT) AS k1, event_type AS s1, CAST(NULL AS BIGINT) AS k2, CAST(n AS BIGINT) AS v1")}
UNION ALL
{_arm('cohort', COHORT_SQL, "CAST(cohort_day AS BIGINT) AS k1, CAST(NULL AS VARCHAR) AS s1, CAST(day_offset AS BIGINT) AS k2, CAST(n_active AS BIGINT) AS v1")}
ORDER BY kind, k1, s1, k2
"""


# ---------------------------------------------------------------------------
# Registry: the 9 bench-headline queries stand alone (bench.py compares
# them per-round against BASELINE.md), the rest of Table B rides in the
# 7 packs above, + skew_salted_join and the approx_sketches op.  See
# COVERAGE.md for the pack → operator map.
# ---------------------------------------------------------------------------

QUERIES: dict[str, tuple] = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_shipping_priority": (q3_shipping_priority, Q3_SQL),
    "q5_nation_revenue": (q5_nation_revenue, Q5_SQL),
    "window_topk_per_group": (window_topk_per_group, WINDOW_TOPK_SQL),
    "agg_rollup": (agg_rollup, AGG_ROLLUP_SQL),
    "events_tumbling": (events_tumbling, EVENTS_TUMBLING_SQL),
    "sessionize": (sessionize, SESSIONIZE_SQL),
    "asof_join": (asof_join, ASOF_JOIN_SQL),
    "salted_hot_key_agg": (salted_hot_key_agg, SALTED_AGG_SQL),
    # r10: the slot banked by the term_stats_pack fold (textops)
    "skew_salted_join": (skew_salted_join, SKEW_SALTED_JOIN_SQL),
    "joins_pack": (joins_pack, JOINS_PACK_SQL),
    "window_pack": (window_pack, WINDOW_PACK_SQL),
    # three former pack pairs, each folded into one arm list to bank a
    # slot: schema_evolution (cdc.py), entity_state_manifest, and
    # dedup_coverage (dedup.py)
    "agg_percentile_pack": (agg_percentile_pack, AGG_PERCENTILE_SQL),
    "row_scalar_pack": (row_scalar_pack, ROW_SCALAR_PACK_SQL),
    "shape_ops_pack": (shape_ops_pack, SHAPE_OPS_SQL),
    "tpch_pack": (tpch_pack, TPCH_PACK_SQL),
    "time_aggs_pack": (time_aggs_pack, TIME_AGGS_SQL),
    "approx_sketches": (approx_sketches, APPROX_SKETCHES_SQL),
}


# ---------------------------------------------------------------------------
# Predicate-power probes (see registry.all_probes / dedup.PROBES header).
# The tpch_pack corpus probes were hand-curated in tools/power_audit.py
# r10; colocated here (r11) so a new arm/query cannot ship probe-less —
# registry.all_probes() fails loudly on any QUERIES entry without one.
# ---------------------------------------------------------------------------

PROBES: dict[str, tuple] = {
    # --- standalone TPC-H shapes ---
    "q1 filter (passing, rejected)": (
        "q1_pricing_summary", "corpus",
        """SELECT sum(CASE WHEN l_shipdate <= TIMESTAMP '1998-09-01' THEN 1 ELSE 0 END),
               sum(CASE WHEN l_shipdate <= TIMESTAMP '1998-09-01' THEN 0 ELSE 1 END)
           FROM lineitem"""),
    "q1 groups beyond one": (
        "q1_pricing_summary", "oracle",
        "SELECT (SELECT count(*) - 1 FROM t), (SELECT min(count_order) FROM t)"),
    "q3 limit power and segment filter": (
        "q3_shipping_priority", "corpus",
        """SELECT (SELECT count(*) FROM (
             SELECT o_orderkey FROM lineitem
             JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             WHERE c_mktsegment = 'BUILDING'
               AND o_orderdate < TIMESTAMP '1998-01-01'
               AND l_shipdate > TIMESTAMP '1996-01-01'
             GROUP BY o_orderkey)) - 10,
           (SELECT count(*) FROM customer WHERE c_mktsegment <> 'BUILDING')"""),
    "q5 date window (orders inside, outside)": (
        "q5_nation_revenue", "corpus",
        """SELECT sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                            AND o_orderdate < TIMESTAMP '1999-01-01' THEN 1 ELSE 0 END),
               sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                            AND o_orderdate < TIMESTAMP '1999-01-01' THEN 0 ELSE 1 END)
           FROM orders"""),
    "q5 region filter (ASIA nations, others)": (
        "q5_nation_revenue", "corpus",
        """SELECT (SELECT count(*) FROM nation JOIN region ON n_regionkey = r_regionkey
                   WHERE r_name = 'ASIA'),
               (SELECT count(*) FROM nation JOIN region ON n_regionkey = r_regionkey
                   WHERE r_name <> 'ASIA')"""),
    # --- windows / aggregation shapes ---
    "topk rank filter cuts groups, ranks spread": (
        "window_topk_per_group", "oracle",
        """SELECT (SELECT count(*) FROM (
             SELECT o_custkey FROM orders GROUP BY o_custkey
             HAVING count(*) > (SELECT max(rk) FROM t))),
           (SELECT max(rk) - 1 FROM t)"""),
    "rollup emits grand total and leaf rows": (
        "agg_rollup", "oracle",
        "SELECT sum(CASE WHEN r_name IS NULL AND n_name IS NULL THEN 1 ELSE 0 END),"
        " sum(CASE WHEN r_name IS NOT NULL AND n_name IS NOT NULL THEN 1 ELSE 0 END)"
        " FROM t"),
    "tumbling windows span buckets and aggregate >1 event": (
        "events_tumbling", "oracle",
        "SELECT (SELECT count(DISTINCT window_start) - 1 FROM t),"
        " (SELECT count(*) FROM t WHERE n > 1)"),
    "sessionize gap splits fire, sessions aggregate": (
        "sessionize", "oracle",
        "SELECT (SELECT count(*) FROM t WHERE n_sessions > 1),"
        " (SELECT count(*) FROM t WHERE n_events > n_sessions)"),
    "asof backward NULL vs present": (
        "asof_join", "oracle",
        "SELECT sum(CASE WHEN last_event_epoch IS NULL THEN 1 ELSE 0 END),"
        "       sum(CASE WHEN last_event_epoch IS NULL THEN 0 ELSE 1 END) FROM t"),
    "asof forward NULL vs present": (
        "asof_join", "oracle",
        "SELECT sum(CASE WHEN next_event_epoch IS NULL THEN 1 ELSE 0 END),"
        "       sum(CASE WHEN next_event_epoch IS NULL THEN 0 ELSE 1 END) FROM t"),
    "asof nearest direction (forward wins, backward wins)": (
        "asof_join", "oracle",
        """SELECT sum(CASE WHEN nearest_event_epoch = next_event_epoch
                AND (last_event_epoch IS NULL
                     OR nearest_event_epoch <> last_event_epoch) THEN 1 ELSE 0 END),
              sum(CASE WHEN nearest_event_epoch = last_event_epoch
                AND (next_event_epoch IS NULL
                     OR nearest_event_epoch <> next_event_epoch) THEN 1 ELSE 0 END)
        FROM t"""),
    "asof tolerance (excludes an existing backward, keeps one)": (
        "asof_join", "oracle",
        """SELECT sum(CASE WHEN last_event_epoch IS NOT NULL
                        AND last_event_epoch_within_tol IS NULL THEN 1 ELSE 0 END),
              sum(CASE WHEN last_event_epoch_within_tol IS NOT NULL THEN 1 ELSE 0 END)
        FROM t"""),
    "agg-skew hot group exceeds uniform share": (
        "salted_hot_key_agg", "corpus",
        """SELECT (SELECT max(cnt) FROM (SELECT count(*) AS cnt FROM lineitem
                   GROUP BY l_returnflag))
                - (SELECT count(*) FROM lineitem) / 10,
           (SELECT count(DISTINCT l_returnflag) - 1 FROM lineitem)"""),
    "join-skew hot key dominates, cold side nonzero": (
        "skew_salted_join", "corpus",
        """SELECT (SELECT count(*) FROM lineitem WHERE l_orderkey % 4 <> 0)
                - (SELECT count(*) FROM lineitem) / 2,
           (SELECT count(*) FROM lineitem WHERE l_orderkey % 4 = 0)"""),
    # --- packs ---
    "joins_pack all six arms populated": (
        "joins_pack", "oracle",
        "SELECT count(DISTINCT kind) - 5, NULL FROM t"),
    "semi join (customers kept, excluded)": (
        "joins_pack", "corpus",
        """SELECT sum(CASE WHEN e THEN 1 ELSE 0 END),
             sum(CASE WHEN e THEN 0 ELSE 1 END) FROM (
        SELECT EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey
                         AND o_orderstatus='O') AS e FROM customer)"""),
    "anti join (orders without lineitems, with)": (
        "joins_pack", "corpus",
        """SELECT sum(CASE WHEN e THEN 0 ELSE 1 END),
             sum(CASE WHEN e THEN 1 ELSE 0 END) FROM (
        SELECT EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey=o_orderkey) AS e FROM orders)"""),
    "full_outer unmatched sides (cust-only, supp-only nations)": (
        "joins_pack", "corpus",
        """WITH c AS (SELECT DISTINCT c_nationkey AS k FROM customer),
           s AS (SELECT DISTINCT s_nationkey AS k FROM supplier)
      SELECT (SELECT count(*) FROM c WHERE k NOT IN (SELECT k FROM s)),
             (SELECT count(*) FROM s WHERE k NOT IN (SELECT k FROM c))"""),
    "ntile/nth_value power (>=4-order customers, singleton customers)": (
        "window_pack", "corpus",
        """SELECT (SELECT count(*) FROM (SELECT o_custkey FROM orders
                GROUP BY 1 HAVING count(*) >= 4)),
               (SELECT count(*) FROM (SELECT o_custkey FROM orders
                GROUP BY 1 HAVING count(*) = 1))"""),
    "range frame peers (same-day same-customer groups)": (
        "window_pack", "corpus",
        """SELECT (SELECT count(*) FROM (SELECT o_custkey, o_orderdate FROM orders
              GROUP BY 1,2 HAVING count(*)>1)), NULL"""),
    "range frame width (multi-row frames, singleton frames)": (
        "window_pack", "corpus",
        """WITH t AS (SELECT o_custkey, CAST(epoch(o_orderdate) AS BIGINT) AS e
                 FROM orders)
      SELECT sum(CASE WHEN n>1 THEN 1 ELSE 0 END),
             sum(CASE WHEN n=1 THEN 1 ELSE 0 END) FROM (
        SELECT count(*) OVER (PARTITION BY o_custkey ORDER BY e
          RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS n FROM t)"""),
    "range frame trims older-than-30d rows": (
        "window_pack", "corpus",
        """WITH t AS (SELECT
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY CAST(epoch(o_orderdate) AS BIGINT)) AS rn,
          count(*) OVER (PARTITION BY o_custkey
            ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
            RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS nf
        FROM orders)
      SELECT (SELECT count(*) FROM t WHERE rn > nf), NULL"""),
    "agg_multi arms populated, cube emits subtotal rows": (
        "agg_percentile_pack", "oracle",
        "SELECT (SELECT count(DISTINCT kind) - 4 FROM t),"
        " (SELECT count(*) FROM t WHERE kind='cube'"
        "   AND (k1 IS NULL OR k2 IS NULL))"),
    "set_ops arms populated": (
        "shape_ops_pack", "oracle",
        "SELECT count(DISTINCT kind) - 2, NULL FROM t"
        " WHERE kind IN ('intersect', 'except', 'except_all')"),
    "except_all bag paths (partial cancel, full cancel)": (
        "shape_ops_pack", "corpus",
        """WITH a AS (SELECT o_custkey, count(*) AS ca FROM orders
                 WHERE o_orderstatus <> 'F' GROUP BY 1),
           b AS (SELECT o_custkey, count(*) AS cb FROM orders
                 WHERE o_orderstatus = 'O' GROUP BY 1)
      SELECT sum(CASE WHEN ca - coalesce(cb,0) > 0 AND coalesce(cb,0) > 0
                       AND ca > 1 THEN 1 ELSE 0 END),
             sum(CASE WHEN ca - coalesce(cb,0) <= 0 AND coalesce(cb,0) > 0
                 THEN 1 ELSE 0 END)
      FROM a LEFT JOIN b USING (o_custkey)"""),
    "row funcs cover all quarters and weekdays": (
        "row_scalar_pack", "oracle",
        "SELECT (SELECT count(DISTINCT v4) - 3 FROM t WHERE kind='ord_row'),"
        " (SELECT count(DISTINCT v5) - 6 FROM t WHERE kind='ord_row')"),
    "scalar arms populated, values spread": (
        "row_scalar_pack", "oracle",
        "SELECT (SELECT count(DISTINCT kind) - 3 FROM t),"
        " (SELECT CASE WHEN min(v1) < max(v1) THEN 1 ELSE 0 END"
        "  FROM t WHERE kind <> 'ord_row')"),
    "percentiles strictly ordered where defined": (
        "agg_percentile_pack", "oracle",
        "SELECT (SELECT count(*) FROM t WHERE p25 IS NOT NULL"
        "   AND p25 < p50 AND p50 < p75),"
        " (SELECT count(*) FROM t WHERE p25 IS NULL)"),
    "reshape pivots and unpivots": (
        "shape_ops_pack", "oracle",
        "SELECT sum(CASE WHEN kind='pivot' THEN 1 ELSE 0 END),"
        " sum(CASE WHEN kind='unpivot' THEN 1 ELSE 0 END) FROM t"),
    "sliding windows overlap (events double-counted beyond 1x)": (
        "time_aggs_pack", "oracle",
        """SELECT (SELECT sum(v1) FROM t WHERE kind='sliding')
                - (SELECT count(*) FROM events), NULL"""),
    "cohort retention beyond day 0": (
        "time_aggs_pack", "oracle",
        "SELECT count(*), NULL FROM t WHERE kind='cohort' AND k2 > 0"),
    "sketches dedupe (distinct below rows) and land in band": (
        "approx_sketches", "oracle",
        "SELECT (SELECT min(n_rows) - min(n_parts_exact) FROM t),"
        " (SELECT min(hll_within_20pct) + min(median_within_rank_band) FROM t)"),
    # --- tpch_pack arm probes (hand-curated r10 set, moved from the tool) ---
    "tpch all twenty arms populated": (
        "tpch_pack", "oracle",
        "SELECT count(DISTINCT kind) - 19, NULL FROM t"),
    "q4 EXISTS split (orders passing, failing)": (
        "tpch_pack", "corpus",
        """SELECT sum(CASE WHEN e THEN 1 ELSE 0 END),
             sum(CASE WHEN e THEN 0 ELSE 1 END) FROM (
        SELECT EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey=o_orderkey AND l_shipdate>o_orderdate) AS e
        FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                      AND o_orderdate < TIMESTAMP '1997-01-01')"""),
    "q12 CASE branches (high, low)": (
        "tpch_pack", "corpus",
        """SELECT sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END),
             sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
      FROM lineitem JOIN orders ON l_orderkey=o_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY"""),
    "q17 threshold (lines passing, failing)": (
        "tpch_pack", "corpus",
        """SELECT sum(CASE WHEN ok THEN 1 ELSE 0 END),
             sum(CASE WHEN ok THEN 0 ELSE 1 END) FROM (
        SELECT CAST(l_quantity AS DECIMAL(18,2))
                 * (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey=l.l_partkey) * 5
               < (SELECT sum(CAST(l_quantity AS DECIMAL(18,2))) FROM lineitem l2
                  WHERE l2.l_partkey=l.l_partkey) AS ok
        FROM lineitem l JOIN part ON p_partkey=l_partkey WHERE p_brand='Brand#12')"""),
    "q18 limit power (pre-limit rows, vs 100)": (
        "tpch_pack", "corpus",
        """SELECT count(*), count(*) - 100 FROM (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150)"""),
    "q21 exclusions (kept, cut by NOT EXISTS)": (
        "tpch_pack", "corpus",
        """WITH l1 AS (SELECT DISTINCT l_suppkey, l_orderkey FROM lineitem
                  WHERE l_returnflag='R')
      SELECT sum(CASE WHEN hasother AND NOT otherR THEN 1 ELSE 0 END),
             sum(CASE WHEN hasother AND otherR THEN 1 ELSE 0 END)
      FROM (SELECT
          EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey=l1.l_orderkey
                    AND l2.l_suppkey<>l1.l_suppkey) AS hasother,
          EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey=l1.l_orderkey
                    AND l3.l_suppkey<>l1.l_suppkey AND l3.l_returnflag='R') AS otherR
        FROM l1)"""),
    "q21 single-supplier orders (cut by EXISTS)": (
        "tpch_pack", "corpus",
        """WITH l1 AS (SELECT DISTINCT l_suppkey, l_orderkey FROM lineitem
                  WHERE l_returnflag='R')
      SELECT sum(CASE WHEN NOT EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey=l1.l_orderkey
                      AND l2.l_suppkey<>l1.l_suppkey) THEN 1 ELSE 0 END), NULL
      FROM l1"""),
    "q20 HAVING (groups passing, failing)": (
        "tpch_pack", "corpus",
        """WITH g AS (
        SELECT l_suppkey, l_partkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
          (SELECT sum(CAST(l2.l_quantity AS DECIMAL(18,2))) FROM lineitem l2
           WHERE l2.l_partkey=lineitem.l_partkey
             AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
             AND l2.l_shipdate < TIMESTAMP '1997-01-01') AS tot
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%ring%')
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey, l_partkey)
      SELECT sum(CASE WHEN sq*10 > tot*3 THEN 1 ELSE 0 END),
             sum(CASE WHEN sq*10 > tot*3 THEN 0 ELSE 1 END) FROM g"""),
    "q22 dormancy (kept, cut by NOT EXISTS)": (
        "tpch_pack", "corpus",
        """WITH sel AS (SELECT * FROM customer WHERE c_nationkey IN (1,3,5,7,9,11,13)),
      a AS (SELECT count(*) AS cnt, sum(CAST(c_acctbal AS DECIMAL(18,2))) AS tot
            FROM sel WHERE c_acctbal > 0)
      SELECT sum(CASE WHEN dormant THEN 1 ELSE 0 END),
             sum(CASE WHEN dormant THEN 0 ELSE 1 END) FROM (
        SELECT NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey=sel.c_custkey
                             AND o.o_orderdate >= TIMESTAMP '1999-01-01') AS dormant
        FROM sel, a WHERE CAST(c_acctbal AS DECIMAL(18,2)) * cnt > tot)"""),
    "q13 zero bucket (customers with no qualifying orders)": (
        "tpch_pack", "corpus",
        """SELECT (SELECT count(*) FROM (
          SELECT c_custkey, count(o_custkey) AS c_count FROM customer
          LEFT OUTER JOIN orders ON c_custkey=o_custkey
            AND o_orderpriority <> '4-NOT SPECIFIED'
          GROUP BY c_custkey) WHERE c_count=0),
        (SELECT count(*) FROM orders WHERE o_orderpriority = '4-NOT SPECIFIED')"""),
    "q15 max-revenue tie (suppliers at max)": (
        "tpch_pack", "corpus",
        """WITH revenue AS (SELECT l_suppkey,
          sum(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
                        AND l_shipdate < TIMESTAMP '1998-04-01'
        GROUP BY l_suppkey)
      SELECT (SELECT count(*) FROM revenue
              WHERE total_rev = (SELECT max(total_rev) FROM revenue)) - 1, NULL"""),
    "q2 per-part min-cost tie": (
        "tpch_pack", "corpus",
        """WITH eu AS (SELECT s_suppkey FROM supplier
                  JOIN nation ON s_nationkey=n_nationkey
                  JOIN region ON n_regionkey=r_regionkey WHERE r_name='EUROPE'),
      cat AS (SELECT l_partkey, l_suppkey,
                     min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
              FROM lineitem JOIN eu ON l_suppkey=s_suppkey
              GROUP BY l_partkey, l_suppkey),
      mins AS (SELECT l_partkey, min(cost) AS mc FROM cat GROUP BY l_partkey)
      SELECT (SELECT count(*) FROM (
          SELECT cat.l_partkey FROM cat JOIN mins
            ON cat.l_partkey=mins.l_partkey AND cat.cost=mins.mc
          GROUP BY cat.l_partkey HAVING count(*) > 1)), NULL"""),
    "q7 pair directions (1->2, 2->1)": (
        "tpch_pack", "corpus",
        """SELECT sum(CASE WHEN n1.n_name='NATION_1' THEN 1 ELSE 0 END),
             sum(CASE WHEN n1.n_name='NATION_2' THEN 1 ELSE 0 END)
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey=l_suppkey AND o_orderkey=l_orderkey AND c_custkey=o_custkey
        AND s_nationkey=n1.n_nationkey AND c_nationkey=n2.n_nationkey
        AND ((n1.n_name='NATION_1' AND n2.n_name='NATION_2')
          OR (n1.n_name='NATION_2' AND n2.n_name='NATION_1'))
        AND l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'"""),
    "q8 share branches (nation3 rows, other rows)": (
        "tpch_pack", "corpus",
        """SELECT sum(CASE WHEN n2.n_name='NATION_3' THEN 1 ELSE 0 END),
             sum(CASE WHEN n2.n_name='NATION_3' THEN 0 ELSE 1 END)
      FROM part, lineitem, supplier, orders, customer, nation n1, nation n2, region
      WHERE p_partkey=l_partkey AND s_suppkey=l_suppkey AND l_orderkey=o_orderkey
        AND o_custkey=c_custkey AND c_nationkey=n1.n_nationkey
        AND n1.n_regionkey=r_regionkey AND r_name='AMERICA'
        AND s_nationkey=n2.n_nationkey AND p_type='STANDARD'
        AND o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'"""),
    "q14 CASE branches (promo, non-promo)": (
        "tpch_pack", "corpus",
        """SELECT sum(CASE WHEN p_type='PROMO' THEN 1 ELSE 0 END),
             sum(CASE WHEN p_type='PROMO' THEN 0 ELSE 1 END)
      FROM lineitem JOIN part ON l_partkey=p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-07-01'"""),
    "q19 OR branches 1+2": (
        "tpch_pack", "corpus",
        """SELECT sum(CASE WHEN p_brand='Brand#1' AND p_size BETWEEN 1 AND 15
                       AND l_quantity BETWEEN 1 AND 20 THEN 1 ELSE 0 END),
             sum(CASE WHEN p_brand='Brand#2' AND p_size BETWEEN 16 AND 35
                       AND l_quantity BETWEEN 10 AND 35 THEN 1 ELSE 0 END)
      FROM lineitem JOIN part ON l_partkey=p_partkey"""),
    "q19 OR branch 3": (
        "tpch_pack", "corpus",
        """SELECT sum(CASE WHEN p_type='ECONOMY' AND p_size BETWEEN 36 AND 50
                       AND l_quantity BETWEEN 20 AND 50 THEN 1 ELSE 0 END), NULL
      FROM lineitem JOIN part ON l_partkey=p_partkey"""),
    "q11 HAVING (groups passing, failing)": (
        "tpch_pack", "corpus",
        """WITH v AS MATERIALIZED (SELECT l_partkey,
          sum(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS value
        FROM lineitem JOIN supplier ON l_suppkey=s_suppkey
        WHERE s_nationkey IN (4,7,11) GROUP BY l_partkey)
      SELECT sum(CASE WHEN CAST(value AS DECIMAL(33,4))*1500 > total THEN 1 ELSE 0 END),
             sum(CASE WHEN CAST(value AS DECIMAL(33,4))*1500 > total THEN 0 ELSE 1 END)
      FROM v, (SELECT sum(value) AS total FROM v) t"""),
    "q9 profit sign mix (negative, positive)": (
        "tpch_pack", "corpus",
        """SELECT sum(CASE WHEN amt < 0 THEN 1 ELSE 0 END),
             sum(CASE WHEN amt >= 0 THEN 1 ELSE 0 END) FROM (
        SELECT CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))
               - CAST(p_retailprice AS DECIMAL(8,2)) * 0.6
                 * CAST(l_quantity AS DECIMAL(4,1)) AS amt
        FROM lineitem JOIN part ON l_partkey=p_partkey
        WHERE p_name LIKE '%gear%')"""),
    "q16 complaint exclusion (cut, kept)": (
        "tpch_pack", "corpus",
        """SELECT (SELECT count(*) FROM supplier WHERE s_suppkey % 13 = 0),
             (SELECT count(*) FROM supplier WHERE s_suppkey % 13 <> 0)"""),
    "q6 filter (passing, rejected)": (
        "tpch_pack", "corpus",
        """SELECT sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                       AND l_shipdate < TIMESTAMP '1997-01-01'
                       AND l_discount >= 0.05 AND l_discount <= 0.07
                       AND l_quantity < 24 THEN 1 ELSE 0 END),
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                       AND l_shipdate < TIMESTAMP '1997-01-01'
                       AND l_discount >= 0.05 AND l_discount <= 0.07
                       AND l_quantity < 24 THEN 0 ELSE 1 END)
      FROM lineitem"""),
}
