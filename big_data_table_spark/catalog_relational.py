"""Core relational + events builders (TPC-H-style aggregates, joins,
set ops, windows, sessionization, as-of; split from catalog.py r8 —
builders only, registration stays in catalog.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import BigDataTable
from .functions.portable import DUCK, SPARK
from .operators import joins as J
from .operators import windows as W
from .operators.aggregate import davg, dsum, dsum_revenue, partials
from .operators.setops import rbindlist
from .sources.readers import FIXTURE_TABLES, Tables, ensure_session_confs, load_table


# ------------------------------------------------------------------ #
# core relational queries (DataFrame API, reference Layer B parity)
# ------------------------------------------------------------------ #

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary — the reference's
    canonical grouped-aggregation shape (``x[, .(value=sum(value)), by]``,
    README.md:84-94) at full width.  Catalyst runs partial→final agg; the
    scan reads only the 7 referenced columns with the shipdate filter
    pushed down."""
    li = Tables(spark, sf_dir).lineitem
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum_revenue().alias("sum_disc_price"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q6_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight filter + single global aggregate.  The whole
    predicate set pushes into the parquet scan; at 100 TB this is a
    scan-dominated query with a one-row shuffle."""
    li = Tables(spark, sf_dir).lineitem
    revenue = F.col("l_extendedprice").cast("decimal(18,6)") * F.col("l_discount").cast(
        "decimal(18,6)"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(revenue).cast("decimal(38,6)").cast("double").alias("revenue"), F.count(F.lit(1)).alias("n"))
    )


_Q6_ORACLE = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
  COUNT(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24
"""


def grouped_sum_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bdt[, .(value=sum(value)), by=year]`` — the reference's canonical
    query (README.md:84-94) on lineitem."""
    li = Tables(spark, sf_dir).lineitem
    bdt = BigDataTable(li.withColumn("year", F.year("l_shipdate").cast("int")))
    return bdt.q(j={"value": dsum("l_extendedprice")}, by="year").df


def group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bdt[, .N, by]`` (reference README.md:176-178) — global,
    correct-by-default (the reference's outer.aggregate=TRUE form of this
    is pinned *wrong*; SURVEY.md §4.2)."""
    li = Tables(spark, sf_dir).lineitem
    return BigDataTable(li).q(by="l_returnflag").df  # bare .N


def grouped_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Tables(spark, sf_dir).lineitem
    return (
        li.groupBy("l_linestatus")
        .agg(davg("l_quantity").alias("avg_qty"), F.count(F.lit(1)).alias("n"))
    )


def agg_all_sd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``lapply(.SD, sum)`` — aggregate every (numeric) non-group column
    (reference README.md:220-224)."""
    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.sum("l_linenumber").cast("bigint").alias("sum_linenumber"),
        dsum("l_quantity").alias("sum_quantity"),
        dsum("l_extendedprice").alias("sum_extendedprice"),
        dsum("l_discount").alias("sum_discount"),
        dsum("l_tax").alias("sum_tax"),
    )


def multi_key_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-key grouped sum + count — the reference's local-vs-distributed
    equivalence oracle (tests-03-as.big.data.table.R:53-60)."""
    li = Tables(spark, sf_dir).lineitem
    return (
        li.withColumn("year", F.year("l_shipdate").cast("int"))
        .withColumn("pk", (F.col("l_partkey") % 10).cast("bigint"))
        .groupBy("l_returnflag", "l_linestatus", "year", "pk")
        .agg(dsum("l_extendedprice").alias("value"), F.count(F.lit(1)).alias("N"))
    )


def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bdt[i, j]`` — filter in ``i``, project in ``j``.  Both the
    predicate and the 3-column pruning reach the parquet scan."""
    li = Tables(spark, sf_dir).lineitem
    return BigDataTable(li).q(
        i=F.col("l_quantity") > 45,
        j=["l_orderkey", "l_linenumber", "l_quantity"],
    ).df


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered top-k (head over a sort) — physical plan is
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    o = Tables(spark, sf_dir).orders
    return W.topk(
        o.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        10,
    )


def lookup_join_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """data.table ``y[x, on=]`` lookup join (reference README.md:226-227):
    LEFT join of x=nation against y=region, small side broadcast."""
    t = Tables(spark, sf_dir)
    x = t.nation.withColumnRenamed("n_regionkey", "r_regionkey")
    return J.lookup_join(x, t.region, on="r_regionkey", broadcast=True).select(
        "n_nationkey", "n_name", "r_name"
    )


def join3_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table join beyond the reference's node-local joins:
    lineitem ⋈ orders ⋈ customer, revenue per market segment.  customer is
    broadcast; the lineitem⋈orders join shuffles on the orderkey."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
        .join(F.broadcast(t.customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(dsum_revenue().alias("revenue"), F.count(F.lit(1)).alias("n"))
    )


_JOIN3_ORACLE = """
SELECT c_mktsegment,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
  COUNT(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def semi_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-by-join / ``nomatch=0L`` existence semantics (reference
    big.data.table.R:196-198): orders of high-balance customers."""
    t = Tables(spark, sf_dir)
    rich = t.customer.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("o_custkey")
    )
    return (
        J.semi_join(t.orders, rich, on="o_custkey")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total"))
    )


_SEMI_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
GROUP BY o_orderstatus
"""


def anti_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``x[!y]`` anti join (reference big.data.table.R:241): customers with
    no orders, counted per segment."""
    t = Tables(spark, sf_dir)
    keys = t.orders.select(F.col("o_custkey").alias("c_custkey"))
    return (
        J.anti_join(t.customer, keys, on="c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_ANTI_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment
"""


def cross_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CJ(a, b)`` cartesian (reference README.md:117)."""
    t = Tables(spark, sf_dir)
    return J.cross_join(t.region.select("r_name"), t.nation.select("n_name"))


def distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``unique(x, by=)`` (reference as.big.data.table.R:110)."""
    c = Tables(spark, sf_dir).customer
    return c.select("c_mktsegment", "c_nationkey").distinct()


def union_all_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rbindlist`` gather-side union (reference big.data.table.R:139)."""
    t = Tables(spark, sf_dir)
    a = t.orders.select(F.col("o_orderkey").alias("id"), F.lit("orders").alias("src"))
    b = t.lineitem.select(F.col("l_orderkey").alias("id"), F.lit("lineitem").alias("src"))
    return rbindlist([a, b]).groupBy("src").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("id").cast("bigint").alias("n_ids"),
    )


_UNION_ORACLE = """
WITH u AS (
  SELECT o_orderkey AS id, 'orders' AS src FROM orders
  UNION ALL
  SELECT l_orderkey AS id, 'lineitem' AS src FROM lineitem
)
SELECT src, COUNT(*) AS n, CAST(COUNT(DISTINCT id) AS BIGINT) AS n_ids FROM u GROUP BY src
"""


def intersect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.customer.select(F.col("c_custkey").alias("k")).intersect(
        t.orders.select(F.col("o_custkey").alias("k"))
    )


def except_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.customer.select(F.col("c_custkey").alias("k")).exceptAll(
        t.orders.select(F.col("o_custkey").alias("k")).distinct()
    ).distinct()


def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 lineitems per returnflag by price — row_number window with a
    total-order tie-break."""
    li = Tables(spark, sf_dir).lineitem
    out = W.topk_per_group(
        li.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
        by="l_returnflag",
        order=[
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        k=3,
    )
    return out.withColumn("rn", F.col("rn").cast("bigint"))


_WTOPK_ORACLE = """
SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rn
  FROM lineitem) t
WHERE rn <= 3
"""


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-supplier revenue in shipdate order (exact decimal
    accumulation over a total-order frame → deterministic)."""
    li = Tables(spark, sf_dir).lineitem.filter(F.col("l_suppkey") <= 3)
    out = W.running(
        li.select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"),
        by="l_suppkey",
        order=[F.col("l_shipdate").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        aggs={
            "running_rev": F.sum(F.col("l_extendedprice").cast("decimal(18,6)")),
            "rn": F.row_number(),
        },
    )
    return out.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.col("running_rev").cast("double").alias("running_rev"),
        F.col("rn").cast("bigint").alias("rn"),
    )


_WRUN_ORACLE = """
SELECT l_suppkey, l_orderkey, l_linenumber,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS running_rev,
  CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn
FROM lineitem WHERE l_suppkey <= 3
WINDOW w AS (PARTITION BY l_suppkey
  ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Tables(spark, sf_dir).lineitem
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("qty")
    )


_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def cube_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Tables(spark, sf_dir).lineitem
    return li.cube("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n"))


def pivot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus → columns (engine extension; oracle via CASE
    aggregation)."""
    li = Tables(spark, sf_dir).lineitem
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity"))
    )
    return out.select(
        "l_returnflag",
        F.col("O").alias("qty_o"),
        F.col("F").alias("qty_f"),
    )


_PIVOT_ORACLE = """
SELECT l_returnflag,
  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS qty_o,
  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS qty_f
FROM lineitem GROUP BY l_returnflag
"""


def two_phase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's manual two-phase aggregation
    ``bdt[, .(v=sum(v)), year][, .(v=sum(v)), year]``
    (README.md:166-178): per-shard partials (``.node`` ×  key) re-aggregated
    to the global result.  Partials stay in exact decimal so the final sum
    is independent of the partitioning; oracle = plain global GROUP BY."""
    li = Tables(spark, sf_dir).lineitem.withColumn(
        "year", F.year("l_shipdate").cast("int")
    )
    phase1 = partials(
        li,
        by="year",
        aggs={
            "v": F.sum(F.col("l_extendedprice").cast("decimal(18,6)")),
            "n": F.count(F.lit(1)),
        },
    )
    return phase1.groupBy("year").agg(
        F.sum("v").cast("double").alias("value"),
        F.sum("n").cast("bigint").alias("N"),
    )


_TWOPHASE_ORACLE = """
SELECT CAST(year(l_shipdate) AS INT) AS year,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS value,
  COUNT(*) AS N
FROM lineitem GROUP BY 1
"""


def count_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").cast("bigint").alias("n_parts"),
        F.countDistinct("l_suppkey").cast("bigint").alias("n_supps"),
    )


def _partials_diag_builder(dialect: str) -> str:
    """The reference's *default* result shape — per-shard partials
    (``outer.aggregate=FALSE``, big.data.table.R:138-151; row-count law
    pinned by tests-04:23-32: nrow == shards × groups).  The shard is the
    reference's node-assignment function made EXPLICIT and portable: the
    VALUE of the first md5 hex digit mod 8 — a true 2-to-1 uniform map of
    the 16 hex chars onto the 8 shards (the earlier ``ascii(c) % 8`` form
    was not uniform: ascii codes of '0'-'9' and 'a'-'f' are not
    contiguous, so shard 7 received only '7' — 1/16 of keys — and could
    be empty on small inputs, silently breaking the row-count law).  The
    hex→value map is a portable CASE (both engines lowercase md5), so the
    per-shard partial values are fully determined by the data rather than
    by Spark's physical partitioning —
    which upgrades this entry from the driver's rows-only check to a full
    value-hash oracle while keeping the semantics it documents.  The
    PHYSICAL spark_partition_id variant stays available as
    ``operators.aggregate.partials`` (pytest-pinned); at 100 TB both
    shapes are one map-side-combinable aggregation."""
    hexd = f"substr(md5(CAST(l_orderkey AS {'STRING' if dialect == SPARK else 'VARCHAR'})), 1, 1)"
    hexval = (
        f"(CASE {hexd} "
        + " ".join(f"WHEN '{c}' THEN {i}" for i, c in enumerate("0123456789abcdef"))
        + " END)"
    )
    return f"""
SELECT {hexval} % 8 AS shard,
  l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY shard, l_returnflag
"""


def generator_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator-function source (reference as.big.data.table.R:35-45, the
    ``gen.data`` pattern tests-04:11-15): deterministic per-partition data
    generation via mapInPandas, then a grouped count.  Seeded per
    partition id → deterministic; oracle-expressible because the generator
    is a pure function of (pid, row index)."""
    from .sources.readers import from_generator
    import numpy as np
    import pandas as pd

    def gen(pid: int, n: int = 1000):
        idx = np.arange(n)
        return pd.DataFrame(
            {
                "pid": np.full(n, pid, dtype="int64"),
                "year": 2011 + ((pid * 7 + idx * 13) % 4),
                "value": ((pid * 31 + idx * 17) % 100).astype("float64"),
            }
        )

    df = from_generator(spark, gen, schema="pid long, year long, value double", n_partitions=4)
    return df.groupBy("year").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v")
    )


_GEN_ORACLE = """
WITH g AS (
  SELECT pid, idx,
    2011 + ((pid * 7 + idx * 13) % 4) AS year,
    CAST((pid * 31 + idx * 17) % 100 AS DOUBLE) AS value
  FROM (SELECT UNNEST(range(0, 4)) AS pid), (SELECT UNNEST(range(0, 1000)) AS idx)
)
SELECT year, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
FROM g GROUP BY year
"""


# ------------------------------------------------------------------ #
# events queries (JSON, windows, sessionization, as-of)
# ------------------------------------------------------------------ #

def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from ``events.props`` + grouped aggregate."""
    ev = Tables(spark, sf_dir).events
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            dsum("value").alias("sum_value"),
        )
    )


_EVJSON_ORACLE = """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling 5-minute windows (epoch-bucketed)."""
    ev = Tables(spark, sf_dir).events
    bucket = (F.unix_timestamp("ts") / 300).cast("bigint") * 300
    return (
        ev.withColumn("ws", bucket)
        .groupBy("ws", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("v"))
    )


_EVTUMBLE_ORACLE = """
SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 AS ws, event_type,
  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
FROM events GROUP BY 1, 2
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) → per-session stats."""
    ev = Tables(spark, sf_dir).events
    sess = W.sessionize(ev, user="user_id", ts="ts", gap_seconds=1800)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
            "dur_seconds"
        ),
        dsum("value").alias("v"),
    )


_EVSESS_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
      - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL THEN 1
    WHEN CAST(floor(epoch(ts)) AS BIGINT)
      - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800 THEN 1
    ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
),
sessions AS (
  SELECT user_id, ts, value,
    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
  MAX(CAST(floor(epoch(ts)) AS BIGINT)) - MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS dur_seconds,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
FROM sessions GROUP BY user_id, session_id
"""


def events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the latest same-user 'purchase'
    at-or-before it (union+window implementation, operators/joins.py;
    oracle: DuckDB native ASOF JOIN)."""
    ev = Tables(spark, sf_dir).events
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    left = ev.select("event_id", "user_id", "ts")
    out = J.asof_join(
        left, purchases, on="ts", by="user_id", right_cols=["purchase_id"]
    )
    return out.select(
        "event_id",
        "user_id",
        "purchase_id",
        F.unix_timestamp("ts").alias("ets"),
    )


_EVASOF_ORACLE = """
SELECT e.event_id, e.user_id, p.purchase_id,
  CAST(floor(epoch(e.ts)) AS BIGINT) AS ets
FROM events e ASOF LEFT JOIN
  (SELECT user_id, ts, event_id AS purchase_id FROM events
   WHERE event_type = 'purchase') p
ON e.user_id = p.user_id AND e.ts >= p.ts
"""


def events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events_asof_purchase` with a GAP CAP — the pandas
    ``merge_asof(tolerance=)`` / kdb windowed-join surface: a purchase
    more than 1 hour before the event does not count as its antecedent
    (attribution windows are how real funnel logic works).  The cap is a
    pure projection over the carried right row's own timestamp
    (operators/joins.py:asof_join tolerance=3600) — zero shuffles beyond
    the base as-of, and the whole matched row nulls atomically.  Oracle:
    DuckDB's native ASOF JOIN with a CASE'd gap filter."""
    ev = Tables(spark, sf_dir).events
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    left = ev.select("event_id", "user_id", "ts")
    out = J.asof_join(
        left,
        purchases,
        on="ts",
        by="user_id",
        right_cols=["purchase_id"],
        tolerance=3600.0,
    )
    return out.select(
        "event_id",
        "user_id",
        "purchase_id",
        F.unix_timestamp("ts").alias("ets"),
    )


_EVASOF_TOL_ORACLE = """
SELECT e.event_id, e.user_id,
  CASE WHEN epoch(e.ts) - epoch(p.ts) <= 3600 THEN p.purchase_id END
    AS purchase_id,
  CAST(floor(epoch(e.ts)) AS BIGINT) AS ets
FROM events e ASOF LEFT JOIN
  (SELECT user_id, ts, event_id AS purchase_id FROM events
   WHERE event_type = 'purchase') p
ON e.user_id = p.user_id AND e.ts >= p.ts
"""


def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling windows driven to completion over the
    bounded fixture — result equals the batch tumbling aggregation."""
    from .streaming.events import tumbling_counts

    return tumbling_counts(spark, sf_dir, minutes=5)


_STREAM_TUMBLE_ORACLE = """
SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 AS ws, event_type,
  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
FROM events GROUP BY 1, 2
"""


def stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with dual watermarks + a bounded time-range
    condition (the state-expirable shape); bounded input → result equals
    the batch interval join."""
    from .streaming.events import click_purchase_join

    return click_purchase_join(spark, sf_dir, within_minutes=10)


_STREAM_SSJOIN_ORACLE = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
  CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(c.ts)) AS BIGINT) AS gap_seconds
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
"""


def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): final
    per-user running counts equal the batch aggregate on bounded input."""
    from .streaming.events import stateful_running_counts

    return stateful_running_counts(spark, sf_dir)


_STREAM_STATEFUL_ORACLE = """
SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
FROM events GROUP BY user_id
"""
