"""Round-4 builders: HLL grouped/union, PPM decode, partitioned and
bucketed ETL, streaming sinks (split from catalog.py r8 — builders
only, registration stays in catalog.py)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.portable import DUCK, SPARK
from .operators.aggregate import dsum_revenue
from .sources.readers import FIXTURE_TABLES, Tables, ensure_session_confs, load_table


# ------------------------------------------------------------------ #
# round 4 additions
# ------------------------------------------------------------------ #


def hll_cardinality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped HLL distinct-count sketch (functions/sketches.py) next to
    the exact count, with the estimate's 3-sigma band as a pinned claim.
    The register build shuffles ≤256 rows per group — the raw keys never
    cross an exchange; the estimate is deterministic (register MAX is
    order-independent) so the driver hash covers the estimate itself,
    not just the band."""
    from .functions import sketches as SK

    li = Tables(spark, sf_dir).lineitem
    est = SK.hll_estimate(
        SK.hll_registers(li, ["l_returnflag"], "l_orderkey"), ["l_returnflag"]
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("exact_distinct")
    )
    return exact.join(F.broadcast(est), "l_returnflag").select(
        "l_returnflag",
        "exact_distinct",
        "hll_est",
        (
            F.abs(F.col("hll_est") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            <= 0.2  # 3 x 1.04/sqrt(256) = 19.5%
        ).alias("within_band"),
    )


def _hll_cardinality_oracle() -> str:
    from .functions import sketches as SK

    est = SK.hll_estimate_sql("lineitem", "l_returnflag", "l_orderkey", dialect=DUCK)
    return f"""
WITH ex AS (
  SELECT l_returnflag, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct
  FROM lineitem GROUP BY l_returnflag)
SELECT ex.l_returnflag, exact_distinct, hll_est,
  ABS(hll_est - exact_distinct) / exact_distinct <= 0.2 AS within_band
FROM ex JOIN ({est}) e ON ex.l_returnflag = e.l_returnflag
"""


def hll_union_audience_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap cardinalities from MERGED HLL sketches: distinct
    click users, purchase users, their union via elementwise register
    MAX (exact merge — no rescan of the data), and the intersection via
    inclusion-exclusion.  The union estimate provably equals the
    estimate built directly over the combined value stream, which is
    what the oracle computes — the hash match IS the merge-law check."""
    from .functions import sketches as SK

    ev = Tables(spark, sf_dir).events
    regs = {
        t: SK.hll_registers(
            ev.filter(F.col("event_type") == t), [], "user_id"
        ).localCheckpoint(eager=True)  # feeds its own estimate AND the merge
        for t in ("click", "purchase")
    }
    est_a = SK.hll_estimate_global(regs["click"]).select(
        F.col("hll_est").alias("est_click")
    )
    est_b = SK.hll_estimate_global(regs["purchase"]).select(
        F.col("hll_est").alias("est_purchase")
    )
    est_u = SK.hll_estimate_global(
        SK.hll_merge([regs["click"], regs["purchase"]])
    ).select(F.col("hll_est").alias("est_union"))
    exact_u = ev.filter(F.col("event_type").isin("click", "purchase")).agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_union")
    )
    return (
        est_a.crossJoin(est_b)
        .crossJoin(est_u)
        .crossJoin(exact_u)
        .select(
            "est_click",
            "est_purchase",
            "est_union",
            F.round(
                F.col("est_click") + F.col("est_purchase") - F.col("est_union"), 4
            ).alias("est_intersect"),
            "exact_union",
        )
    )


def _hll_union_audience_oracle() -> str:
    from .functions import sketches as SK

    def est(pred: str) -> str:
        return SK.hll_estimate_sql(
            f"(SELECT user_id FROM events WHERE {pred})", "", "user_id", dialect=DUCK
        )

    a = est("event_type = 'click'")
    b = est("event_type = 'purchase'")
    u = est("event_type IN ('click', 'purchase')")
    return f"""
SELECT a.hll_est AS est_click, b.hll_est AS est_purchase, u.hll_est AS est_union,
  ROUND(a.hll_est + b.hll_est - u.hll_est, 4) AS est_intersect,
  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
   WHERE event_type IN ('click', 'purchase')) AS exact_union
FROM ({a}) a CROSS JOIN ({b}) b CROSS JOIN ({u}) u
"""


def multimodal_ppm_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: deterministic synthetic PPM (P6)
    blobs are encoded from a closed-form pixel model
    (functions/multimodal.py:synth_ppm_media), then parsed back with the
    pure-Python PPM decoder and reduced to per-channel sums
    (decode_ppm_stats).  The Spark side round-trips real bytes through
    the real encoder+parser; the oracle recomputes the statistics from
    the pixel model's arithmetic — a hash match proves the decode path
    actually reads the raster."""
    from .functions.multimodal import decode_ppm_stats, synth_ppm_media

    docs = Tables(spark, sf_dir).documents
    return decode_ppm_stats(synth_ppm_media(docs))


def _ppm_decode_oracle() -> str:
    from .functions.portable import lateral_seq

    lat = lateral_seq("0", "width * height - 1", "i", DUCK)
    return f"""
WITH dims AS (
  SELECT doc_id, CAST(4 + doc_id % 13 AS INT) AS width,
         CAST(3 + doc_id % 11 AS INT) AS height
  FROM documents),
px AS (SELECT doc_id, width, height, i FROM dims {lat})
SELECT doc_id AS media_id, width, height, 255 AS maxval,
  CAST(SUM((doc_id * 7 + (3 * i) * 13) % 256) AS BIGINT) AS sum_r,
  CAST(SUM((doc_id * 7 + (3 * i + 1) * 13) % 256) AS BIGINT) AS sum_g,
  CAST(SUM((doc_id * 7 + (3 * i + 2) * 13) % 256) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id, width, height
"""


def bucket_count_for(df: DataFrame, target_bucket_bytes: int = 512 << 20) -> int:
    """Bucket-count sizing rule: one bucket per ``target_bucket_bytes``
    of the LARGER join side (Catalyst's free ``sizeInBytes`` estimate —
    parquet footer stats, no job), rounded up to a power of two so
    bucket counts of co-bucketed tables stay divisible as data grows,
    floor 8.  Default 512 MB/bucket keeps a sorted bucket comfortably
    inside one executor task at 100 TB (a 100 TB fact → ~200k buckets);
    copy the RULE, not a constant — a hard-coded 8 is only right at
    fixture scale."""
    try:
        # Private PyJava surface (internal Catalyst API, no stability
        # guarantee across Spark builds) — guard it so a signature change
        # degrades to the fixture-scale floor instead of crashing, and
        # note: the computed count must be STABLE for a given fixture
        # (it resolves to 8 there) or the pinned zero-exchange bucketed
        # plan in tests/test_plans.py would silently re-layout.
        est = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return 8
    n = max(8, -(-est // target_bucket_bytes))
    return 1 << (n - 1).bit_length()


def reset_bucketed_tables(spark: SparkSession, names: list[str]) -> None:
    """Side-effecting setup for bucketed-write demos, OUT of the query
    path: a previous SESSION may have left managed-table directories on
    disk without this session's catalog knowing the tables — drop both
    layers or saveAsTable fails with LOCATION_ALREADY_EXISTS."""
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for tbl in names:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(warehouse, tbl), ignore_errors=True)


def bucketed_etl_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-write ETL: orders and lineitem land as bucketed tables
    co-bucketed on the order key, then join WITHOUT a join-side exchange
    (bucketing IS the shuffle, paid once at write time — the pattern
    that amortizes a 100 TB fact-fact join across every downstream
    query).  The bucket count comes from :func:`bucket_count_for`'s
    volume rule (8 at fixture scale), and the DROP/rmtree setup lives in
    :func:`reset_bucketed_tables`.  The only exchange in the read plan
    is the final aggregation; pinned in tests/test_exchange_budget.py.
    The zero-exchange property itself is asserted in tests/test_plans.py's
    bucketed-join test; this entry adds the oracle-checked end-to-end
    result."""
    t = Tables(spark, sf_dir)
    n_buckets = bucket_count_for(t.lineitem)
    reset_bucketed_tables(spark, ["bdt_bkt_orders", "bdt_bkt_lineitem"])
    t.orders.select("o_orderkey", "o_orderpriority").write.mode("overwrite").format(
        "parquet"
    ).bucketBy(n_buckets, "o_orderkey").sortBy("o_orderkey").saveAsTable(
        "bdt_bkt_orders"
    )
    t.lineitem.select(
        "l_orderkey", "l_extendedprice", "l_discount"
    ).write.mode("overwrite").format("parquet").bucketBy(n_buckets, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("bdt_bkt_lineitem")
    o = spark.table("bdt_bkt_orders")
    li = spark.table("bdt_bkt_lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            dsum_revenue().alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_BUCKETED_ETL_ORACLE = """
SELECT o_orderpriority,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
    * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""
