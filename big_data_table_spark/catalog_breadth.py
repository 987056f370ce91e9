"""Breadth builders: source round-trips, SQL-surface parity, dims,
sampling, multimodal, TPC-H remainder (split from catalog.py r8 —
builders only, registration stays in catalog.py)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import BigDataTable
from .functions import dedup as D
from .functions import text as X
from .functions.portable import DUCK, SPARK
from .operators import joins as J
from .operators import windows as W
from .operators.aggregate import davg, dsum, dsum_revenue, partials
from .sources.readers import FIXTURE_TABLES, Tables, ensure_session_confs, load_table, read_parquet
from .catalog_base import register_views


# ------------------------------------------------------------------ #
# batch 2: sources round-trips, more SQL surface, dims, multimodal
# ------------------------------------------------------------------ #

def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source round-trip (reference write.csv/fread,
    tests-06-readme.R:87-98): project lineitem → CSV → read back with an
    explicit schema (no inference pass) → aggregate."""
    import tempfile

    from .sources.readers import read_csv, write_csv

    li = Tables(spark, sf_dir).lineitem.select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    path = os.path.join(tempfile.gettempdir(), "bdt_csv_roundtrip")
    write_csv(li, path)
    back = read_csv(
        spark,
        path,
        schema="l_orderkey long, l_returnflag string, l_quantity double, l_extendedprice double",
        infer_schema=False,
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity").alias("qty"),
        dsum("l_extendedprice").alias("price"),
    )


_CSV_ORACLE = """
SELECT l_returnflag, COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS price
FROM lineitem GROUP BY l_returnflag
"""


def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON sink + source round-trip with explicit schema."""
    import tempfile

    from .sources.readers import read_json

    o = Tables(spark, sf_dir).orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    path = os.path.join(tempfile.gettempdir(), "bdt_json_roundtrip")
    o.write.mode("overwrite").json(path)
    back = read_json(
        spark, path, schema="o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total")
    )


_JSON_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus
"""


_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def grouping_sets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


def percentile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont``
    — both linear-interpolation, verified bit-identical).  At 100 TB the
    approximate form (``percentile_approx``) is the right tool; exact is
    the oracle-checkable baseline."""
    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
        F.percentile("l_extendedprice", F.lit(0.9)).alias("p90"),
    )


_PERCENTILE_ORACLE = """
SELECT l_returnflag,
  quantile_cont(l_extendedprice, 0.5) AS p50,
  quantile_cont(l_extendedprice, 0.9) AS p90
FROM lineitem GROUP BY l_returnflag
"""


def approx_distinct_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in HLL++ approximate distinct — the 100 TB path for
    count-distinct.  The sketch VALUE is engine-internal (Spark's HLL++
    bias tables), so the entry emits what IS oracle-checkable: the exact
    distinct count computed alongside, plus a tolerance audit
    ``approx_ok = |approx - exact| <= 3·rsd·exact`` (rsd=0.02 → 6%;
    measured error ≈1% at both fixture SFs).  The oracle asserts the
    audit column TRUE — an estimate drifting outside the published band
    turns the row red, so this is a real accuracy gate, not a tautology;
    it upgrades the entry from the driver's rows-only check to a full
    value-hash row."""
    li = Tables(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").cast("bigint").alias("n_exact"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
        )
        .select(
            "l_returnflag",
            "n_exact",
            (F.abs(F.col("approx") - F.col("n_exact"))
             <= F.lit(0.06) * F.col("n_exact"))
            .cast("bigint")
            .alias("approx_ok"),
        )
    )


_APPROX_DISTINCT_ORACLE = """
SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact,
  CAST(1 AS BIGINT) AS approx_ok
FROM lineitem GROUP BY l_returnflag
"""


def range_join_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (operators/joins.py:range_join): orders priced
    into 20k-wide bands derived from the nation table.  The bucketize +
    equi-join plan replaces the nested-loop a naive BETWEEN join gets."""
    t = Tables(spark, sf_dir)
    bands = t.nation.select(
        F.col("n_name").alias("band"),
        (F.col("n_nationkey").cast("double") * 20000.0).alias("lo"),
        (F.col("n_nationkey").cast("double") * 20000.0 + 19999.99).alias("hi"),
    )
    joined = J.range_join(
        t.orders.select("o_orderkey", "o_totalprice"),
        bands,
        left_val="o_totalprice",
        right_lo="lo",
        right_hi="hi",
        bucket_width=20000.0,
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total")
    )


_RANGE_ORACLE = """
WITH bands AS (
  SELECT n_name AS band, CAST(n_nationkey AS DOUBLE) * 20000.0 AS lo,
         CAST(n_nationkey AS DOUBLE) * 20000.0 + 19999.99 AS hi
  FROM nation)
SELECT band, COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice <= hi
GROUP BY band
"""


def events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each event matched to the *next* same-user purchase
    at-or-after it."""
    ev = Tables(spark, sf_dir).events
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("next_purchase_id")
    )
    out = J.asof_join(
        ev.select("event_id", "user_id", "ts"),
        purchases,
        on="ts",
        by="user_id",
        right_cols=["next_purchase_id"],
        direction="forward",
    )
    return out.select("event_id", "user_id", "next_purchase_id")


_EVASOF_FWD_ORACLE = """
SELECT e.event_id, e.user_id, p.next_purchase_id
FROM events e ASOF LEFT JOIN
  (SELECT user_id, ts, event_id AS next_purchase_id FROM events
   WHERE event_type = 'purchase') p
ON e.user_id = p.user_id AND e.ts <= p.ts
"""


def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup: month × priority (date_trunc emitted as epoch
    seconds for cross-engine comparability)."""
    o = Tables(spark, sf_dir).orders
    return (
        o.withColumn("month", F.unix_timestamp(F.date_trunc("month", "o_orderdate")))
        .groupBy("month", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total"))
    )


_MONTH_ORACLE = """
SELECT CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month,
  o_orderpriority, COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM orders GROUP BY 1, 2
"""


def part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = Tables(spark, sf_dir).part
    return p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        davg("p_retailprice").alias("avg_price"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
        F.countDistinct("p_type").cast("bigint").alias("n_types"),
    )


_PART_ORACLE = """
SELECT p_brand, COUNT(*) AS n,
  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(p_retailprice) AS avg_price,
  MIN(p_size) AS min_size, MAX(p_size) AS max_size,
  CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types
FROM part GROUP BY p_brand
"""


def supplier_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level dimension chain supplier→nation→region, both dims
    broadcast (no shuffle of the fact side at all)."""
    t = Tables(spark, sf_dir)
    return (
        t.supplier.join(F.broadcast(t.nation), t.supplier.s_nationkey == t.nation.n_nationkey)
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"), dsum("s_acctbal").alias("acctbal"))
    )


_SUPPLIER_CHAIN_ORACLE = """
SELECT r_name, COUNT(*) AS n_suppliers,
  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def keyby_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``keyby`` — grouped aggregate with sorted output (data.table keyby
    sorts; plain ``by`` order is unobservable distributed)."""
    li = Tables(spark, sf_dir).lineitem.withColumn(
        "year", F.year("l_shipdate").cast("int")
    )
    return (
        BigDataTable(li)
        .q(j={"value": dsum("l_extendedprice"), "N": F.count(F.lit(1))}, keyby="year")
        .df
    )


_KEYBY_ORACLE = """
SELECT CAST(year(l_shipdate) AS INT) AS year,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS value,
  COUNT(*) AS N
FROM lineitem GROUP BY 1 ORDER BY year
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: documents.text as an opaque binary blob →
    Arrow-batched mapInPandas feature extraction (byte length + digest).
    The decode kernel is the deterministic stand-in (real image/audio
    decoders are stubbed — functions/multimodal.py)."""
    from .functions.multimodal import documents_as_media, fake_decode_features

    docs = Tables(spark, sf_dir).documents
    media = documents_as_media(docs).repartition(8, "media_id")
    feats = fake_decode_features(media)
    return feats.select("media_id", "n_bytes", "digest")


_MULTIMODAL_ORACLE = """
SELECT doc_id AS media_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  md5(text) AS digest
FROM documents
"""


def pandas_udaf_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregation via ``applyInPandas`` (the pandas-UDAF surface;
    reference ``outer.aggregate=<function>`` generalized to grouped
    custom aggregation).  numpy's 'linear' interpolation is the same
    formula as DuckDB ``quantile_cont``, so the kernel is oracle-exact.
    At 100 TB you'd swap the exact kernel for a mergeable sketch
    (t-digest) with the same plumbing."""
    import numpy as np
    import pandas as pd

    def quantiles(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["l_extendedprice"].to_numpy()
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                # rounded: numpy's lerp differs from quantile_cont in the
                # last float bits
                "p50": [round(float(np.quantile(v, 0.5)), 6)],
                "p90": [round(float(np.quantile(v, 0.9)), 6)],
                "n": [len(v)],
            }
        )

    li = Tables(spark, sf_dir).lineitem.select("l_returnflag", "l_extendedprice")
    return li.groupBy("l_returnflag").applyInPandas(
        quantiles, schema="l_returnflag string, p50 double, p90 double, n long"
    )


_PD_UDAF_ORACLE = """
SELECT l_returnflag, ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
  ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90, COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-stratum fractions (here:
    keep 50% of 'A', 10% of 'N', 100% of 'R') via the hash-range
    mechanism — ``sampleBy`` semantics without engine RNG."""
    from .operators.sampling import hash_prefix, hex_threshold

    li = Tables(spark, sf_dir).lineitem
    fractions = {"A": 0.5, "N": 0.1, "R": 1.0}
    p = hash_prefix(F.concat(F.col("l_orderkey").cast("string"), F.lit("#"), F.col("l_linenumber").cast("string")), salt="strat")
    cond = None
    for flag, frac in fractions.items():
        c = (F.col("l_returnflag") == flag) & (p < hex_threshold(frac))
        cond = c if cond is None else (cond | c)
    return (
        li.filter(cond)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("qty"))
    )


def _stratified_oracle() -> str:
    from .operators.sampling import hex_threshold

    p = (
        "substr(md5(concat('strat|', concat(CAST(l_orderkey AS VARCHAR), '#', "
        "CAST(l_linenumber AS VARCHAR)))), 1, 8)"
    )
    whens = " OR ".join(
        f"(l_returnflag = '{f}' AND {p} < '{hex_threshold(x)}')"
        for f, x in {"A": 0.5, "N": 0.1, "R": 1.0}.items()
    )
    return (
        f"SELECT l_returnflag, COUNT(*) AS n, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty "
        f"FROM lineitem WHERE {whens} GROUP BY 1"
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a join — promo
    revenue share for one shipdate year.  Part is broadcast; the ratio is
    built from two exact decimal sums."""
    t = Tables(spark, sf_dir)
    j = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(F.broadcast(t.part), F.col("l_partkey") == F.col("p_partkey"))
    )
    agg = j.agg(
        dsum_revenue(where=F.col("p_type") == "PROMO").alias("promo"),
        dsum_revenue().alias("total"),
    )
    return agg.select(
        "promo",
        "total",
        F.round(F.lit(100.0) * F.col("promo") / F.col("total"), 6).alias("promo_pct"),
    )


_Q14_ORACLE = """
WITH j AS (
  SELECT p_type,
    CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01')
SELECT CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev END) AS DECIMAL(38,6)) AS DOUBLE) AS promo,
  CAST(CAST(SUM(rev) AS DECIMAL(38,6)) AS DOUBLE) AS total,
  ROUND(100.0 * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev END) AS DECIMAL(38,6)) AS DOUBLE)
    / CAST(CAST(SUM(rev) AS DECIMAL(38,6)) AS DOUBLE), 6) AS promo_pct
FROM j
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on an aggregate, joined back to dims —
    orders whose total quantity exceeds a threshold, with their customer."""
    t = Tables(spark, sf_dir)
    big_orders = (
        t.lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("qdec"))
        .filter(F.col("qdec") > 150)
    )
    return (
        big_orders.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t.customer), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "l_orderkey",
            "c_name",
            F.col("qdec").cast("double").alias("total_qty"),
            "o_totalprice",
        )
    )


_Q18_ORACLE = """
SELECT l_orderkey, c_name,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty,
  o_totalprice
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY l_orderkey, c_name, o_totalprice
HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 150
"""


def window_lag_lead_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first over per-customer order history: gap in days since
    the previous order, next order's price, first-order flag."""
    o = Tables(spark, sf_dir).orders
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        (
            (F.unix_timestamp("o_orderdate") - F.unix_timestamp(F.lag("o_orderdate").over(w)))
            / 86400
        ).cast("bigint").alias("days_since_prev"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (F.row_number().over(w) == 1).alias("is_first"),
    )


_WLAG_ORACLE = """
SELECT o_custkey, o_orderkey,
  CAST((CAST(floor(epoch(o_orderdate)) AS BIGINT)
    - CAST(floor(epoch(LAG(o_orderdate) OVER w)) AS BIGINT)) / 86400 AS BIGINT)
    AS days_since_prev,
  LEAD(o_totalprice) OVER w AS next_price,
  ROW_NUMBER() OVER w = 1 AS is_first
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


def string_functions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function breadth over customer names: case, padding,
    substrings, replacement, edit distance — identical semantics in both
    engines (JVM-side, codegen'd in Spark)."""
    c = Tables(spark, sf_dir).customer
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.length("c_name").cast("int").alias("name_len"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.regexp_replace("c_name", "[0-9]", "#").alias("masked"),
        F.levenshtein("c_name", F.lit("Customer#000000001")).cast("int").alias("edit_dist"),
        F.concat_ws("/", "c_mktsegment", F.col("c_nationkey").cast("string")).alias("seg_nat"),
    )


_STRINGF_ORACLE = """
SELECT c_custkey, UPPER(c_name) AS uname,
  CAST(LENGTH(c_name) AS INT) AS name_len,
  substr(c_name, 1, 8) AS prefix,
  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
  CAST(levenshtein(c_name, 'Customer#000000001') AS INT) AS edit_dist,
  concat_ws('/', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nat
FROM customer
"""


def array_functions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function breadth over embeddings: size, element access,
    min/max/sum folds (JVM higher-order functions; no UDF)."""
    e = Tables(spark, sf_dir).embeddings
    arr = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.round(F.element_at(arr, 1), 6).alias("first_el"),
        F.round(F.array_max(arr), 6).alias("vmax"),
        F.round(F.array_min(arr), 6).alias("vmin"),
        F.round(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x), 6).alias("vsum"),
    )


_ARRAYF_ORACLE = """
SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
  ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_el,
  ROUND(list_max(CAST(embedding AS DOUBLE[])), 6) AS vmax,
  ROUND(list_min(CAST(embedding AS DOUBLE[])), 6) AS vmin,
  ROUND(list_sum(CAST(embedding AS DOUBLE[])), 6) AS vsum
FROM embeddings
"""


def events_heatmap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour activity heatmap.  Day-of-week numbering differs
    between engines (Spark 1=Sunday, DuckDB 0=Sunday), so dow is computed
    portably from epoch days ((days + 4) % 7, 0=Sunday — 1970-01-01 was a
    Thursday)."""
    ev = Tables(spark, sf_dir).events
    epoch = F.unix_timestamp("ts")
    dow = ((F.floor(epoch / 86400) + 4) % 7).cast("int")
    hour = ((epoch % 86400) / 3600).cast("int")
    return (
        ev.withColumn("dow", dow)
        .withColumn("hour", hour)
        .groupBy("dow", "hour")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("v"))
    )


_HEATMAP_ORACLE = """
SELECT CAST((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7 AS INT) AS dow,
  CAST((CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS INT) AS hour,
  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
FROM events GROUP BY 1, 2
"""


def embedding_quantize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings (the 4× storage cut a
    100 TB embedding store actually applies): per-vector scale =
    max|x|/127, q_i = round(x_i / scale).  Output: per-vector scale
    (9 dp) + int8-sum checksum + saturation count — all JVM folds."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH v AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS e FROM embeddings),
        s AS (SELECT vec_id, e,
          aggregate(e, CAST(0 AS DOUBLE), (m, x) -> greatest(m, abs(x))) / 127.0 AS scale
          FROM v),
        q AS (SELECT vec_id, ROUND(scale, 9) AS scale,
          aggregate(e, CAST(0 AS BIGINT), (acc, x) -> acc + CAST(ROUND(x / scale, 0) AS BIGINT)) AS q_sum,
          aggregate(e, CAST(0 AS BIGINT), (acc, x) ->
            acc + CASE WHEN abs(CAST(ROUND(x / scale, 0) AS BIGINT)) >= 127 THEN 1 ELSE 0 END) AS n_saturated
          FROM s)
        SELECT vec_id, scale, q_sum, n_saturated FROM q
        """
    )


_QUANT_ORACLE = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
s AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM v),
q AS (SELECT vec_id, ROUND(scale, 9) AS scale,
  CAST(list_sum(list_transform(e, x -> CAST(ROUND(x / scale, 0) AS BIGINT))) AS BIGINT) AS q_sum,
  CAST(list_sum(list_transform(e, x ->
    CASE WHEN abs(CAST(ROUND(x / scale, 0) AS BIGINT)) >= 127 THEN 1 ELSE 0 END)) AS BIGINT) AS n_saturated
  FROM s)
SELECT vec_id, scale, q_sum, n_saturated FROM q
"""


def text_top_bigrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams — the n-gram counting primitive of
    corpus analysis (explode → count → deterministic top-k).  One shuffle
    (the count), then TakeOrderedAndProject."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH words AS (SELECT /*+ REPARTITION(32) */
            split(trim(lower(text)), '\\\\s+') AS w FROM documents),
        docs AS (SELECT w FROM words WHERE size(w) >= 2),
        bigrams AS (
          SELECT concat(element_at(w, i), ' ', element_at(w, i + 1)) AS bg
          FROM docs LATERAL VIEW explode(sequence(1, size(w) - 1)) _t AS i)
        SELECT bg, COUNT(*) AS n FROM bigrams GROUP BY bg
        ORDER BY n DESC, bg ASC LIMIT 20
        """
    )


_BIGRAMS_ORACLE = """
WITH words AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents),
docs AS (SELECT w FROM words WHERE len(w) >= 2),
bigrams AS (
  SELECT concat(w[i], ' ', w[i + 1]) AS bg
  FROM docs, UNNEST(range(1, len(w))) AS _t(i))
SELECT bg, COUNT(*) AS n FROM bigrams GROUP BY bg
ORDER BY n DESC, bg ASC LIMIT 20
"""


def events_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: users progressing view → click → purchase in
    temporal order (first occurrence of each stage must be ordered).
    One grouped pivot of min timestamps, then ordered-stage flags."""
    ev = Tables(spark, sf_dir).events
    stages = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
        )
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0)).cast("bigint").alias("viewed"),
        F.sum(
            F.when(
                F.col("t_view").isNotNull()
                & F.col("t_click").isNotNull()
                & (F.col("t_click") > F.col("t_view")),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("clicked_after_view"),
        F.sum(
            F.when(
                F.col("t_view").isNotNull()
                & F.col("t_click").isNotNull()
                & F.col("t_buy").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
                & (F.col("t_buy") > F.col("t_click")),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("full_funnel"),
    )


_FUNNEL_ORACLE = """
WITH stages AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
  GROUP BY user_id)
SELECT COUNT(*) AS n_users,
  CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS viewed,
  CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
    AND t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
  CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL AND t_buy IS NOT NULL
    AND t_click > t_view AND t_buy > t_click THEN 1 ELSE 0 END) AS BIGINT) AS full_funnel
FROM stages
"""


def date_functions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function breadth over orders: calendar parts, ISO week,
    day arithmetic, month arithmetic (both engines clamp day-of-month),
    epoch-emitted to dodge cross-engine timestamp physicals."""
    o = Tables(spark, sf_dir).orders
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("y"),
        F.quarter("o_orderdate").cast("int").alias("q"),
        F.month("o_orderdate").cast("int").alias("m"),
        F.dayofmonth("o_orderdate").cast("int").alias("d"),
        F.weekofyear("o_orderdate").cast("int").alias("iso_week"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).cast("int").alias("days_since"),
        F.unix_timestamp(F.add_months("o_orderdate", 3)).alias("plus3m"),
        F.unix_timestamp(F.last_day("o_orderdate")).alias("month_end"),
    )


_DATEF_ORACLE = """
SELECT o_orderkey,
  CAST(year(o_orderdate) AS INT) AS y,
  CAST(quarter(o_orderdate) AS INT) AS q,
  CAST(month(o_orderdate) AS INT) AS m,
  CAST(day(o_orderdate) AS INT) AS d,
  CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
  CAST(floor(epoch(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH)) AS BIGINT) AS plus3m,
  CAST(floor(epoch(last_day(CAST(o_orderdate AS DATE)))) AS BIGINT) AS month_end
FROM orders
"""


def partitioned_etl_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-facing partition-pruning ETL: write events hive-partitioned by
    event_type, read back ONE partition directory (the filter becomes a
    PartitionFilter — at 100 TB this reads one directory, not the lake),
    roll up hourly.  Oracle: the equivalent direct filter."""
    import tempfile

    ev = Tables(spark, sf_dir).events
    path = os.path.join(tempfile.gettempdir(), "bdt_events_part")
    ev.withColumn("etype", F.col("event_type")).write.mode("overwrite").partitionBy(
        "etype"
    ).parquet(path)
    back = read_parquet(spark, path).filter(F.col("etype") == "purchase")
    return (
        back.withColumn("hour", (F.unix_timestamp("ts") / 3600).cast("bigint") * 3600)
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("v"))
    )


_PART_ETL_ORACLE = """
SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS hour,
  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
FROM events WHERE event_type = 'purchase' GROUP BY 1
"""


def sample_fixed_k_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size sample (reservoir-sample semantics without
    RNG): order by content hash, take k — a uniform-random-looking but
    fully reproducible subset.  Physical plan is TakeOrderedAndProject
    (per-partition k-heaps), not a global sort."""
    docs = Tables(spark, sf_dir).documents
    h = F.md5(F.concat(F.lit("res|"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", "lang", "n_chars", h.alias("h"))
        .orderBy("h")
        .limit(100)
        .drop("h")
    )


_SAMPLE_K_ORACLE = """
SELECT doc_id, lang, n_chars FROM documents
ORDER BY md5(concat('res|', CAST(doc_id AS VARCHAR))) LIMIT 100
"""


def balanced_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-group subsample: k rows per group in hash order
    (row_number window) — the class-balancing sampler for training sets."""
    li = Tables(spark, sf_dir).lineitem
    h = F.md5(
        F.concat(
            F.lit("bal|"),
            F.col("l_orderkey").cast("string"),
            F.lit("#"),
            F.col("l_linenumber").cast("string"),
        )
    )
    ranked = W.topk_per_group(
        li.select("l_returnflag", "l_orderkey", "l_linenumber", h.alias("h")),
        by="l_returnflag",
        order=[F.col("h").asc()],
        k=50,
    )
    return ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("h").alias("h_min"),
        F.max("h").alias("h_max"),
    )


_BALANCED_ORACLE = """
WITH h AS (
  SELECT l_returnflag,
    md5(concat('bal|', CAST(l_orderkey AS VARCHAR), '#', CAST(l_linenumber AS VARCHAR))) AS h
  FROM lineitem),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h ASC) AS rn FROM h)
SELECT l_returnflag, COUNT(*) AS n, MIN(h) AS h_min, MAX(h) AS h_max
FROM r WHERE rn <= 50 GROUP BY l_returnflag
"""


def events_anomaly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly counts with moments computed from exact
    decimal sums (n, Σv, Σv²) — stddev built from deterministic doubles,
    so the engine-specific accumulation order of ``stddev_samp`` never
    enters.  Output: events with |z| > 2 per type."""
    ev = Tables(spark, sf_dir).events
    dec = F.col("value").cast("decimal(18,6)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("s"),
        F.sum(dec * dec).cast("decimal(38,6)").cast("double").alias("s2"),
    )
    withz = (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("mean", F.col("s") / F.col("n"))
        .withColumn(
            "sd",
            F.sqrt(
                (F.col("s2") - F.col("s") * F.col("s") / F.col("n"))
                / (F.col("n") - 1)
            ),
        )
        .withColumn("z", (F.col("value") - F.col("mean")) / F.col("sd"))
    )
    return withz.filter(F.abs(F.col("z")) > 2).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_anomalies"),
        F.max(F.round(F.abs(F.col("z")), 6)).alias("max_abs_z"),
    )


_ANOMALY_ORACLE = """
WITH stats AS (
  SELECT event_type, COUNT(*) AS n,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
    CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS s2
  FROM events GROUP BY event_type),
z AS (
  SELECT e.event_type, e.value,
    (e.value - s.s / s.n) / sqrt((s.s2 - s.s * s.s / s.n) / (s.n - 1)) AS z
  FROM events e JOIN stats s ON e.event_type = s.event_type)
SELECT event_type, COUNT(*) AS n_anomalies,
  MAX(ROUND(ABS(z), 6)) AS max_abs_z
FROM z WHERE ABS(z) > 2 GROUP BY event_type
"""


def dedup_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline end-to-end: LSH candidates → connected
    components → keep min-id per group → corpus summary (docs in/out,
    duplicate groups, surviving characters).  One number a pipeline
    operator actually reports."""
    from .operators.graph import connected_components

    register_views(spark, sf_dir)
    pairs = _minhash_lsh_pairs_fn(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "n_chars")
    cc = connected_components(
        docs.select("doc_id"), pairs, node_col="doc_id", src="doc_a", dst="doc_b"
    )
    survivors = cc.filter(F.col("node") == F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    kept = docs.join(survivors, "doc_id", "left_semi")
    groups = cc.groupBy("label").count()
    return (
        kept.agg(
            F.count(F.lit(1)).alias("docs_out"),
            F.sum("n_chars").cast("bigint").alias("chars_out"),
        )
        .crossJoin(
            docs.agg(F.count(F.lit(1)).alias("docs_in")).crossJoin(
                groups.filter(F.col("count") > 1).agg(
                    F.count(F.lit(1)).cast("bigint").alias("dup_groups")
                )
            )
        )
        .select("docs_in", "docs_out", "dup_groups", "chars_out")
    )


def _dedup_pipeline_oracle() -> str:
    pairs = D.minhash_lsh_pairs_sql(DUCK)
    return f"""
WITH RECURSIVE pairs AS (SELECT * FROM ({pairs}) _p),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
cc(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION SELECT e.dst, cc.label FROM cc JOIN edges e ON e.src = cc.node),
comp AS (SELECT node, MIN(label) AS label FROM cc GROUP BY node),
survivors AS (SELECT node AS doc_id FROM comp WHERE node = label),
groups AS (SELECT label, COUNT(*) AS cnt FROM comp GROUP BY label)
SELECT (SELECT COUNT(*) FROM documents) AS docs_in,
  (SELECT COUNT(*) FROM survivors) AS docs_out,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM groups WHERE cnt > 1) AS dup_groups,
  (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents d
    JOIN survivors s ON d.doc_id = s.doc_id) AS chars_out
"""


def dedup_keep_best_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware KEEPER SELECTION over near-dup clusters — the
    curation policy real pipelines use instead of keep-min-id: LSH pairs
    → connected components → within each component keep the HIGHEST
    quality-score copy (ties by lowest doc_id; the score is the shared
    `quality_select_sql`, so this policy and `text_quality_score` agree
    by construction).  Output is the full per-document adjudication
    ``(doc_id, keeper_id, kept)`` — the table a materialization step
    joins against.  At 100 TB: the component labels and ≤1-row-per-doc
    quality scores shuffle; text is read once for scoring and never
    pairwise."""
    from pyspark.sql import Window

    from .functions import text as X
    from .operators.graph import connected_components

    register_views(spark, sf_dir)
    pairs = _minhash_lsh_pairs_fn(spark, sf_dir)
    docs = spark.table("documents").select("doc_id")
    cc = connected_components(
        docs, pairs, node_col="doc_id", src="doc_a", dst="doc_b"
    )
    q = spark.sql(X.quality_select_sql(SPARK))
    rk = (
        cc.select(F.col("node").alias("doc_id"), "label")
        .join(q, "doc_id")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("label").orderBy(
                    F.col("quality_score").desc(), F.col("doc_id").asc()
                )
            ),
        )
    )
    keepers = rk.filter(F.col("rn") == 1).select(
        "label", F.col("doc_id").alias("keeper_id")
    )
    return rk.join(keepers, "label").select(
        "doc_id",
        "keeper_id",
        (F.col("doc_id") == F.col("keeper_id")).alias("kept"),
    )


def _dedup_keep_best_quality_oracle() -> str:
    from .functions import text as X

    pairs = D.minhash_lsh_pairs_sql(DUCK)
    return f"""
WITH RECURSIVE pairs AS (SELECT * FROM ({pairs}) _p),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
cc(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION SELECT e.dst, cc.label FROM cc JOIN edges e ON e.src = cc.node),
comp AS (SELECT node, MIN(label) AS label FROM cc GROUP BY node),
q AS ({X.quality_select_sql(DUCK)}),
rk AS (
  SELECT c.node AS doc_id, c.label, ROW_NUMBER() OVER (
    PARTITION BY c.label
    ORDER BY q.quality_score DESC, c.node ASC) AS rn
  FROM comp c JOIN q ON q.doc_id = c.node),
k AS (SELECT label, doc_id AS keeper_id FROM rk WHERE rn = 1)
SELECT r.doc_id, k.keeper_id, r.doc_id = k.keeper_id AS kept
FROM rk r JOIN k ON k.label = r.label
"""


def kmeans_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means training (functions/clustering.py): 2 Lloyd
    iterations, deterministic init, exact-decimal centroid means →
    per-cluster sizes + centroid checksums.  The trained centroids are
    the IVF coarse quantizer (`ann_ivf_topk` uses untrained id-seeds; this
    is the production path)."""
    from .functions.clustering import kmeans_summary

    e = Tables(spark, sf_dir).embeddings
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    return kmeans_summary(vecs, k=4, n_iter=2)


def quantile_sketch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantiles (p50/p90/p99 of l_extendedprice) from the
    mergeable fixed-bin histogram sketch
    (operators/aggregate.py:histogram_quantiles) — the scale path the
    exact `percentile` entry can't serve at 100 TB.  The oracle shares
    the sketch algorithm (bin edges are part of the contract); the
    ≤ bin_width error bound vs EXACT percentiles is asserted in
    tests/test_operators.py."""
    from .operators.aggregate import histogram_quantiles

    li = Tables(spark, sf_dir).lineitem
    return histogram_quantiles(
        li, "l_returnflag", "l_extendedprice", (0.5, 0.9, 0.99), 1000.0
    )


_QSKETCH_ORACLE = """
WITH b AS (
  SELECT l_returnflag, CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS bin,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY 1, 2),
c AS (
  SELECT l_returnflag, bin,
         SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
  FROM b),
h AS (
  SELECT l_returnflag, q, bin
  FROM c CROSS JOIN (SELECT UNNEST([0.5, 0.9, 0.99]) AS q) _q
  WHERE cum >= CEIL(q * n))
SELECT l_returnflag, q, MIN(bin) * 1000.0 AS est FROM h GROUP BY 1, 2
"""


def tdigest_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped p50/p90/p99 of l_extendedprice from the two-phase merging
    t-digest (operators/tdigest.py) — the general-purpose mergeable
    sketch: no bin-width/range hint, near-constant rank error via the k1
    scale function.  Raw values never shuffle; only per-partition
    centroid sets do.

    A t-digest estimate is partition-order-dependent (inherent — same as
    Spark's percentile_approx), so the driver-hashed output is the
    partitioning-STABLE claim: for every (group, q), the estimate's true
    rank within its group sits within ±0.02 of q — the sketch's error
    bound, checked by joining the 9 estimates back against lineitem
    (broadcast) and counting values ≤ est in exact arithmetic.  Exact
    estimate values are pinned separately in tests/test_round2.py."""
    from .operators.tdigest import tdigest_quantiles

    li = Tables(spark, sf_dir).lineitem
    est = tdigest_quantiles(li, "l_returnflag", "l_extendedprice", (0.5, 0.9, 0.99))
    est = F.broadcast(
        est.select(F.col("l_returnflag").alias("g"), "q", "est")
    )
    ranked = (
        li.join(est, F.col("l_returnflag") == F.col("g"))
        .groupBy("g", "q")
        .agg(
            (
                F.sum(F.when(F.col("l_extendedprice") <= F.col("est"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("rank")
        )
    )
    return ranked.select(
        F.col("g").alias("l_returnflag"),
        "q",
        (F.abs(F.col("rank") - F.col("q")) <= 0.02).alias("ok"),
    )


_TDIGEST_ORACLE = """
SELECT l_returnflag, q, TRUE AS ok
FROM (SELECT DISTINCT l_returnflag FROM lineitem) g
CROSS JOIN (SELECT UNNEST([0.5, 0.9, 0.99]) AS q) _q
"""


def embedding_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, scale path: banded-LSH candidates (blocking on
    label+band+signature, NOT a label-block cartesian) → exact cosine
    verification (functions/similarity.py:embedding_neardup_lsh).  The
    oracle stays the all-pairs-within-label form — the small-data exact
    answer; LSH recall vs it is verified 1.0 on the fixtures."""
    from .functions.similarity import embedding_neardup_lsh

    return embedding_neardup_lsh(Tables(spark, sf_dir).embeddings)


def _kmeans_dist_sql(e: str, c: str) -> str:
    return (
        f"ROUND(list_dot_product({e}, {e}) - 2 * list_dot_product({e}, {c})"
        f" + list_dot_product({c}, {c}), 6)"
    )


def _kmeans_ctes(
    k: int, n_iter: int, where: str = "", train_where: str = ""
) -> tuple[list[str], str, str]:
    """Unrolled Lloyd iterations as DuckDB CTEs — the same init,
    rounded-distance argmin, and decimal-exact elementwise means as
    functions/clustering.py.  Returns (ctes, final_centroids_cte,
    final_assignment_cte) so IVF oracles can reuse the trained state.
    ``where`` (e.g. ``" WHERE vec_id % 5 <> 3"``) restricts the vector
    source — the SURVIVING set for the re-quantize oracles; init then
    selects the k SMALLEST surviving ids in both engines (r12, the
    kmeans_fit init fix — the old ``vec_id < k`` filter thinned or
    emptied the init whenever the survivors' low ids were gone;
    identical on dense ids, so full-table oracles are unchanged).
    ``train_where`` (bare predicate, no WHERE) restricts init and the
    Lloyd ITERATIONS to a training subset while the FINAL assignment
    still covers all of v0 — the bootstrap-then-frozen-append topology
    of the streaming IVF store (train on batch 0, assign everything
    under the frozen centroids)."""
    def assign(name, cents, src="v0"):
        return (
            f"{name} AS (SELECT vec_id, cid, e FROM ("
            f"SELECT v.vec_id, c.cid, v.e, ROW_NUMBER() OVER (PARTITION BY v.vec_id "
            f"ORDER BY {_kmeans_dist_sql('v.e', 'c.c')} ASC, c.cid ASC) AS rn "
            f"FROM {src} v JOIN {cents} c ON 1 = 1) _t WHERE rn = 1)"
        )

    def update(aname, mname, cname):
        return (
            f"{mname} AS (SELECT cid, pos, "
            "CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mv FROM ("
            f"SELECT a.cid, UNNEST(a.e) AS val, generate_subscripts(a.e, 1) AS pos "
            f"FROM {aname} a) _u GROUP BY cid, pos), "
            f"{cname} AS (SELECT cid, list(mv ORDER BY pos) AS c FROM {mname} GROUP BY cid)"
        )

    ctes = [
        "v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e "
        f"FROM embeddings{where})",
    ]
    tsrc = "v0"
    if train_where:
        ctes.append(f"v0t AS (SELECT vec_id, e FROM v0 WHERE {train_where})")
        tsrc = "v0t"
    ctes.append(
        # k SMALLEST ids present (kmeans_fit's init twin, r12): rank,
        # not a dense-id threshold
        f"c0 AS (SELECT vec_id AS cid, e AS c FROM (SELECT vec_id, e, "
        f"ROW_NUMBER() OVER (ORDER BY vec_id) AS _rn FROM {tsrc}) _i0 "
        f"WHERE _rn <= {k})"
    )
    for i in range(1, n_iter + 1):
        ctes.append(assign(f"a{i}", f"c{i - 1}", tsrc))
        ctes.append(update(f"a{i}", f"m{i}", f"c{i}"))
    ctes.append(assign("afinal", f"c{n_iter}"))
    return ctes, f"c{n_iter}", "afinal"


def _kmeans_oracle(k: int = 4, n_iter: int = 2) -> str:
    ctes, cents, afinal = _kmeans_ctes(k, n_iter)
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT s.cid, s.n_members, ROUND(list_sum(c.c), 6) AS checksum "
        f"FROM (SELECT cid, COUNT(*) AS n_members FROM {afinal} GROUP BY cid) s "
        f"JOIN {cents} c ON c.cid = s.cid"
    )


def ann_ivf_trained_q(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = 8,
    n_iter: int = 2,
    n_probe: int = 2,
    n_queries: int = 5,
    k: int = 5,
) -> DataFrame:
    """IVF ANN with TRAINED coarse quantizer: k-means centroids
    (functions/clustering.py:kmeans_fit — deterministic init, decimal-
    exact means) replace `ann_ivf_topk`'s id-seed stand-ins.  The
    assignment table (vec_id, cid) is the inverted file — at 100 TB it is
    persisted once at train time and each search touches only
    |corpus|·n_probe/n_centroids vectors.  Centroids are broadcast; the
    corpus is never shuffled.

    Measured recall@5 vs brute force on the sf0.01 fixture: 0.92
    (nprobe=2/8) vs ~0.36 for `ann_ivf_topk`'s id-seed centroids —
    trained cells carry real signal even on uniform-random embeddings."""
    from pyspark.sql import Window

    from .functions.clustering import assign_clusters, kmeans_fit

    e = Tables(spark, sf_dir).embeddings
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cents = kmeans_fit(vecs, k=n_centroids, n_iter=n_iter).localCheckpoint(eager=True)
    inverted = assign_clusters(vecs, cents)  # (vec_id, cid, e)

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    q = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    dist = F.round(
        _dot(F.col("qe"), F.col("qe"))
        - 2 * _dot(F.col("qe"), F.col("c"))
        + _dot(F.col("c"), F.col("c")),
        6,
    )
    wq = Window.partitionBy("qid").orderBy(dist.asc(), F.col("cid").asc())
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("qid", "cid")
    )
    # broadcast: probes is n_queries·n_probe rows, but its window+crossJoin
    # lineage defeats the size estimate — without the hint the planner
    # sorts the whole inverted file for a SortMergeJoin (the persisted
    # variant already hints this join; r16 plan audit)
    cands = F.broadcast(probes).join(inverted, "cid").filter(
        F.col("vec_id") != F.col("qid")
    )
    cos = F.round(
        _dot(F.col("qe"), F.col("e"))
        / (
            F.sqrt(_dot(F.col("qe"), F.col("qe")))
            * F.sqrt(_dot(F.col("e"), F.col("e")))
        ),
        9,
    )
    scored = cands.join(q, "qid").select(
        F.col("qid").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        cos.alias("cos_sim"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def _ann_ivf_trained_oracle(
    n_centroids: int = 8,
    n_iter: int = 2,
    n_probe: int = 2,
    n_queries: int = 5,
    k: int = 5,
    where: str = "",
    train_where: str = "",
    serve_where: str = "",
) -> str:
    """Unrolled k-means (same CTEs as _kmeans_oracle) + probe + rank.
    ``where`` restricts the vector source to the surviving set — the
    re-quantize oracle (catalog_r12) reuses this WHOLE text, so the
    persisted-retrain entry and the in-query trained entry share one
    formulation by construction.  ``train_where`` restricts training
    (not assignment) — the streaming-store oracle's bootstrap-frozen
    topology.  ``serve_where`` (bare predicate over ``a.vec_id``)
    restricts only the SERVED candidate side while training covers the
    full set — the retention-cutoff topology (``ivf_expire``: frozen
    geometry, read-time filter)."""
    ctes, cents, afinal = _kmeans_ctes(
        n_centroids, n_iter, where=where, train_where=train_where
    )
    cos = (
        "ROUND(list_dot_product(q.e, cd.e) / "
        "(sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(cd.e, cd.e))), 9)"
    )
    serve_and = f" AND {serve_where}" if serve_where else ""
    ctes = ctes + [
        f"q AS (SELECT vec_id AS qid, e FROM v0 WHERE vec_id < {n_queries})",
        "probes AS (SELECT qid, cid FROM ("
        "  SELECT q.qid, c.cid, ROW_NUMBER() OVER (PARTITION BY q.qid "
        f"  ORDER BY {_kmeans_dist_sql('q.e', 'c.c')} ASC, c.cid ASC) AS rn "
        f"  FROM q JOIN {cents} c ON 1 = 1) _p WHERE rn <= {n_probe})",
        f"cands AS (SELECT p.qid, a.vec_id, a.e FROM probes p "
        f"  JOIN {afinal} a ON a.cid = p.cid AND a.vec_id <> p.qid{serve_and})",
        "scored AS (SELECT cd.qid AS query_id, cd.vec_id AS neighbor_id, "
        f"  {cos} AS cos_sim FROM cands cd JOIN q ON q.qid = cd.qid)",
        "ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id "
        "  ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk FROM scored)",
    ]
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk "
        f"FROM ranked WHERE rnk <= {k}"
    )


def ann_ivf_persisted_q(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = 8,
    n_iter: int = 2,
    n_probe: int = 2,
    n_queries: int = 5,
    k: int = 5,
) -> DataFrame:
    """IVF ANN answered from a PERSISTED index (VERDICT r6 #7): the
    trained centroids + cid-partitioned inverted file land as parquet
    once (functions/clustering.py:ivf_build — the same deterministic
    k-means seed as `ann_ivf_trained_topk`), and the search plan reads
    ONLY the stored index — no Lloyd iterations on the query path
    (pinned in tests/test_round7.py: the returned plan scans the index
    files and embeddings exactly once, for the query vectors).  Sharing
    `ann_ivf_trained_topk`'s oracle IS the train-once == train-per-query
    proof.  At 100 TB: one index build amortizes across every
    dedup/search query, and the cid-partitioned inverted file turns
    n_probe into file-level pruning."""
    import os
    import shutil
    import tempfile

    from .functions.clustering import ann_ivf_persisted_search, ivf_build

    e = Tables(spark, sf_dir).embeddings
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_ivf_index_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    ivf_build(vecs, path, k=n_centroids, n_iter=n_iter)
    q = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    return ann_ivf_persisted_search(spark, path, q, n_probe=n_probe, topk=k)


def ann_pq_trained_q(
    spark: SparkSession,
    sf_dir: str,
    dim: int = 64,
    n_subs: int = 8,
    n_codes: int = 16,
    n_iter: int = 2,
    n_queries: int = 5,
    k: int = 5,
) -> DataFrame:
    """Product-quantization ANN with a TRAINED codebook: per-subspace
    k-means (functions/clustering.py:pq_fit — all subspaces in one
    distributed Lloyd, the subspace id is a grouping column) replaces
    `ann_pq_topk`'s id-seed codewords.  The corpus is then stored as
    n_subs one-byte codes per vector and queries score via a broadcast
    (qid, s, cid)→distance table — ADC: at 100 TB the raw floats are
    touched only at train/encode time.

    Same query ids as `ann_pq_topk` ([n_codes, n_codes+n_queries)), so
    recall is directly comparable: measured recall@5 vs exact L2 is
    0.32 (sf0.001) / 0.36 (sf0.01) — 2-4.5× the id-seed codebook's
    0.16/0.08 (tests/test_round2.py pins trained > id-seed).  Uniform
    random 64-d data is PQ's worst case at 32 bits/vector; clustered
    production embeddings quantize far better at the same code size."""
    from .functions.clustering import _dot, assign_codebook, pq_fit

    sub_len = dim // n_subs
    e = Tables(spark, sf_dir).embeddings
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("fe"))
    subs = vecs.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_subs - 1))).alias("s"),
        "fe",
    ).select(
        "vec_id", "s", F.expr(f"slice(fe, 1 + s * {sub_len}, {sub_len})").alias("e")
    )
    cb = pq_fit(subs, k=n_codes, n_iter=n_iter).localCheckpoint(eager=True)
    codes = assign_codebook(subs, cb).select("vec_id", "s", "cid")

    q_lo, q_hi = n_codes, n_codes + n_queries
    qsubs = subs.filter((F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi)).select(
        F.col("vec_id").alias("qid"), "s", F.col("e").alias("qe")
    )
    d = F.round(
        _dot(F.col("qe"), F.col("qe"))
        - 2 * _dot(F.col("qe"), F.col("c"))
        + _dot(F.col("c"), F.col("c")),
        9,
    ).cast("decimal(18,9)")
    dtab = qsubs.join(F.broadcast(cb), "s").select("qid", "s", "cid", d.alias("d"))
    adc = (
        codes.join(F.broadcast(dtab), ["s", "cid"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("d").cast("double").alias("dist"))
    )
    from pyspark.sql import Window

    wr = Window.partitionBy("qid").orderBy(
        F.round(F.col("dist"), 6).asc(), F.col("vec_id").asc()
    )
    return (
        adc.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.round(F.col("dist"), 6).alias("adc_dist"),
            "rnk",
        )
    )


def ann_pq_persisted_q(
    spark: SparkSession,
    sf_dir: str,
    dim: int = 64,
    n_subs: int = 8,
    n_codes: int = 16,
    n_iter: int = 2,
    n_queries: int = 5,
    k: int = 5,
) -> DataFrame:
    """PQ ANN answered from a PERSISTED codebook + codes store
    (functions/clustering.py:pq_build / ann_pq_persisted_search): train
    once, write the codebook and the compressed corpus (n_subs codes
    per vector), and every search reads ONLY the store — no Lloyd, no
    raw embedding floats on the query path.  Sharing
    `ann_pq_trained_topk`'s oracle proves train-once == train-per-query
    for the ADC path, completing the persisted-index pair with
    `ann_ivf_persisted_topk` (coarse cells persist there, fine codes
    persist here; a production IVF-PQ store persists both)."""
    import os
    import shutil
    import tempfile

    from .functions.clustering import ann_pq_persisted_search, pq_build

    sub_len = dim // n_subs
    e = Tables(spark, sf_dir).embeddings
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("fe"))
    subs = vecs.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_subs - 1))).alias("s"),
        "fe",
    ).select(
        "vec_id", "s", F.expr(f"slice(fe, 1 + s * {sub_len}, {sub_len})").alias("e")
    )
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_pq_index_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    pq_build(subs, path, k=n_codes, n_iter=n_iter)
    q_lo, q_hi = n_codes, n_codes + n_queries
    qsubs = subs.filter((F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi)).select(
        F.col("vec_id").alias("qid"), "s", F.col("e").alias("qe")
    )
    return ann_pq_persisted_search(spark, path, qsubs, topk=k)


def _pq_ctes(
    n_subs: int = 8,
    sub_len: int = 8,
    k: int = 16,
    n_iter: int = 2,
    prefix: str = "",
    src: str | None = None,
    where: str = "",
) -> tuple[list[str], str, str]:
    """Unrolled per-subspace Lloyd as DuckDB CTEs (the grouped analogue
    of _kmeans_ctes — subspace ``s`` rides every key).  Returns (ctes,
    final_codebook_cte, final_codes_cte).

    ``prefix`` namespaces every generated CTE so the chain composes with
    another Lloyd chain in one statement (the residual IVF-PQ oracle
    nests this AFTER _kmeans_ctes, whose names would otherwise collide);
    ``src`` — a CTE yielding ``(vec_id, e)`` — replaces the embeddings
    scan as the subvector source (residual vectors)."""
    P = prefix
    subs0 = f"{P}subs0"

    def assign(name, cbname):
        return (
            f"{name} AS (SELECT vec_id, s, cid, e FROM ("
            f"SELECT v.vec_id, v.s, c.cid, v.e, ROW_NUMBER() OVER ("
            f"PARTITION BY v.vec_id, v.s "
            f"ORDER BY {_kmeans_dist_sql('v.e', 'c.c')} ASC, c.cid ASC) AS rn "
            f"FROM {subs0} v JOIN {cbname} c ON v.s = c.s) _t WHERE rn = 1)"
        )

    def update(aname, mname, cname):
        return (
            f"{mname} AS (SELECT s, cid, pos, "
            "CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mv FROM ("
            f"SELECT a.s, a.cid, UNNEST(a.e) AS val, "
            f"generate_subscripts(a.e, 1) AS pos FROM {aname} a) _u "
            "GROUP BY s, cid, pos), "
            f"{cname} AS (SELECT s, cid, list(mv ORDER BY pos) AS c "
            f"FROM {mname} GROUP BY s, cid)"
        )

    ctes = [] if src else [
        "v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e "
        f"FROM embeddings{where})"
    ]
    ctes += [
        f"{subs0} AS (SELECT vec_id, s, "
        f"list_slice(e, 1 + s * {sub_len}, {sub_len} + s * {sub_len}) AS e "
        f"FROM {src or 'v0'}, UNNEST(range(0, {n_subs})) AS _t(s))",
        # subvectors of the k SMALLEST distinct vec_ids present
        # (pq_fit's init twin, r12): rank, not a dense-id threshold
        f"{P}cb0 AS (SELECT s, vec_id AS cid, e AS c FROM {subs0} "
        f"WHERE vec_id <= (SELECT MAX(vec_id) FROM (SELECT DISTINCT vec_id "
        f"FROM {subs0} ORDER BY vec_id LIMIT {k}) _i0))",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(assign(f"{P}a{i}", f"{P}cb{i - 1}"))
        ctes.append(update(f"{P}a{i}", f"{P}m{i}", f"{P}cb{i}"))
    ctes.append(assign(f"{P}afinal", f"{P}cb{n_iter}"))
    return ctes, f"{P}cb{n_iter}", f"{P}afinal"


def _ann_pq_trained_oracle(
    n_subs: int = 8,
    sub_len: int = 8,
    n_codes: int = 16,
    n_iter: int = 2,
    n_queries: int = 5,
    k: int = 5,
    where: str = "",
) -> str:
    """``where`` restricts the vector source — the PQ re-quantize
    oracle (catalog_r12) reuses this whole text over the surviving
    set, pairing the persisted retrain with the in-query formulation."""
    ctes, cb, afinal = _pq_ctes(n_subs, sub_len, n_codes, n_iter, where=where)
    q_lo, q_hi = n_codes, n_codes + n_queries
    d_query = (
        "ROUND(list_dot_product(q.e, q.e) - 2 * list_dot_product(q.e, c.c)"
        " + list_dot_product(c.c, c.c), 9)"
    )
    ctes = ctes + [
        f"q AS (SELECT vec_id AS qid, s, e FROM subs0 "
        f"WHERE vec_id >= {q_lo} AND vec_id < {q_hi})",
        f"dtab AS (SELECT q.qid, c.s, c.cid, "
        f"CAST({d_query} AS DECIMAL(18,9)) AS d FROM q JOIN {cb} c ON q.s = c.s)",
        f"adc AS (SELECT dt.qid, a.vec_id AS nid, CAST(SUM(dt.d) AS DOUBLE) AS dist "
        f"FROM {afinal} a JOIN dtab dt ON dt.s = a.s AND dt.cid = a.cid "
        "WHERE a.vec_id <> dt.qid GROUP BY dt.qid, a.vec_id)",
        "ranked AS (SELECT qid, nid, ROUND(dist, 6) AS adc_dist, "
        "ROW_NUMBER() OVER (PARTITION BY qid "
        "ORDER BY ROUND(dist, 6) ASC, nid ASC) AS rnk FROM adc)",
    ]
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT qid AS query_id, nid AS neighbor_id, adc_dist, "
        f"CAST(rnk AS BIGINT) AS rnk FROM ranked WHERE rnk <= {k}"
    )


def ann_ivfpq_residual_q(
    spark: SparkSession,
    sf_dir: str,
    dim: int = 64,
    n_cent: int = 4,
    n_probe: int = 2,
    n_subs: int = 8,
    n_codes: int = 16,
    n_iter: int = 2,
    n_queries: int = 5,
    k: int = 5,
) -> DataFrame:
    """RESIDUAL-encoded trained IVF-PQ — the full FAISS-IVFADC recipe,
    upgrading `ann_ivfpq_topk`'s documented simplification: k-means
    cells (kmeans_fit), PQ codebooks trained on the RESIDUALS v −
    centroid(v) (pq_fit over residual subvectors — residuals concentrate
    near 0, which is why production codebooks encode them), and
    per-(query, probed-cell) distance tables over the RESIDUAL query
    q − centroid(cell) — the cell-dependent dtab is the part the
    raw-vector composition skips.  At 100 TB: train once, store cells +
    codes; a query touches n_probe cells' codes and a broadcast
    queries×probes×subs×codes distance table.

    Determinism: both Lloyd chains use the shared rounded-distance total
    order and decimal-exact means; residual arithmetic is elementwise
    double subtraction (identical in both engines); ADC sums accumulate
    DECIMAL(18,9).  The oracle unrolls BOTH chains in one statement —
    `_pq_ctes` namespaced behind the `_kmeans_ctes` names.

    Measured recall@5 vs exact L2: 0.20 / 0.20 (sf0.001 / sf0.01) —
    identical to the raw-vector composition, as expected: on
    UNIFORM-RANDOM fixtures residuals have the same distribution as the
    vectors, so residual encoding buys nothing here.  Its payoff is on
    clustered production embeddings, where residuals concentrate near 0
    and the same code budget quantizes far finer — this entry pins the
    full recipe's CORRECTNESS and plan shape, not a fixture-specific
    recall win (the honest claim)."""
    from pyspark.sql import Window

    from .functions.clustering import (
        _dot,
        assign_clusters,
        assign_codebook,
        kmeans_fit,
        pq_fit,
    )

    sub_len = dim // n_subs
    e = Tables(spark, sf_dir).embeddings
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cents = kmeans_fit(vecs, k=n_cent, n_iter=n_iter).localCheckpoint(eager=True)
    assigned = assign_clusters(vecs, cents).localCheckpoint(eager=True)
    res = assigned.join(F.broadcast(cents), "cid").select(
        "vec_id",
        "cid",
        F.zip_with("e", "c", lambda x, y: x - y).alias("re"),
    )
    rsubs = res.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_subs - 1))).alias("s"),
        "re",
    ).select(
        "vec_id", "s", F.expr(f"slice(re, 1 + s * {sub_len}, {sub_len})").alias("e")
    )
    cb = pq_fit(rsubs, k=n_codes, n_iter=n_iter).localCheckpoint(eager=True)
    codes = (
        assign_codebook(rsubs, cb)
        .select("vec_id", "s", F.col("cid").alias("code"))
        .join(assigned.select("vec_id", "cid"), "vec_id")
        .localCheckpoint(eager=True)
    )

    q_lo = max(n_cent, n_codes)
    q_hi = q_lo + n_queries
    q = vecs.filter(
        (F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi)
    ).select(F.col("vec_id").alias("qid"), F.col("e").alias("qe0"))
    distc = F.round(
        _dot(F.col("qe0"), F.col("qe0"))
        - 2 * _dot(F.col("qe0"), F.col("c"))
        + _dot(F.col("c"), F.col("c")),
        6,
    )
    wq = Window.partitionBy("qid").orderBy(distc.asc(), F.col("cid").asc())
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select(
            "qid",
            "cid",
            F.zip_with("qe0", "c", lambda x, y: x - y).alias("qre"),
        )
    )
    qsubs = probes.select(
        "qid",
        "cid",
        F.explode(F.sequence(F.lit(0), F.lit(n_subs - 1))).alias("s"),
        "qre",
    ).select(
        "qid",
        "cid",
        "s",
        F.expr(f"slice(qre, 1 + s * {sub_len}, {sub_len})").alias("qe"),
    )
    cb2 = cb.select("s", F.col("cid").alias("code"), "c")
    d = F.round(
        _dot(F.col("qe"), F.col("qe"))
        - 2 * _dot(F.col("qe"), F.col("c"))
        + _dot(F.col("c"), F.col("c")),
        9,
    ).cast("decimal(18,9)")
    dtab = qsubs.join(F.broadcast(cb2), "s").select(
        "qid", "cid", "s", "code", d.alias("d")
    )
    adc = (
        codes.join(F.broadcast(dtab), ["cid", "s", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("d").cast("double").alias("dist"))
    )
    wr = Window.partitionBy("qid").orderBy(
        F.round(F.col("dist"), 6).asc(), F.col("vec_id").asc()
    )
    return (
        adc.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.round(F.col("dist"), 6).alias("adc_dist"),
            "rnk",
        )
    )


def _ann_ivfpq_residual_oracle(
    n_cent: int = 4,
    n_probe: int = 2,
    n_subs: int = 8,
    sub_len: int = 8,
    n_codes: int = 16,
    n_iter: int = 2,
    n_queries: int = 5,
    k: int = 5,
    where: str = "",
) -> str:
    """``where`` (e.g. ``" WHERE vec_id % 6 <> 2"``) restricts the
    vector source to the SURVIVING set — the IVF-PQ re-quantize oracle
    (catalog_r12) reuses this whole text over survivors, exactly as the
    IVF/PQ retrain oracles reuse theirs."""
    kctes, cents, afinal = _kmeans_ctes(n_cent, n_iter, where=where)
    res = (
        "res0 AS (SELECT a.vec_id, a.cid, "
        "list_transform(range(1, len(a.e) + 1), i -> a.e[i] - c.c[i]) AS e "
        f"FROM {afinal} a JOIN {cents} c ON c.cid = a.cid)"
    )
    pctes, cb, pafinal = _pq_ctes(
        n_subs, sub_len, n_codes, n_iter, prefix="r", src="res0"
    )
    q_lo = max(n_cent, n_codes)
    q_hi = q_lo + n_queries
    d_query = (
        "ROUND(list_dot_product(qs.qe, qs.qe) - 2 * list_dot_product(qs.qe, cb.c)"
        " + list_dot_product(cb.c, cb.c), 9)"
    )
    ctes = kctes + [res] + pctes + [
        f"q0 AS (SELECT vec_id AS qid, e FROM v0 "
        f"WHERE vec_id >= {q_lo} AND vec_id < {q_hi})",
        "probes AS (SELECT qid, cid, qre FROM ("
        "  SELECT q.qid, c.cid, "
        "  list_transform(range(1, len(q.e) + 1), i -> q.e[i] - c.c[i]) AS qre, "
        "  ROW_NUMBER() OVER (PARTITION BY q.qid "
        f"  ORDER BY {_kmeans_dist_sql('q.e', 'c.c')} ASC, c.cid ASC) AS rn "
        f"  FROM q0 q JOIN {cents} c ON 1 = 1) _p WHERE rn <= {n_probe})",
        f"qsubs AS (SELECT qid, cid, s, "
        f"list_slice(qre, 1 + s * {sub_len}, {sub_len} + s * {sub_len}) AS qe "
        f"FROM probes, UNNEST(range(0, {n_subs})) AS _t(s))",
        "dtab AS (SELECT qs.qid, qs.cid, cb.s, cb.cid AS code, "
        f"CAST({d_query} AS DECIMAL(18,9)) AS d "
        f"FROM qsubs qs JOIN {cb} cb ON cb.s = qs.s)",
        f"codes AS (SELECT pa.vec_id, pa.s, pa.cid AS code, co.cid "
        f"FROM {pafinal} pa JOIN (SELECT vec_id, cid FROM {afinal}) co "
        "ON co.vec_id = pa.vec_id)",
        "adc AS (SELECT dt.qid, cd.vec_id AS nid, "
        "CAST(SUM(dt.d) AS DOUBLE) AS dist "
        "FROM codes cd JOIN dtab dt "
        "ON dt.cid = cd.cid AND dt.s = cd.s AND dt.code = cd.code "
        "WHERE cd.vec_id <> dt.qid GROUP BY dt.qid, cd.vec_id)",
        "ranked AS (SELECT qid, nid, ROUND(dist, 6) AS adc_dist, "
        "ROW_NUMBER() OVER (PARTITION BY qid "
        "ORDER BY ROUND(dist, 6) ASC, nid ASC) AS rnk FROM adc)",
    ]
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT qid AS query_id, nid AS neighbor_id, adc_dist, "
        f"CAST(rnk AS BIGINT) AS rnk FROM ranked WHERE rnk <= {k}"
    )


def ann_ivfpq_persisted_q(
    spark: SparkSession,
    sf_dir: str,
    dim: int = 64,
    n_cent: int = 4,
    n_probe: int = 2,
    n_subs: int = 8,
    n_codes: int = 16,
    n_iter: int = 2,
    n_queries: int = 5,
    k: int = 5,
) -> DataFrame:
    """The residual IVF-PQ answered from a PERSISTED index
    (functions/clustering.py:ivfpq_build / ann_ivfpq_persisted_search):
    centroids + residual codebook + cid-partitioned codes land as
    parquet once, and every search runs entirely against the store —
    no Lloyd chain, no raw corpus floats on the query path.  Sharing
    `ann_ivfpq_residual_topk`'s oracle proves store-backed ==
    train-per-query bit-for-bit; this closes the persisted-index family:
    coarse cells (`ann_ivf_persisted_topk`), flat codes
    (`ann_pq_persisted_topk`), and now the composed production store."""
    import os
    import shutil
    import tempfile

    from .functions.clustering import ann_ivfpq_persisted_search, ivfpq_build

    sub_len = dim // n_subs
    e = Tables(spark, sf_dir).embeddings
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_ivfpq_index_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    ivfpq_build(vecs, path, n_cent, n_subs, sub_len, n_codes, n_iter)
    q_lo = max(n_cent, n_codes)
    q_hi = q_lo + n_queries
    q = vecs.filter(
        (F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi)
    ).select(F.col("vec_id").alias("qid"), F.col("e").alias("qe0"))
    return ann_ivfpq_persisted_search(
        spark, path, q, n_subs, sub_len, n_probe, topk=k
    )


def embedding_pca_q(
    spark: SparkSession, sf_dir: str, dim: int = 64, n_iter: int = 8
) -> DataFrame:
    """Top principal component of the embedding corpus by distributed
    covariance + power iteration — the dimensionality-reduction step of
    an embedding pipeline, expressed so the heavy part scales and the
    tiny part stays tiny:

    * mean + covariance are the distributed work: each row emits its d²
      centered products through nested JVM array transforms (NO
      self-join — the (vec⋈vec on id) formulation shuffles both explode
      sides and measured ~1.5× slower plus an extra count job), and the
      (i, j) aggregation
      sums ROUND(xcᵢ·xcⱼ, 12) as DECIMAL(28,12) — map-side combine
      ships at most d² partial rows per partition, and the decimal
      accumulation makes the result independent of row order and
      partitioning (the property the DuckDB oracle needs);
    * the d×d matrix (4096 doubles) is checkpointed once and the 8 power
      iterations run as broadcast joins over it — each round is a
      matvec + norm on 64 rows, localCheckpoint keeps lineage flat.

    Init is the uniform unit vector (1/√d each) — fully deterministic,
    so the eigenvector SIGN is deterministic too.  Output: (pos,
    loading, eigval) with loadings/eigenvalue rounded to 6 dp.  At
    100 TB the explode-based product stage swaps for a numpy
    Xᶜᵀ·Xᶜ mapInPandas kernel (order-dependent float sums — fine when
    bit-stability across engines is not the gate).

    Convergence honesty: the random fixture's covariance spectrum is
    near-flat (λ1/λ2 ≈ 1.07), so 8 rounds only PARTIALLY converge there
    — both engines partially converge identically (that is what the
    parity gate checks).  On data with a real dominant direction the
    same 8 rounds converge to ~1e-8; tests/test_round2.py verifies the
    algorithm against numpy's eigendecomposition on a planted-spike
    corpus (|cos| ≥ 0.99, eigenvalue within 1%)."""
    import math

    e = Tables(spark, sf_dir).embeddings
    x = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    mu = x.groupBy("pos").agg(
        (
            F.sum(F.col("val").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    )
    mu_arr = mu.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mu"))), lambda s: s["mu"]
        ).alias("mu_arr")
    )
    pairs = (
        e.select(F.col("embedding").cast("array<double>").alias("e"))
        .crossJoin(F.broadcast(mu_arr))
        .select(F.zip_with("e", "mu_arr", lambda a, b: a - b).alias("xc"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(xc, (vi, i) -> transform(xc, (vj, j) -> "
                    "struct(i AS i, j AS j, round(vi * vj, 12) AS p))))"
                )
            ).alias("t")
        )
        .select("t.i", "t.j", "t.p")
    )
    cov = (
        pairs.groupBy("i", "j")
        .agg(
            (
                F.sum(F.col("p").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("c")
        )
        # the iteration state is tiny (d² and d rows): collapse to one
        # partition before each checkpoint so a plain 200-partition
        # session doesn't write 200 blocks per round
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    v = spark.range(dim).select(
        F.col("id").cast("int").alias("pos"), F.lit(1.0 / math.sqrt(dim)).alias("val")
    )
    nrm = None
    for _ in range(n_iter):
        w = (
            cov.join(F.broadcast(v), cov["j"] == v["pos"])
            .groupBy("i")
            .agg(
                F.sum(
                    F.round(F.col("c") * F.col("val"), 12).cast("decimal(28,12)")
                )
                .cast("double")
                .alias("wv")
            )
        )
        # nrm stays LAZY: it is consumed once inside v's job, and w (a
        # 4096-row broadcast join) is cheap to evaluate twice within one
        # plan — an eager checkpoint here would double the job count of
        # the whole loop for no lineage benefit (v's checkpoint cuts it)
        nrm = w.agg(
            F.sqrt(
                F.sum(
                    F.round(F.col("wv") * F.col("wv"), 12).cast("decimal(28,12)")
                ).cast("double")
            ).alias("nrm")
        )
        v = (
            w.crossJoin(F.broadcast(nrm))
            .select(
                F.col("i").alias("pos"),
                F.round(F.col("wv") / F.col("nrm"), 12).alias("val"),
            )
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
    return v.crossJoin(F.broadcast(nrm)).select(
        "pos",
        F.round(F.col("val"), 6).alias("loading"),
        F.round(F.col("nrm"), 6).alias("eigval"),
    )


def _embedding_pca_oracle(dim: int = 64, n_iter: int = 8) -> str:
    """Unrolled power iteration (same decimal-exact covariance and
    per-round rounding as embedding_pca_q)."""
    init = 1.0 / dim**0.5
    # every iteration CTE is MATERIALIZED: w{t} is referenced twice
    # (matvec + norm) and chains n_iter deep — DuckDB's default CTE
    # inlining re-expands the whole upstream tree per reference, which
    # is exponential in n_iter (observed as a hang at n_iter=8)
    ctes = [
        "v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        "x AS MATERIALIZED (SELECT vec_id, generate_subscripts(e, 1) - 1 AS pos, "
        "UNNEST(e) AS val FROM v0)",
        "mu AS (SELECT pos, CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) "
        "/ COUNT(*) AS mu FROM x GROUP BY pos)",
        "xc AS MATERIALIZED (SELECT vec_id, x.pos, val - mu.mu AS v FROM x "
        "JOIN mu ON x.pos = mu.pos)",
        "nrows AS (SELECT COUNT(*) AS n FROM v0)",
        "cov AS MATERIALIZED (SELECT a.pos AS i, b.pos AS j, "
        "CAST(SUM(CAST(ROUND(a.v * b.v, 12) AS DECIMAL(28,12))) AS DOUBLE) "
        "/ (SELECT n FROM nrows) AS c "
        "FROM xc a JOIN xc b ON a.vec_id = b.vec_id GROUP BY a.pos, b.pos)",
        f"p0 AS (SELECT DISTINCT pos, CAST({init!r} AS DOUBLE) AS val FROM x)",
    ]
    for t in range(1, n_iter + 1):
        ctes.append(
            f"w{t} AS MATERIALIZED (SELECT i, "
            "CAST(SUM(CAST(ROUND(c * val, 12) AS DECIMAL(28,12))) AS DOUBLE) AS wv "
            f"FROM cov JOIN p{t - 1} ON j = pos GROUP BY i)"
        )
        ctes.append(
            f"n{t} AS MATERIALIZED (SELECT sqrt(CAST(SUM(CAST(ROUND(wv * wv, 12) "
            f"AS DECIMAL(28,12))) AS DOUBLE)) AS nrm FROM w{t})"
        )
        ctes.append(
            f"p{t} AS MATERIALIZED (SELECT i AS pos, "
            f"ROUND(wv / (SELECT nrm FROM n{t}), 12) AS val FROM w{t})"
        )
    return (
        "WITH " + ", ".join(ctes) + " "
        f"SELECT pos, ROUND(val, 6) AS loading, "
        f"(SELECT ROUND(nrm, 6) FROM n{n_iter}) AS eigval FROM p{n_iter}"
    )


def _clean_corpus_oracle(min_quality: float = 0.55) -> str:
    from .operators.sampling import split_case_sql

    q = X.quality_score_sql(DUCK)
    case = split_case_sql("d.doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, dialect="duck")
    return f"""
WITH scores AS ({q}),
qdocs AS (
  SELECT d.* FROM documents d JOIN scores s ON d.doc_id = s.doc_id
  WHERE s.quality_score >= {min_quality}),
keep AS (SELECT MIN(doc_id) AS doc_id FROM qdocs GROUP BY md5(text)),
d AS (SELECT q.* FROM qdocs q JOIN keep k ON q.doc_id = k.doc_id)
SELECT {case} AS split, COUNT(*) AS n_docs,
  CAST(SUM(d.n_chars) AS BIGINT) AS chars
FROM d GROUP BY 1
"""


def _stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (streaming/events.py)."""
    from .streaming.events import enriched_counts

    return enriched_counts(spark, sf_dir)


def _stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting (streaming/events.py:
    late_data_accounting): three-micro-batch replay — two on-time
    files (the middle one advances the lagging late-input filter
    watermark, SPARK-24156), then a day of events weeks behind it,
    dropped before the aggregation; append mode emits exactly the
    windows the final watermark closed.  Oracle: windows over the
    on-time subset with window_end <= max(on_time_ts) - 1h."""
    from .streaming.events import late_data_accounting

    return late_data_accounting(spark, sf_dir)


_STREAM_LATE_ORACLE = """
WITH on_time AS (
  SELECT ts FROM events WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'),
wm AS (
  SELECT CAST(floor(epoch(MAX(ts))) AS BIGINT) - 3600 AS w FROM on_time),
agg AS (
  SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS ws,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM on_time GROUP BY 1)
SELECT ws, n FROM agg CROSS JOIN wm WHERE ws + 300 <= wm.w
"""


def _stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-side as-of enrichment against an SCD2 versioned dim
    (streaming/events.py:asof_enriched_stream): the correlated
    latest-version-at-or-before-ts becomes a batch-side interval-ized
    dim + a STATELESS stream-static range join (no state store, no
    watermark, append mode)."""
    from .streaming.events import asof_enriched_stream

    return asof_enriched_stream(spark, sf_dir)


_STREAM_ASOF_ORACLE = """
WITH dim AS (
  SELECT n_nationkey AS nk,
         n_name || '/v' || CAST(k AS VARCHAR) AS attr,
         TIMESTAMP '2024-01-01 00:00:00'
           + (n_nationkey % 5) * INTERVAL 1 HOUR
           + k * (3 + n_nationkey % 3) * INTERVAL 1 DAY AS valid_from
  FROM nation, UNNEST(range(0, 10)) t(k)),
iv AS (
  SELECT nk, attr, valid_from,
         LEAD(valid_from) OVER (PARTITION BY nk ORDER BY valid_from) AS valid_until
  FROM dim)
SELECT e.event_id, e.user_id,
       CAST(floor(epoch(e.ts)) AS BIGINT) AS ets, iv.attr
FROM events e
LEFT JOIN iv ON e.user_id % 25 = iv.nk
  AND e.ts >= iv.valid_from
  AND (iv.valid_until IS NULL OR e.ts < iv.valid_until)
"""


def multimodal_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage of the media pipeline (deterministic stand-in kernel;
    real resampler stubbed behind PIL — functions/multimodal.py)."""
    from .functions.multimodal import documents_as_media, fake_resize_meta

    media = documents_as_media(Tables(spark, sf_dir).documents).repartition(8, "media_id")
    return fake_resize_meta(media)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling stage of the media pipeline: one row per sampled
    timestamp with a per-frame digest (deterministic stand-in kernel via
    mapInPandas; the real av/ffmpeg decoder is stubbed —
    functions/multimodal.py:fake_frame_sample).  The synthetic duration
    model (10 ms/byte) is part of the oracle contract."""
    from .functions.multimodal import documents_as_timed_media, fake_frame_sample

    media = documents_as_timed_media(Tables(spark, sf_dir).documents).repartition(
        8, "media_id"
    )
    return fake_frame_sample(media, every_ms=5000)


_FRAME_SAMPLE_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id, md5(text) AS base,
         octet_length(encode(text)) * 10 AS dur
  FROM documents)
SELECT media_id, CAST(5000 * j AS BIGINT) AS frame_ts_ms,
       md5(base || ':' || CAST(5000 * j AS VARCHAR)) AS frame_digest
FROM m, UNNEST(range(0, CAST(ceil(dur / 5000.0) AS BIGINT))) t(j)
"""


def media_dedup_digest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup on the blob content digest (binary analogue of
    dedup_exact; functions/multimodal.py:media_dedup_by_digest) — the
    shuffle carries (digest, id), never blobs."""
    from .functions.multimodal import documents_as_media, media_dedup_by_digest

    return media_dedup_by_digest(documents_as_media(Tables(spark, sf_dir).documents))


_MEDIA_DEDUP_ORACLE = """
SELECT md5(text) AS digest, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows (10 min window / 5 min slide): each event
    lands in exactly two windows; oracle expands both candidate starts."""
    from .streaming.events import sliding_counts

    return sliding_counts(spark, sf_dir, minutes=10, slide=5)


_STREAM_SLIDING_ORACLE = """
SELECT ws, COUNT(*) AS n FROM (
  SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - 300 * j AS ws
  FROM events, UNNEST(range(0, 2)) AS _t(j)
) GROUP BY ws
"""


def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap, ``F.session_window``);
    oracle reconstructs sessions with lag/cumsum: start = min ts,
    end = max ts + gap."""
    from .streaming.events import session_windows

    return session_windows(spark, sf_dir, gap_minutes=30)


_STREAM_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
    CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w IS NULL THEN 1
         WHEN epoch(ts) - LAG(epoch(ts)) OVER w > 1800 THEN 1
         ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
),
sessions AS (
  SELECT user_id, ts,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT) AS ss,
  CAST(floor(epoch(MAX(ts))) AS BIGINT) + 1800 AS se,
  user_id, COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter → orders⋈lineitem with date
    predicates on both sides → top-10 orders by revenue.  Both filters
    push to their scans; customer is broadcast; the deterministic top-k
    key is (revenue DESC, orderkey ASC)."""
    t = Tables(spark, sf_dir)
    joined = (
        t.customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(t.orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < "1997-01-01")
        .join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > "1997-01-01")
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        dsum_revenue().alias("revenue")
    )
    return (
        agg.select(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("odate"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


_Q3_ORACLE = """
SELECT l_orderkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS odate,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with ≥1 late lineitem (EXISTS with a
    correlated inequality → conditional left-semi join), counted by
    priority."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_shipdate")
    cond = (F.col("o_orderkey") == F.col("l_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate")
    )
    return (
        t.orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


# the last persisted cross-lingual band table: unpersisted BEFORE the next
# build persists its own, because persisting a plan the cache already
# holds is a no-op and unpersisting afterwards would drop both
_last_bands: list = []


def _minhash_lsh_pairs_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs from the single-pass band table (the
    pure-SQL formulation recomputes the signature pipeline per band and
    per join side under CTE inlining).  Both join sides shuffle the same
    band plan on (band, sig), so AQE computes it once and reuses the
    exchange; the plan keeps the budgeted 4 exchanges without a cached
    copy.  (A persisted band table, dropped by the next build, made the
    first build in a session run 24 jobs and every later one 20.)
    Oracle: the single-statement UNION-ALL formulation
    (functions/dedup.py:minhash_lsh_pairs_sql)."""
    register_views(spark, sf_dir)
    bands = spark.sql(D.minhash_bands_sql(SPARK))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _crosslingual_pairs_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual LSH candidates: the (doc, lang, band, sig) table is
    computed ONCE and persisted before the self-join.  Unpersisted, the
    self-join plans the signature and language pipelines on each side:
    7 exchanges against a budget of 5.
    Algorithm/oracle: functions/dedup.py:crosslingual_lsh_pairs_sql."""
    from .functions.text import lang_select_sql

    register_views(spark, sf_dir)
    bands = spark.sql(D.minhash_bands_sql(SPARK))
    langs = spark.sql(
        f"SELECT doc_id, pred_lang FROM ({lang_select_sql(SPARK)}) _l"
    )
    while _last_bands:
        _last_bands.pop().unpersist()
    lbands = bands.join(langs, "doc_id").persist()
    _last_bands.append(lbands)
    a, b = lbands.alias("a"), lbands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.pred_lang") == F.col("b.pred_lang"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pred_lang").alias("lang"),
        )
        .distinct()
    )


def train_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split of documents by content-hash
    ranges (operators/sampling.py) — membership is a pure function of
    doc_id, stable under any repartitioning.  Output: per-split counts +
    char volume."""
    from .operators.sampling import split_by_hash

    docs = Tables(spark, sf_dir).documents
    out = split_by_hash(
        docs, key="doc_id", fractions={"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )


def _train_split_oracle() -> str:
    from .operators.sampling import split_case_sql

    case = split_case_sql(
        "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, dialect="duck"
    )
    return (
        f"SELECT {case} AS split, COUNT(*) AS n, "
        "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents GROUP BY 1"
    )


def sample_by_hash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% deterministic sample of lineitem by orderkey hash — the
    repartition-stable sample (engine-RNG `df.sample` is partitioning-
    dependent; this is a pure key function)."""
    from .operators.sampling import sample_by_hash

    li = Tables(spark, sf_dir).lineitem
    out = sample_by_hash(li, key="l_orderkey", fraction=0.1, salt="s1")
    return out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
    )


def _sample_oracle() -> str:
    from .operators.sampling import sample_predicate_sql

    pred = sample_predicate_sql("l_orderkey", 0.1, salt="s1").replace(
        "AS STRING", "AS VARCHAR"
    )
    return (
        f"SELECT l_returnflag, COUNT(*) AS n, "
        "CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders "
        f"FROM lineitem WHERE {pred} GROUP BY 1"
    )


def merge_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert (CDC pattern; operators/merge.py): every 100th order
    arrives as an update with doubled price; merged = updates ∪
    untouched.  Verified through the post-merge aggregate."""
    from .operators.merge import upsert

    o = Tables(spark, sf_dir).orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = o.filter(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_totalprice",
        (F.col("o_totalprice").cast("decimal(18,6)") * 2).cast("double"),
    )
    merged = upsert(o, updates, key="o_orderkey")
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total")
    )


_MERGE_ORACLE = """
WITH updates AS (
  SELECT o_orderkey, o_orderstatus,
    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 2 AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey % 100 = 0),
merged AS (
  SELECT * FROM updates
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % 100 <> 0)
SELECT o_orderstatus, COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM merged GROUP BY o_orderstatus
"""


def dedup_components_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: connected components (min-label
    propagation, operators/graph.py) over the MinHash-LSH candidate
    graph; every document labeled with its component (singletons keep
    their own id).  Oracle: recursive-CTE transitive closure over the
    same pairs."""
    from .operators.graph import connected_components

    register_views(spark, sf_dir)
    pairs = _minhash_lsh_pairs_fn(spark, sf_dir)
    docs = spark.table("documents").select("doc_id")
    cc = connected_components(
        docs, pairs, node_col="doc_id", src="doc_a", dst="doc_b"
    )
    return cc.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


def _dedup_components_oracle() -> str:
    pairs = D.minhash_lsh_pairs_sql(DUCK)
    return f"""
WITH RECURSIVE pairs AS (SELECT * FROM ({pairs}) _p),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
cc(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, cc.label FROM cc JOIN edges e ON e.src = cc.node
)
SELECT node AS doc_id, MIN(label) AS component FROM cc GROUP BY node
"""
