"""Round-9 wave-11 builders: the exact bitmap presence index (bit-packed
user bitmaps -> exact DAU / day-over-day retention and exact pairwise
audience Jaccard via popcounts), decimal-exact PageRank over the LSH
candidate graph (entry glue — the power iteration lives in
operators/graph.py), a Kaplan-Meier repurchase survival curve, lagged
cross-correlation of two daily series, CUSUM changepoint detection,
per-segment OLS revenue trend, the correlated-scalar-subquery surface,
a value-grain EXACT equi-depth histogram, and a Benford leading-digit
deviation report.  Builders only — registration and ``DRIVER_HEAD``
stay in catalog.py (the r8 split's convention).

Engine facts these builders rely on (probed this session, both engines):
``BIT_OR``/``BIT_AND`` aggregates, ``bit_count``, ``<<``, ``&``, ``|``,
``~`` agree on BIGINT (incl. bit_count(-1) = 64); ``NTILE`` splits
identically; correlated scalar subqueries evaluate identically;
``CAST(decimal AS STRING)`` renders the same text; ``LEAST`` over
BIGINT is safe (the r9b LEAST-decimal->DOUBLE trap is decimal-only).
The ONE integer-division split: DuckDB ``CAST(7/2 AS INT)`` ROUNDS to 4
where Spark truncates to 3 — integer division is always spelled
``DIV`` (Spark) / ``//`` (DuckDB), never a cast.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog_base import register_views
from .functions.portable import DUCK, SPARK, days_since_epoch, lateral_seq
from .session import register_temp_view


def _idiv(a: str, b: str, dialect: str) -> str:
    """Portable floor-toward-zero integer division (nonnegative operands
    here, so DIV and // agree exactly)."""
    return f"({a} DIV {b})" if dialect == SPARK else f"({a} // {b})"


def _dmom(expr: str) -> str:
    """Exact-sum moment cast through (38,6) to DOUBLE — the
    grouped_corr_sql discipline (identical operands -> identical IEEE
    results downstream)."""
    return f"CAST(CAST(SUM({expr}) AS DECIMAL(38,6)) AS DOUBLE)"


# ------------------------------------------------------------------ #
# exact bitmap presence index — bit-packed user-id bitmaps
# ------------------------------------------------------------------ #

def _bitmap_cte(key: str, dialect: str) -> str:
    """(key, word, bm) bitmap table: user ids packed 62 per BIGINT word
    (62, not 64, keeps every mask strictly positive — no sign-bit edge
    cases in either engine).  One distinct pass + one BIT_OR aggregate:
    |keys| * ceil(max_id/62) rows replace |keys| * |users| presence
    rows — the exact-cardinality analogue of the HLL store (a roaring
    bitmap without the compression tiers)."""
    w = _idiv("user_id", "62", dialect)
    return (
        f"p AS (SELECT DISTINCT {key} AS k, {w} AS word, "
        "CAST(user_id % 62 AS INT) AS bit FROM events), "
        "bm AS (SELECT k, word, BIT_OR(CAST(1 AS BIGINT) << bit) AS bm "
        "FROM p GROUP BY k, word)"
    )


def _retention_final_sql(bm: str) -> str:
    """Retention report over a (k=day, word, bm) bitmap relation —
    shared verbatim by the Spark form (``bm`` = the checkpointed view)
    and the oracle (``bm`` = the nested CTE)."""
    return f"""
daily AS (
  SELECT k AS day, CAST(SUM(bit_count(bm)) AS BIGINT) AS dau
  FROM {bm} GROUP BY k),
ret AS (
  SELECT a.k AS prev_day,
    CAST(SUM(bit_count(a.bm & b.bm)) AS BIGINT) AS retained
  FROM {bm} a JOIN {bm} b ON b.k = a.k + 1 AND b.word = a.word
  GROUP BY a.k)
SELECT d1.day AS prev_day, d2.day AS day, d1.dau AS prev_dau, d2.dau AS dau,
  COALESCE(r.retained, CAST(0 AS BIGINT)) AS retained,
  d1.dau - COALESCE(r.retained, CAST(0 AS BIGINT)) AS churned,
  d2.dau - COALESCE(r.retained, CAST(0 AS BIGINT)) AS new_users
FROM daily d1 JOIN daily d2 ON d2.day = d1.day + 1
LEFT JOIN ret r ON r.prev_day = d1.day
"""


def bitmap_presence_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day EXACT retention from the bitmap presence index:
    retained = popcount(day_i AND day_{i+1}) summed over words; churned
    and new users follow by subtraction from the exact DAU popcounts
    (so words present on only one side need no outer join).

    Scale design: the fact table collapses to |days| * |user_words|
    bitmap rows in ONE distinct + BIT_OR pass, eagerly checkpointed —
    the report references the bitmap table 4 times, and Spark's CTE
    inlining would recompute the fact-scale build per reference (the
    house rule).  The consecutive-day comparison is then a narrow
    equi-join on (word) between adjacent days — shuffle input is
    bitmap words, never user-grain rows; popcount is a JVM intrinsic.
    This is the exact counterpart of ``hll_rolling_7day``."""
    register_views(spark, sf_dir)
    day = days_since_epoch("ts", SPARK)
    v = register_temp_view(
        spark.sql(
            f"WITH {_bitmap_cte(day, SPARK)} SELECT * FROM bm"
        ).localCheckpoint(eager=True),
        "_bm_day",
    )
    return spark.sql("WITH " + _retention_final_sql(v))


def bitmap_presence_retention_oracle() -> str:
    day = days_since_epoch("ts", DUCK)
    return f"WITH {_bitmap_cte(day, DUCK)}, {_retention_final_sql('bm')}"


def _jaccard_final_sql(bm: str) -> str:
    """Pairwise-Jaccard report over a (k=type, word, bm) bitmap relation
    — shared by the Spark checkpoint form and the oracle's nested CTE."""
    return f"""
tot AS (SELECT k AS et, CAST(SUM(bit_count(bm)) AS BIGINT) AS n
        FROM {bm} GROUP BY k),
inter AS (
  SELECT a.k AS et_a, b.k AS et_b,
    CAST(SUM(bit_count(a.bm & b.bm)) AS BIGINT) AS n_both
  FROM {bm} a JOIN {bm} b ON a.word = b.word AND a.k < b.k
  GROUP BY a.k, b.k)
SELECT ta.et AS et_a, tb.et AS et_b,
  COALESCE(i.n_both, CAST(0 AS BIGINT)) AS n_both, ta.n AS n_a, tb.n AS n_b,
  ROUND(CAST(COALESCE(i.n_both, 0) AS DOUBLE)
    / (ta.n + tb.n - COALESCE(i.n_both, 0)), 6) AS jaccard
FROM tot ta JOIN tot tb ON ta.et < tb.et
LEFT JOIN inter i ON i.et_a = ta.et AND i.et_b = tb.et
"""


def bitmap_audience_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT pairwise audience Jaccard between event types via bitmap
    popcounts: |A AND B| from the word-aligned join, |A OR B| by
    inclusion-exclusion from the per-type exact totals — the exact
    counterpart of ``theta_sketch_intersection`` / the bitmap
    formulation of ``events_audience_overlap``.  The pair spine comes
    from the tiny totals table, so zero-intersection pairs still emit
    an exact 0.  The bitmap build is checkpointed once (3 references —
    same inlining rule as the retention entry); the word-aligned
    self-join shuffles bitmap words, never user-grain rows."""
    register_views(spark, sf_dir)
    v = register_temp_view(
        spark.sql(
            f"WITH {_bitmap_cte('event_type', SPARK)} SELECT * FROM bm"
        ).localCheckpoint(eager=True),
        "_bm_et",
    )
    return spark.sql("WITH " + _jaccard_final_sql(v))


def bitmap_audience_jaccard_oracle() -> str:
    return f"WITH {_bitmap_cte('event_type', DUCK)}, {_jaccard_final_sql('bm')}"


# ------------------------------------------------------------------ #
# PageRank over the LSH candidate graph
# ------------------------------------------------------------------ #

def candidate_graph_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank nodes of the MinHash-LSH candidate graph — "which
    documents sit at the center of the near-duplicate web" (the
    importance ranking used to pick cluster representatives / audit
    boilerplate hubs).  The decimal-exact power iteration lives in
    operators/graph.py:pagerank (ROUND-before-sum quantization makes
    the shuffle-order-sensitive sums exact, so the DuckDB unrolled-CTE
    oracle hash-matches every iteration); the top-20 spine is
    ORDER BY + LIMIT (TakeOrderedAndProject — the house rule)."""
    from .catalog_r9b import _lsh_candidate_edges
    from .operators.graph import pagerank

    register_views(spark, sf_dir)
    ranks = pagerank(_lsh_candidate_edges(spark), "doc_a", "doc_b", iters=3)
    return (
        ranks.orderBy(F.col("r").desc(), "v")
        .limit(20)
        .select(
            F.col("v").alias("doc_id"), F.col("r").cast("double").alias("pr")
        )
    )


def candidate_graph_pagerank_oracle() -> str:
    """The same 3 power iterations unrolled as a CTE chain over the
    single-pass LSH pair SQL — identical arithmetic sequence
    (ROUND(rank/deg, 12) -> DECIMAL(32,12) -> exact SUM -> damping
    re-round), so the match proves the iteration, not just the final
    ordering."""
    from .functions.dedup import minhash_lsh_pairs_sql

    def step(prev: str, cur: str) -> str:
        return (
            f"{cur} AS (SELECT dg.v, CAST(ROUND(CAST(0.15 AS DOUBLE)"
            " / (SELECT n FROM nn)"
            " + 0.85 * CAST(COALESCE(s.sc, 0) AS DOUBLE), 12)"
            " AS DECIMAL(32,12)) AS r"
            " FROM deg dg LEFT JOIN ("
            "SELECT sym.d AS v, SUM(CAST(ROUND(CAST(p.r AS DOUBLE) / dg2.deg,"
            " 12) AS DECIMAL(32,12))) AS sc"
            f" FROM {prev} p JOIN deg dg2 ON dg2.v = p.v"
            " JOIN sym ON sym.s = p.v"
            " GROUP BY sym.d) s ON s.v = dg.v)"
        )

    return f"""
WITH e0 AS ({minhash_lsh_pairs_sql(DUCK)}),
sym AS (SELECT doc_a AS s, doc_b AS d FROM e0
        UNION ALL SELECT doc_b, doc_a FROM e0),
deg AS (SELECT s AS v, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY s),
nn AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (SELECT v, CAST(ROUND(CAST(1.0 AS DOUBLE) / (SELECT n FROM nn), 12)
        AS DECIMAL(32,12)) AS r FROM deg),
{step("r0", "r1")},
{step("r1", "r2")},
{step("r2", "r3")}
SELECT v AS doc_id, CAST(r AS DOUBLE) AS pr
FROM r3 ORDER BY r3.r DESC, v LIMIT 20
"""


# ------------------------------------------------------------------ #
# Kaplan-Meier repurchase survival
# ------------------------------------------------------------------ #

def customer_survival_km_builder(dialect: str) -> str:
    """Kaplan-Meier survival curve of customer repurchase time: each
    consecutive order gap is an observed event, each customer's tail
    (last order -> horizon = global max order day) is right-CENSORED —
    the estimator the naive mean-gap statistic gets wrong.

    S(t) = prod_{t' <= t, events} (1 - d/n) computed as
    exp(exact running sum of ROUND(ln(1 - d/n), 9) decimals) — the ln
    rounding discipline; a d = n final time (survival exactly 0, where
    ln diverges) is carried as a flag through a second window SHARING
    the running-sum window's spec (one exchange, the clamped-ledger
    pattern).

    Scale shape: the per-customer LEAD window shuffles on customer id
    (co-partitioned with the fact key); everything after the duration
    GROUP BY lives on the distinct-duration table, bounded by the
    calendar span — the house rule for the two unpartitioned windows."""
    day = days_since_epoch("o_orderdate", dialect)
    return f"""
WITH o AS (SELECT o_custkey, {day} AS d FROM orders),
s AS (SELECT o_custkey, d,
        LEAD(d) OVER (PARTITION BY o_custkey ORDER BY d) AS nd
      FROM o),
dur AS (
  SELECT CASE WHEN nd IS NULL THEN (SELECT MAX(d) FROM o) - d
              ELSE nd - d END AS t,
         CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
  FROM s),
agg AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS d_events,
               CAST(COUNT(*) AS BIGINT) AS ending
        FROM dur GROUP BY t),
w AS (SELECT t, d_events,
        CAST(SUM(ending) OVER ()
          - COALESCE(SUM(ending) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            CAST(0 AS BIGINT)) AS BIGINT) AS n_risk
      FROM agg),
f AS (SELECT t, d_events, n_risk,
        CASE WHEN d_events < n_risk
             THEN CAST(ROUND(LN(CAST(1.0 AS DOUBLE)
                    - CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)), 9)
                  AS DECIMAL(20,9))
             ELSE CAST(0 AS DECIMAL(20,9)) END AS lnf,
        CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END AS dead
      FROM w WHERE d_events > 0),
k AS (SELECT t, d_events, n_risk,
        SUM(lnf) OVER (ORDER BY t) AS cum,
        MAX(dead) OVER (ORDER BY t) AS anydead
      FROM f)
SELECT CAST(t AS BIGINT) AS t_days, n_risk, d_events,
  CASE WHEN anydead = 1 THEN CAST(0.0 AS DOUBLE)
       ELSE ROUND(EXP(CAST(cum AS DOUBLE)), 6) END AS survival
FROM k
"""


# ------------------------------------------------------------------ #
# lagged cross-correlation of two daily series
# ------------------------------------------------------------------ #

def daily_series_crosscorr_builder(dialect: str) -> str:
    """Lead/lag structure between the click and purchase daily series:
    Pearson correlation of (clicks on day d, purchases on day d+k) for
    k in -3..3 — "does click volume lead purchase volume?".  Both
    series are integer counts, so every moment sum is exact
    (grouped_corr_sql discipline); the lag fan-out is a 7-row constant
    spine per day joined back on the 30-row daily table — bounded by
    the calendar, never fact-scale."""
    day = days_since_epoch("ts", dialect)
    x, y = "x", "y"
    return f"""
WITH d AS (
  SELECT {day} AS day,
    CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS x,
    CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS y
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1),
lagged AS (SELECT a.day, a.x, k FROM d a {lateral_seq("-3", "3", "k", dialect)}),
pairs AS (SELECT lg.k, lg.x, b.y
          FROM lagged lg JOIN d b ON b.day = lg.day + lg.k),
m AS (SELECT k, CAST(COUNT(*) AS DOUBLE) AS n,
  {_dmom(x)} AS sx, {_dmom(y)} AS sy, {_dmom(f"{x} * {y}")} AS sxy,
  {_dmom(f"{x} * {x}")} AS sxx, {_dmom(f"{y} * {y}")} AS syy
  FROM pairs GROUP BY k)
SELECT k AS lag_days, CAST(n AS BIGINT) AS n_days,
  ROUND((n * sxy - sx * sy)
    / SQRT(NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0)), 6)
    AS crosscorr
FROM m
"""


# ------------------------------------------------------------------ #
# CUSUM changepoint detection
# ------------------------------------------------------------------ #

def events_cusum_changepoint_builder(dialect: str) -> str:
    """CUSUM changepoint scan over the daily event-count series: the
    cumulative sum of deviations from the global mean peaks (in
    absolute value) at the most likely level-shift point.  The mean is
    quantized once (ROUND(total/n, 6) -> DECIMAL(18,6)) so the running
    deviation sum is exact decimal; top-5 |CUSUM| days via
    ORDER BY + LIMIT (TakeOrderedAndProject).  Both window stages run
    on the calendar-bounded daily table."""
    day = days_since_epoch("ts", dialect)
    return f"""
WITH d AS (SELECT {day} AS day, CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1),
t AS (SELECT day, n,
        CAST(ROUND(CAST(SUM(n) OVER () AS DOUBLE)
          / CAST(COUNT(*) OVER () AS DOUBLE), 6) AS DECIMAL(18,6)) AS mu
      FROM d),
c AS (SELECT day, n, mu,
        SUM(CAST(n AS DECIMAL(18,6)) - mu) OVER (ORDER BY day) AS cusum
      FROM t)
SELECT day, n, CAST(mu AS DOUBLE) AS mean_daily,
  CAST(cusum AS DOUBLE) AS cusum, CAST(ABS(cusum) AS DOUBLE) AS abs_cusum
FROM c ORDER BY ABS(cusum) DESC, day LIMIT 5
"""


# ------------------------------------------------------------------ #
# per-segment OLS revenue trend
# ------------------------------------------------------------------ #

def segment_monthly_trend_builder(dialect: str) -> str:
    """OLS revenue trend per market segment: slope / intercept / R^2 of
    monthly revenue against a month index — the grouped linear-model
    surface (reference arbitrary-``j`` aggregates) from exact decimal
    moments.  Monthly sums are dollar-quantized to DECIMAL(18,0) before
    the power sums so y*y stays inside BOTH engines' exact decimal
    multiply paths at any SF (DuckDB overflow-checks a decimal multiply
    against the operand width's own max — the r9b (18,4)-squared
    finding; 18 digits keeps even SF-1 monthly squares under 10^18).
    x is months-since-1992 as DECIMAL(6,0) — narrow operands, exact
    products; the moment formulas then run in IEEE on identical
    operands.  The series comes from the SHARED _monthly_series_sql
    stage — the Theil-Sen entry runs over the same text, which is
    what makes the two slopes directly comparable (review finding
    r9w20)."""
    mx = "CAST(mx AS DECIMAL(6,0))"
    return f"""
WITH my AS ({_monthly_series_sql()}),
m AS (SELECT segment, CAST(COUNT(*) AS DOUBLE) AS n,
  {_dmom(mx)} AS sx, {_dmom("y")} AS sy, {_dmom(f"{mx} * y")} AS sxy,
  {_dmom(f"{mx} * {mx}")} AS sxx, {_dmom("y * y")} AS syy
  FROM my GROUP BY segment)
SELECT segment, CAST(n AS BIGINT) AS n_months,
  ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6)
    AS slope_per_month,
  ROUND((sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * sx) / n, 6)
    AS intercept,
  ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
    / NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 6) AS r2
FROM m
"""


# ------------------------------------------------------------------ #
# correlated scalar subqueries
# ------------------------------------------------------------------ #

def nation_balance_report_builder(dialect: str) -> str:
    """Per-nation balance report written ENTIRELY as correlated scalar
    subqueries (count, max, and a share against a region-correlated
    total) — the surface data.table users write as ``dt[, .(x[match]),
    by]`` lookups.  Identical text in both engines; Catalyst's
    RewriteCorrelatedScalarSubquery turns each into a deduplicating
    aggregate + broadcast-able left join, NOT a per-row probe — the
    declarative form is what makes this scale."""
    bal = "CAST(c_acctbal AS DECIMAL(12,2))"
    return f"""
SELECT n.n_name AS nation,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
   WHERE c.c_nationkey = n.n_nationkey) AS n_cust,
  CAST((SELECT MAX({bal}) FROM customer c
        WHERE c.c_nationkey = n.n_nationkey) AS DOUBLE) AS max_bal,
  ROUND(CAST((SELECT SUM({bal}) FROM customer c
              WHERE c.c_nationkey = n.n_nationkey) AS DOUBLE)
    / NULLIF(CAST((SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) FROM
                   customer c2 JOIN nation n2
                     ON c2.c_nationkey = n2.n_nationkey
                   WHERE n2.n_regionkey = n.n_regionkey) AS DOUBLE), 0), 6)
    AS region_share
FROM nation n
"""


# ------------------------------------------------------------------ #
# value-grain EXACT equi-depth histogram
# ------------------------------------------------------------------ #

def docs_equidepth_bands_builder(dialect: str) -> str:
    """EXACT equi-depth (quartile) histogram of document length per
    source: band boundaries fall on whole values, assigned by pure
    integer arithmetic band = floor(4 * rows_before / total) + 1 — no
    floating point anywhere, so both engines agree bit-for-bit.

    Scale design: this is the scalable exact-quantile shape (the
    weighted-median two-phase family): the fact table collapses to the
    (source, value) grain in one hash aggregate, and the cumulative
    window runs over that DISTINCT-VALUE table — bounded by the value
    domain, never row count (NTILE over raw rows would be a full
    per-source sort; this never sorts more than |distinct lengths|)."""
    idv = _idiv("((cum - c) * 4)", "tot", dialect)
    return f"""
WITH vc AS (SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
            FROM documents GROUP BY 1, 2),
w AS (SELECT source, v, c,
        CAST(SUM(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum,
        CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS tot
      FROM vc),
b AS (SELECT source, v, c,
        CAST(LEAST(CAST(3 AS BIGINT), {idv}) + 1 AS INT) AS band
      FROM w)
SELECT source, band, CAST(SUM(c) AS BIGINT) AS n_docs,
  MIN(v) AS len_lo, MAX(v) AS len_hi
FROM b GROUP BY 1, 2
"""


# ------------------------------------------------------------------ #
# Benford leading-digit deviation
# ------------------------------------------------------------------ #

def benford_deviation_report_builder(dialect: str) -> str:
    """Benford's-law audit of order totals per priority class: observed
    leading-digit shares vs log10(1 + 1/d), with the per-group total
    variation distance.  The leading digit comes from the DECIMAL
    rendering (identical text both engines — probed; prices are
    >= 1000, so no sub-1 edge cases); a 9-digit spine LEFT JOIN gives
    absent digits an exact 0 so the TVD sums all 9 terms; shares and
    expectations are ROUND(..., 9) decimals, so the TVD window sum is
    exact."""
    spine_lat = lateral_seq("1", "9", "dg", dialect)
    return f"""
WITH d AS (
  SELECT o_orderpriority AS priority,
    CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING), 1, 1)
      AS INT) AS digit
  FROM orders),
counts AS (SELECT priority, digit, CAST(COUNT(*) AS BIGINT) AS n
           FROM d GROUP BY 1, 2),
spine AS (SELECT p.priority, dg AS digit
          FROM (SELECT DISTINCT o_orderpriority AS priority FROM orders) p
          {spine_lat}),
filled AS (SELECT s.priority, s.digit, COALESCE(c.n, CAST(0 AS BIGINT)) AS n
           FROM spine s LEFT JOIN counts c
             ON c.priority = s.priority AND c.digit = s.digit),
t AS (SELECT priority, digit, n,
        CAST(SUM(n) OVER (PARTITION BY priority) AS BIGINT) AS tot
      FROM filled),
e AS (SELECT priority, digit, n,
        CAST(ROUND(CAST(n AS DOUBLE) / tot, 9) AS DECIMAL(12,9)) AS obs,
        CAST(ROUND(LOG10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / digit),
          9) AS DECIMAL(12,9)) AS bf
      FROM t)
SELECT priority, digit, n, CAST(obs AS DOUBLE) AS obs_share,
  CAST(bf AS DOUBLE) AS benford_share,
  CAST(ROUND(CAST(SUM(ABS(obs - bf)) OVER (PARTITION BY priority)
    AS DOUBLE) / 2, 6) AS DOUBLE) AS tvd
FROM e
"""


# ------------------------------------------------------------------ #
# persisted EXACT bitmap presence store — the SEVENTH store family
# (verbs in functions/bitmap_store.py; entry glue only here)
# ------------------------------------------------------------------ #

def bitmap_rollup_persisted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted exact-bitmap day store, full verb cycle end-to-end
    (functions/bitmap_store.py): build per-day bitmaps for every day
    but the last, append the last day as TWO chunks (split by user
    parity), REPLAY one chunk's append — the IDEMPOTENT-MERGE class's
    whole point: the replayed rows BIT_OR in with zero effect, no
    overwrite choreography, no DISTINCT — compact the chunked day, then
    answer per-day DAU and the range-wide distinct from the store
    alone.  The bitmaps are exact, so the oracle is the PLAIN
    COUNT(DISTINCT) over raw events — oracle simplicity is the
    exactness proof.  Store cost per range query:
    <= days * chunks * ceil(max_id/62) bitmap rows, never an events
    rescan."""
    import shutil
    import tempfile

    from .catalog_r5 import _ROLLUP_RANGE
    from .functions import bitmap_store as BS
    from .sources.readers import Tables

    lo, hi = _ROLLUP_RANGE
    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_bitmap_rollup_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    BS.bitmap_rollup_build(ev.filter(day != hi), path)
    last = ev.filter(day == hi)
    BS.bitmap_rollup_append_chunk(last.filter(F.col("user_id") % 2 == 0), path, 1)
    for _ in range(2):  # second run = the replay; absorbed by BIT_OR
        BS.bitmap_rollup_append_chunk(
            last.filter(F.col("user_id") % 2 == 1), path, 2
        )
    BS.bitmap_rollup_compact(spark, path, hi)
    return BS.bitmap_rollup_range_daily(spark, path, lo, hi)


def _bitmap_rollup_persisted_oracle() -> str:
    from .catalog_r5 import _ROLLUP_RANGE

    lo, hi = _ROLLUP_RANGE
    return f"""
WITH rng AS (
  SELECT CAST(CAST(ts AS DATE) AS STRING) AS day, user_id FROM events
  WHERE CAST(ts AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'),
d AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      FROM rng GROUP BY day)
SELECT day, dau,
  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM rng)
    AS range_distinct
FROM d
"""


def bitmap_rollup_grouped_range_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bitmap store's GROUP dimension (per-tenant/per-type EXACT
    audiences): one bitmap row per (day, event_type, word) in a single
    build pass, the shared `rollup_expire` retention verb dropping
    every pre-range day (expiry cannot touch a pruned range read), then
    per-type exact range distincts from one (g, word) BIT_OR over the
    pruned store.  Oracle: plain per-type COUNT(DISTINCT) over the
    range-restricted raw events."""
    import shutil
    import tempfile

    from .catalog_r5 import _ROLLUP_RANGE
    from .functions import bitmap_store as BS
    from .functions.sketches import rollup_expire
    from .sources.readers import Tables

    lo, hi = _ROLLUP_RANGE
    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_bitmap_rollup_grp_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    BS.bitmap_rollup_grouped_build(ev, path)
    rollup_expire(path, lo)
    return BS.bitmap_rollup_grouped_range(spark, path, lo, hi).select(
        F.col("g").alias("event_type"), "distinct_users"
    )


def _bitmap_rollup_grouped_range_oracle() -> str:
    from .catalog_r5 import _ROLLUP_RANGE

    lo, hi = _ROLLUP_RANGE
    return f"""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'
GROUP BY event_type
"""


# ------------------------------------------------------------------ #
# approx-percentile honesty audit
# ------------------------------------------------------------------ #

def approx_percentile_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in approx_percentile (Greenwald-Khanna, accuracy=1000) with
    an exact-side RANK audit — the percentile sibling of
    ``approx_distinct_diag``.  The sketch value is engine-internal, so
    the entry emits what IS oracle-checkable: the exact interpolated
    percentile computed alongside (Spark ``percentile`` ==  DuckDB
    ``quantile_cont``, the pinned pair), plus the published GK
    guarantee asserted on data: the approx value's rank INTERVAL
    [count(< it) + 1, count(<= it)] must intersect the target band
    [(p-eps)*n, (p+eps)*n] (eps = 1/accuracy, +-1 boundary slack).
    The interval form — not the max rank alone — is what GK promises:
    a heavily TIED value occupies a rank range, and any rank in it
    satisfying the band is a correct answer (review finding r9w12; a
    point-mass spike wider than 2*eps*n would flunk a max-rank check
    while the sketch is in contract).  The oracle asserts the audit
    TRUE — a sketch drifting outside its band turns the row red.
    One grouped aggregate + one broadcast probe pass; no sort."""
    from .sources.readers import Tables

    ev = Tables(spark, sf_dir).events.select("event_type", "value")
    ps = [0.5, 0.9, 0.99]
    arr = ", ".join(f"{p}D" for p in ps)
    stats = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, array({arr}))").alias("ex"),
        F.expr(f"approx_percentile(value, array({arr}), 1000)").alias("ap"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    pe = stats.select(
        "event_type",
        "n",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(p) for p in ps]).alias("p"),
                F.col("ex").alias("ex"),
                F.col("ap").alias("ap"),
            )
        ).alias("z"),
    ).select("event_type", "n", "z.p", "z.ex", "z.ap")
    probed = (
        ev.join(F.broadcast(pe), "event_type")
        .groupBy("event_type", "p", "ex", "n")
        .agg(
            F.sum(F.when(F.col("value") <= F.col("ap"), 1).otherwise(0))
            .cast("long")
            .alias("cle"),
            F.sum(F.when(F.col("value") < F.col("ap"), 1).otherwise(0))
            .cast("long")
            .alias("clt"),
        )
    )
    eps = 1.0 / 1000
    # interval-overlap test: [clt + 1, cle] must meet the target band
    return probed.select(
        "event_type",
        F.col("p").cast("double").alias("p"),
        F.round(F.col("ex"), 6).alias("exact_val"),
        (
            (F.col("cle") >= F.floor((F.col("p") - eps) * F.col("n")) - 1)
            & (F.col("clt") + 1 <= F.ceil((F.col("p") + eps) * F.col("n")) + 1)
        )
        .cast("bigint")
        .alias("rank_ok"),
    )


def _approx_percentile_audit_oracle() -> str:
    parts = " UNION ALL ".join(
        f"SELECT event_type, CAST({p} AS DOUBLE) AS p, "
        f"ROUND(quantile_cont(value, {p}), 6) AS exact_val, "
        "CAST(1 AS BIGINT) AS rank_ok FROM events GROUP BY event_type"
        for p in (0.5, 0.9, 0.99)
    )
    return parts


# ------------------------------------------------------------------ #
# bounded-round k-core + NOT IN three-valued-logic surface
# ------------------------------------------------------------------ #

def neardup_kcore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the 2-core of the LSH candidate graph —
    peripheral one-off matches peel away, the templated boilerplate
    heart survives (the graph-density companion to the triangle count).
    Spark iterates fixed-round degree-peel semi-joins with per-round
    checkpoints (operators/graph.py:kcore_edges); the oracle unrolls
    the SAME six rounds as a CTE chain — peeling is monotone, so both
    truncations agree even before the fixpoint (and the fixture graphs
    fix well within six — pinned)."""
    from .catalog_r9b import _lsh_candidate_edges
    from .operators.graph import kcore_edges

    register_views(spark, sf_dir)
    core = kcore_edges(_lsh_candidate_edges(spark), "doc_a", "doc_b", k=2, rounds=6)
    deg = core.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return deg.groupBy(F.col("c").alias("core_degree")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


def neardup_kcore_oracle() -> str:
    """Every CTE in the peel chain is multiply-referenced (s_r feeds the
    degree table AND the next round; k_r joins twice), so each is
    ``AS MATERIALIZED`` — DuckDB's inlining heuristic otherwise doubles
    the expression tree per round (2^6 copies of the whole minhash
    pipeline; measured: the un-hinted form does not finish)."""
    from .functions.dedup import minhash_lsh_pairs_sql

    ctes = [
        f"e0 AS MATERIALIZED ({minhash_lsh_pairs_sql(DUCK)})",
        "s0 AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM e0"
        " UNION ALL SELECT doc_b, doc_a FROM e0)",
    ]
    for r in range(6):
        ctes.append(
            f"k{r} AS MATERIALIZED (SELECT s AS v FROM"
            f" (SELECT s, COUNT(*) AS c"
            f" FROM s{r} GROUP BY s) _d WHERE c >= 2)"
        )
        ctes.append(
            f"s{r + 1} AS MATERIALIZED (SELECT p.s, p.d FROM s{r} p"
            f" JOIN k{r} a ON a.v = p.s JOIN k{r} b ON b.v = p.d)"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT c AS core_degree, CAST(COUNT(*) AS BIGINT) AS n_nodes\n"
        "FROM (SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM s6 GROUP BY s) _f\n"
        "GROUP BY c"
    )


def not_in_null_semantics_builder(dialect: str) -> str:
    """The three-valued-logic footgun as a pinned surface: ``NOT IN``
    against a subquery CONTAINING A NULL returns zero rows (every
    comparison is UNKNOWN), while ``NOT EXISTS`` and the null-filtered
    ``NOT IN`` return the real complement — identical text and
    identical counts in both engines.  Spark plans the null-aware case
    as a NullAwareAntiJoin (broadcast-only strategy, visible in the
    plan) — declaring the predicate honestly instead of 'fixing' it is
    what keeps the optimizer able to choose it."""
    return """
WITH sub AS (
  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
  UNION ALL SELECT CAST(NULL AS BIGINT)),
base AS (SELECT c_custkey FROM customer)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM base
   WHERE c_custkey NOT IN (SELECT k FROM sub)) AS not_in_with_null,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM base b
   WHERE NOT EXISTS (SELECT 1 FROM sub s WHERE s.k = b.c_custkey))
    AS not_exists_cnt,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM base
   WHERE c_custkey NOT IN (SELECT k FROM sub WHERE k IS NOT NULL))
    AS not_in_filtered
"""


# ------------------------------------------------------------------ #
# exact tie-aware ROC-AUC (rank statistic at the value grain)
# ------------------------------------------------------------------ #

def events_score_auc_builder(dialect: str) -> str:
    """EXACT tie-aware ROC-AUC (+ Gini) of ``value`` as a separator for
    two class pairs (purchase-vs-click, signup-vs-view) — the
    Mann-Whitney rank formulation at the distinct-VALUE grain: group
    scores once, then AUC = sum over values of
    n_pos(v) * (n_neg_below(v) + n_neg_at(v)/2) / (P*N), kept integral
    by carrying 2x the numerator.  Everything before the final division
    is integer-exact; the cumulative window runs over the bounded score
    domain (2-dp values), never raw rows — the same scalable shape as
    the equi-depth histogram (a raw-row rank would be a one-task global
    sort).  The ML-eval companion to quality_drift_ks."""
    blocks = []
    for pos, neg in (("purchase", "click"), ("signup", "view")):
        blocks.append(f"""
SELECT '{pos}_vs_{neg}' AS pair, n_pos, n_neg, auc,
  ROUND(2 * auc - 1, 6) AS gini FROM (
  SELECT CAST(tp AS BIGINT) AS n_pos, CAST(tn AS BIGINT) AS n_neg,
    ROUND(CAST(num2 AS DOUBLE) / (2.0 * tp * tn), 6) AS auc
  FROM (
    SELECT SUM(np) AS tp, SUM(nn) AS tn,
      SUM(np * (2 * nn_lt + nn)) AS num2
    FROM (
      SELECT np, nn,
        COALESCE(SUM(nn) OVER (ORDER BY s
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn_lt
      FROM (
        SELECT CAST(value AS DECIMAL(8,2)) AS s,
          SUM(CASE WHEN event_type = '{pos}' THEN 1 ELSE 0 END) AS np,
          SUM(CASE WHEN event_type = '{neg}' THEN 1 ELSE 0 END) AS nn
        FROM events WHERE event_type IN ('{pos}', '{neg}')
        GROUP BY 1) _v) _w) _a) _f""")
    return " UNION ALL ".join(blocks)


# ------------------------------------------------------------------ #
# raw-text source (log parsing) + binaryFile source
# ------------------------------------------------------------------ #

def text_source_log_parse_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-TEXT source format end-to-end (log-parsing surface,
    completing the scan formats beside CSV/JSON/parquet/ORC/JDBC):
    deterministic pipe-delimited log lines rendered from orders, written
    with the text writer, read back with ``spark.read.text``, fields
    re-extracted with regexp_extract, aggregated.  The render uses the
    DECIMAL string form (identical both engines), so the parse is
    lossless by construction and the oracle aggregates the base table
    directly."""
    import shutil
    import tempfile

    from .sources.readers import Tables

    o = Tables(spark, sf_dir).orders
    lines = o.select(
        F.concat_ws(
            "|",
            F.lit("ORD"),
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        ).alias("value")
    )
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_text_log_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    lines.coalesce(4).write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    rx = r"^ORD\|(\d+)\|([^|]*)\|([^|]*)\|([0-9.]+)$"
    parsed = raw.select(
        F.regexp_extract("value", rx, 2).alias("status"),
        F.regexp_extract("value", rx, 3).alias("priority"),
        F.regexp_extract("value", rx, 4).cast("decimal(18,2)").alias("price"),
    )
    return parsed.groupBy("status", "priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("price").cast("double").alias("total_price"),
    )


def _text_source_log_parse_oracle() -> str:
    return """
SELECT o_orderstatus AS status, o_orderpriority AS priority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders GROUP BY 1, 2
"""


def binary_source_blob_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binaryFile source format end-to-end (the multimodal ingest
    path: whole-file bytes + metadata as rows): a bounded document
    subset is written one file per doc (text writer partitioned by
    doc_id), read back with ``spark.read.format("binaryFile")``, and
    each blob is fingerprinted (byte length + md5) with the doc id
    parsed from the PATH metadata column.  The text writer emits
    exactly ``text + \\n`` per file (documents are newline-free —
    probed), so the oracle fingerprints ``encode(text || chr(10))``
    from the base table — byte-identical content by construction."""
    import shutil
    import tempfile

    from .sources.readers import Tables

    docs = Tables(spark, sf_dir).documents.filter(F.col("doc_id") % 7 == 0)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_blob_src_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    docs.select("doc_id", F.col("text").alias("value")).write.mode(
        "overwrite"
    ).partitionBy("doc_id").text(path)
    raw = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.txt"
    ).load(path)
    return raw.select(
        F.regexp_extract(F.col("path"), r"doc_id=(\d+)", 1)
        .cast("long")
        .alias("doc_id"),
        F.length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


def _binary_source_blob_stats_oracle() -> str:
    return """
SELECT doc_id,
  CAST(octet_length(encode(text || chr(10))) AS BIGINT) AS n_bytes,
  md5(text || chr(10)) AS content_md5
FROM documents WHERE doc_id % 7 = 0
"""


# ------------------------------------------------------------------ #
# wave 15: multiset set-ops, exact rolling median, interval coverage,
# Python UDTF surface
# ------------------------------------------------------------------ #

def setops_all_multiset_builder(dialect: str) -> str:
    """EXCEPT ALL / INTERSECT ALL — the duplicate-preserving MULTISET
    semantics the existing set-ops entries (DISTINCT semantics) don't
    touch: per-custkey order multiplicities of 'F' orders minus/meets
    'O' orders.  Identical text both engines (probed); the result
    multisets are re-aggregated so the hash pins multiplicities, not
    just membership."""
    return """
WITH f AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
o AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
SELECT 'except_all' AS op, k, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT k FROM f EXCEPT ALL SELECT k FROM o) _e GROUP BY k
UNION ALL
SELECT 'intersect_all' AS op, k, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT k FROM f INTERSECT ALL SELECT k FROM o) _i GROUP BY k
"""


def events_rolling_median_exact_builder(dialect: str) -> str:
    """EXACT 7-day rolling median of daily event counts — the exact
    companion of ``tdigest_rolling_quantiles``: the percentile
    aggregate runs AS A WINDOW FUNCTION over the calendar-bounded
    daily table (<= |days| rows, the house-rule grain), frame = 6
    preceding days.  Dialect split is the aggregate's name only
    (Spark ``percentile`` == DuckDB ``quantile_cont``, the pinned
    interpolation pair).  The ROWS frame equals the intended
    last-7-CALENDAR-days semantics only on a dense day spine — a
    fixture fact (30 consecutive days) that the oracle CANNOT check
    (it runs the same ROWS frame), so it is pinned separately in
    test_round9c.test_daily_spine_is_dense; a gapped calendar would
    need a day-spine densify stage first (events_forward_fill has the
    machinery)."""
    med = "percentile(n, 0.5)" if dialect == SPARK else "quantile_cont(n, 0.5)"
    day = days_since_epoch("ts", dialect)
    return f"""
WITH d AS (SELECT {day} AS day, CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1)
SELECT day, n,
  ROUND({med} OVER (ORDER BY day
    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7
FROM d
"""


def segment_interval_coverage_builder(dialect: str) -> str:
    """Merged-interval union length (the interval-algebra classic): each
    order opens a 7-day service window [d, d+6]; overlapping windows
    per customer merge into islands (flag = start beyond the running
    max of prior ends; island id = running flag sum), and the UNION
    length — not the double-counted sum — aggregates per segment.
    Integer day arithmetic throughout; both windows and the island
    aggregate share the per-customer partitioning (fact-key
    co-partitioned, the clamped-ledger exchange shape)."""
    day = days_since_epoch("o_orderdate", dialect)
    return f"""
WITH iv AS (
  SELECT c_mktsegment AS segment, o_custkey AS ck,
    {day} AS s, {day} + 6 AS e
  FROM orders JOIN customer ON c_custkey = o_custkey),
m AS (
  SELECT segment, ck, s, e,
    MAX(e) OVER (PARTITION BY ck ORDER BY s, e
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM iv),
fl AS (
  SELECT segment, ck, s, e,
    CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END AS new_island
  FROM m),
isl AS (
  SELECT segment, ck, s, e,
    SUM(new_island) OVER (PARTITION BY ck ORDER BY s, e
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM fl),
merged AS (
  SELECT segment, ck, island,
    MIN(s) AS ms, MAX(e) AS me
  FROM isl GROUP BY segment, ck, island)
SELECT segment,
  CAST(COUNT(DISTINCT ck) AS BIGINT) AS n_customers,
  CAST(COUNT(*) AS BIGINT) AS n_islands,
  CAST(SUM(me - ms + 1) AS BIGINT) AS covered_days
FROM merged GROUP BY segment
"""


def udtf_order_schedule_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python UDTF surface (Spark 4 ``@udtf``) driven end-to-end:
    a table function expands each order into a 4-installment payment
    schedule in pure integer cents (first three = cents DIV 4, last
    absorbs the remainder — no rounding ambiguity anywhere), then the
    schedule aggregates per installment slot.  UDTFs are the slow path
    (row-at-a-time Python); the ORACLE is the production form — the
    same schedule as a relational lateral expansion — so the parity
    row simultaneously pins the UDTF semantics AND documents the
    rewrite a 100 TB job should use."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="slot int, cents bigint")
    class Installments:
        def eval(self, cents: int):
            base = cents // 4
            for slot in range(3):
                yield slot, base
            yield 3, cents - 3 * base

    from .sources.readers import Tables

    register_views(spark, sf_dir)
    spark.udtf.register("installments", Installments)
    v = register_temp_view(
        Tables(spark, sf_dir).orders.selectExpr(
            "o_orderkey",
            "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents",
        ),
        "_udtf_orders",
    )
    return spark.sql(
        f"""
SELECT i.slot, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(CAST(SUM(i.cents) AS DECIMAL(38,0)) AS DOUBLE) / 100 AS total_amount
FROM {v} o, LATERAL installments(o.cents) AS i
GROUP BY i.slot
"""
    )


def _udtf_order_schedule_oracle() -> str:
    lat = lateral_seq("0", "3", "slot", DUCK)
    return f"""
WITH c AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
sched AS (
  SELECT slot,
    CASE WHEN slot < 3 THEN cents // 4
         ELSE cents - 3 * (cents // 4) END AS icents
  FROM c {lat})
SELECT CAST(slot AS INT) AS slot, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(CAST(SUM(icents) AS DECIMAL(38,0)) AS DOUBLE) / 100 AS total_amount
FROM sched GROUP BY slot
"""


# ------------------------------------------------------------------ #
# wave 16: ordered string aggregation + boolean-aggregate surface
# ------------------------------------------------------------------ #

def region_nation_namelist_builder(dialect: str) -> str:
    """Ordered string aggregation (LISTAGG/string_agg — the reporting
    staple): per region, the comma-joined SORTED nation list.  Spark
    has no ordered string_agg, so its spelling is the deterministic
    composition ``array_join(array_sort(collect_list(x)))`` — same
    bytes as DuckDB's ``string_agg(x ORDER BY x)`` (probed); the
    explicit sort is what makes a collect_list-based aggregate
    hashable at all (collect_list order is partition-dependent)."""
    if dialect == SPARK:
        agg = "array_join(array_sort(collect_list(n_name)), ',')"
    else:
        agg = "string_agg(n_name, ',' ORDER BY n_name)"
    return f"""
SELECT r.r_name AS region, CAST(COUNT(*) AS BIGINT) AS n_nations,
  {agg} AS nations
FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY r.r_name
"""


def orders_flag_aggregates_builder(dialect: str) -> str:
    """Boolean-aggregate surface (bool_and / bool_or / count_if —
    identical names both engines, probed): per order priority, the
    all/any/conditional-count flags a data-quality rule engine emits.
    Booleans are CAST to BIGINT for the hash (pandas nullable-bool
    dtypes differ across drivers; ints don't)."""
    return """
SELECT o_orderpriority AS priority,
  CAST(bool_and(o_totalprice > 1000) AS BIGINT) AS all_over_1k,
  CAST(bool_or(o_totalprice > 450000) AS BIGINT) AS any_over_450k,
  CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_over_100k,
  CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


# ------------------------------------------------------------------ #
# wave 17: bitmap rolling reach, winsorized means, FULL OUTER recon,
# modern GROUP BY ALL sugar
# ------------------------------------------------------------------ #

def _rolling_reach_final_sql(bm: str) -> str:
    """7-day rolling report over a (k=day, word, bm) bitmap relation:
    reach7 = popcount of the 7-day OR, everyday7 = popcount of the
    7-day AND counted only where the word appears on ALL 7 days (a
    missing word-day means no user of that word was active that day,
    so every user of the word fails the every-day test).  Shared by
    the Spark checkpoint form and the oracle's nested CTE."""
    return f"""
days AS (SELECT DISTINCT k AS day FROM {bm}
         WHERE k >= (SELECT MIN(k) FROM {bm}) + 6),
win AS (
  SELECT d.day AS day, b.word,
    BIT_OR(b.bm) AS obm, BIT_AND(b.bm) AS abm,
    CAST(COUNT(*) AS BIGINT) AS nd
  FROM days d JOIN {bm} b ON b.k BETWEEN d.day - 6 AND d.day
  GROUP BY d.day, b.word)
SELECT day,
  CAST(SUM(bit_count(obm)) AS BIGINT) AS reach7,
  CAST(SUM(CASE WHEN nd = 7 THEN bit_count(abm) ELSE 0 END) AS BIGINT)
    AS everyday7
FROM win GROUP BY day
"""


def bitmap_rolling_reach_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 7-day rolling reach AND every-day-active counts from the
    bitmap presence index — BOTH merge laws of the bitmap algebra in
    one report (OR for union reach, AND for intersection loyalty):
    the exact counterpart of ``hll_rolling_7day`` plus the question a
    sketch cannot answer at all (exact every-day membership).  The
    bitmap build is checkpointed once (3 references); the 7x window
    fan-out joins WORD rows, never user-grain rows."""
    register_views(spark, sf_dir)
    day = days_since_epoch("ts", SPARK)
    v = register_temp_view(
        spark.sql(
            f"WITH {_bitmap_cte(day, SPARK)} SELECT * FROM bm"
        ).localCheckpoint(eager=True),
        "_bm_roll",
    )
    return spark.sql("WITH " + _rolling_reach_final_sql(v))


def bitmap_rolling_reach_oracle() -> str:
    day = days_since_epoch("ts", DUCK)
    return f"WITH {_bitmap_cte(day, DUCK)}, {_rolling_reach_final_sql('bm')}"


def winsorized_mean_builder(dialect: str) -> str:
    """Winsorized (5%/95%-clipped) means per event type beside the raw
    means — the robust-statistics companion of ``grouped_mad_outliers``
    (clip, don't drop).  Clip bounds come from the pinned
    percentile ≡ quantile_cont pair, quantized ROUND(.,6) -> DECIMAL so
    the clipped sum is exact decimal (CASE, not LEAST/GREATEST — the
    DuckDB LEAST-over-decimals-returns-DOUBLE trap); the bounds table
    is 5 rows, broadcast back onto the fact scan."""
    pct = "percentile" if dialect == SPARK else "quantile_cont"
    return f"""
WITH b AS (
  SELECT event_type,
    CAST(ROUND({pct}(value, 0.05), 6) AS DECIMAL(18,6)) AS lo,
    CAST(ROUND({pct}(value, 0.95), 6) AS DECIMAL(18,6)) AS hi
  FROM events GROUP BY event_type),
c AS (
  SELECT e.event_type, CAST(e.value AS DECIMAL(8,2)) AS v, b.lo, b.hi
  FROM events e JOIN b ON b.event_type = e.event_type)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(CAST(CAST(SUM(v) AS DECIMAL(38,6)) AS DOUBLE) / COUNT(*), 6)
    AS raw_mean,
  ROUND(CAST(CAST(SUM(CASE WHEN v < lo THEN lo WHEN v > hi THEN hi
    ELSE CAST(v AS DECIMAL(18,6)) END) AS DECIMAL(38,6)) AS DOUBLE)
    / COUNT(*), 6) AS winsorized_mean,
  CAST(lo AS DOUBLE) AS p05, CAST(hi AS DOUBLE) AS p95
FROM c GROUP BY event_type, lo, hi
"""


def user_customer_full_outer_builder(dialect: str) -> str:
    """FULL OUTER join surface as a reconciliation report: distinct
    event users vs the customer dimension, counted by side
    (both / event-only / customer-only) — the id-space audit every
    cross-system pipeline runs; identical text both engines."""
    return """
WITH u AS (SELECT DISTINCT user_id AS k FROM events),
c AS (SELECT c_custkey AS k FROM customer)
SELECT CASE WHEN u.k IS NULL THEN 'customer_only'
            WHEN c.k IS NULL THEN 'event_user_only'
            ELSE 'both' END AS side,
  CAST(COUNT(*) AS BIGINT) AS n
FROM u FULL OUTER JOIN c ON u.k = c.k
GROUP BY 1
"""


def groupby_all_sugar_builder(dialect: str) -> str:
    """Modern SQL sugar, pinned cross-engine: star-exclusion
    (Spark ``* EXCEPT (...)`` / DuckDB ``* EXCLUDE (...)``) narrows
    the projection, then ``GROUP BY ALL`` infers the grouping keys
    from the non-aggregate select list — identical grouping semantics
    both engines (probed)."""
    excl = (
        "EXCEPT (o_orderkey, o_custkey, o_orderdate)"
        if dialect == SPARK
        else "EXCLUDE (o_orderkey, o_custkey, o_orderdate)"
    )
    return f"""
WITH slim AS (SELECT * {excl} FROM orders)
SELECT o_orderstatus, o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM slim GROUP BY ALL
"""


# ------------------------------------------------------------------ #
# wave 18: full-outer stream join, positional explode, TRY_CAST gate,
# runs test
# ------------------------------------------------------------------ #

def stream_full_outer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.events import click_purchase_full_join

    register_views(spark, sf_dir)
    return click_purchase_full_join(spark, sf_dir, within_minutes=10)


def stream_full_outer_oracle() -> str:
    """Batch model of the watermarked FULL OUTER stream-stream join:
    the inner oracle's FULL JOIN plus BOTH emission horizons against
    the two-sided LEAST() watermark — unmatched clicks need their
    window end strictly below it (the left-outer calibration),
    unmatched purchases need p_ts strictly below it (their matching
    clicks all have c_ts <= p_ts)."""
    return """
WITH mx AS (
  SELECT LEAST(
    MAX(CASE WHEN event_type = 'click' THEN ts END),
    MAX(CASE WHEN event_type = 'purchase' THEN ts END))
    - INTERVAL 30 MINUTE AS wm
  FROM events),
c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
      FROM events WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
      FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT c.click_id, p.purchase_id,
    COALESCE(c.c_user, p.p_user) AS user_id,
    CAST(floor(epoch(p.p_ts)) AS BIGINT)
      - CAST(floor(epoch(c.c_ts)) AS BIGINT) AS gap_seconds,
    c.c_ts, p.p_ts
  FROM c FULL JOIN p
    ON c.c_user = p.p_user AND p.p_ts >= c.c_ts
   AND p.p_ts <= c.c_ts + INTERVAL 10 MINUTE)
SELECT click_id, purchase_id, user_id, gap_seconds
FROM j CROSS JOIN mx m
WHERE (click_id IS NOT NULL AND purchase_id IS NOT NULL)
   OR (purchase_id IS NULL AND j.c_ts + INTERVAL 10 MINUTE < m.wm)
   OR (click_id IS NULL AND j.p_ts < m.wm)
"""


def posexplode_positions_builder(dialect: str) -> str:
    """Position-preserving array explode (posexplode / ordinality): the
    first five whitespace tokens of every 11th document with their
    0-based positions.  DuckDB has no WITH ORDINALITY (probed), so its
    side indexes the array through a range lateral — same (doc_id,
    pos, token) rows by construction; Spark uses the native
    LATERAL VIEW posexplode."""
    from .functions.portable import split_ws

    arr = split_ws("text", dialect)
    if dialect == SPARK:
        # slice BEFORE posexplode: O(5) rows per doc, never the full
        # token array (review finding r9w20); slice is 1-based, the
        # emitted positions stay 0-based over the sliced prefix
        return f"""
SELECT doc_id, pos, tok
FROM (SELECT doc_id, slice({arr}, 1, 5) AS arr
      FROM documents WHERE doc_id % 11 = 0)
LATERAL VIEW posexplode(arr) _t AS pos, tok
"""
    return f"""
SELECT doc_id, CAST(i.x AS INT) AS pos, arr[i.x + 1] AS tok
FROM (SELECT doc_id, {arr} AS arr FROM documents WHERE doc_id % 11 = 0) _d,
UNNEST(range(0, least(len(arr), 5))) AS i(x)
"""


def try_cast_quality_gate_builder(dialect: str) -> str:
    """TRY_CAST error-handling surface (identical name + NULL-on-failure
    semantics both engines, probed) as a data-quality gate: a
    deterministically corrupted price string (every 10th order gets a
    leading 'x') parses through TRY_CAST; the report counts failures
    and sums what parsed — the ingest-validation idiom that replaces
    job-killing cast exceptions."""
    return """
WITH raw AS (
  SELECT o_orderpriority AS priority,
    CASE WHEN o_orderkey % 10 = 0
         THEN concat('x', CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING))
         ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING) END
      AS price_str
  FROM orders)
SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(count_if(TRY_CAST(price_str AS DECIMAL(18,2)) IS NULL) AS BIGINT)
    AS n_unparsable,
  CAST(SUM(TRY_CAST(price_str AS DECIMAL(18,2))) AS DOUBLE) AS parsed_total
FROM raw GROUP BY priority
"""


def daily_revenue_runs_test_builder(dialect: str) -> str:
    """Wald-Wolfowitz runs test for randomness of the daily revenue
    series: sign of each day's revenue against the series median
    (equal-to-median days excluded, the standard treatment), runs
    counted with a LAG window over the calendar-bounded day spine, and
    the normal-approximation z-statistic from the closed form.  The
    median comes from the pinned percentile pair over identical
    doubles; all counts are integers, the final formula runs in IEEE
    on identical operands."""
    pct = "percentile" if dialect == SPARK else "quantile_cont"
    day = days_since_epoch("o_orderdate", dialect)
    return f"""
WITH d AS (
  SELECT {day} AS day,
    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,6))
      AS DOUBLE) AS rev
  FROM orders GROUP BY 1),
med AS (SELECT {pct}(rev, 0.5) AS m FROM d),
s AS (
  SELECT day, CASE WHEN rev > m THEN 1 ELSE 0 END AS sgn
  FROM d CROSS JOIN med WHERE rev <> m),
r AS (
  SELECT sgn,
    CASE WHEN LAG(sgn) OVER (ORDER BY day) IS NULL
         OR LAG(sgn) OVER (ORDER BY day) <> sgn THEN 1 ELSE 0 END AS new_run
  FROM s),
agg AS (
  SELECT CAST(SUM(sgn) AS DOUBLE) AS n1,
    CAST(SUM(1 - sgn) AS DOUBLE) AS n2,
    CAST(SUM(new_run) AS BIGINT) AS runs
  FROM r)
SELECT CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below, runs,
  ROUND((runs - (2 * n1 * n2 / (n1 + n2) + 1))
    / SQRT(NULLIF(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
      / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)), 0)), 6) AS z_stat
FROM agg
"""


# ------------------------------------------------------------------ #
# wave 19: resampling-free inference — jackknife, capture-recapture,
# log-rank
# ------------------------------------------------------------------ #

def _jk_blocks_sql(dialect: str) -> str:
    """The one fact-scale stage of the jackknife: exact per-day block
    totals (calendar-bounded output)."""
    day = days_since_epoch("ts", dialect)
    return f"""
SELECT {day} AS day,
  CAST(SUM(CAST(value AS DECIMAL(8,2))) AS DECIMAL(38,2)) AS s,
  CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1"""


def _jk_final_sql(b: str) -> str:
    """Jackknife arithmetic over a (day, s, n) block relation — shared
    by the Spark checkpoint form (``b`` = the view) and the oracle
    (``b`` = the nested CTE).  Everything here runs on the <= |days|
    block table."""
    return f"""
t AS (SELECT CAST(SUM(s) AS DECIMAL(38,2)) AS st,
             CAST(SUM(n) AS BIGINT) AS nt,
             CAST(COUNT(*) AS BIGINT) AS g
      FROM {b}),
loo AS (
  SELECT CAST(ROUND(CAST(t.st - b.s AS DOUBLE) / (t.nt - b.n), 9)
    AS DECIMAL(20,9)) AS theta_i, t.g, t.st, t.nt
  FROM {b} b CROSS JOIN t),
m AS (SELECT g, st, nt,
        CAST(ROUND(CAST(SUM(theta_i) AS DOUBLE) / g, 9)
          AS DECIMAL(20,9)) AS theta_bar
      FROM loo GROUP BY g, st, nt),
d AS (
  SELECT loo.g, m.st, m.nt,
    CAST(ROUND((CAST(theta_i AS DOUBLE) - CAST(theta_bar AS DOUBLE))
      * (CAST(theta_i AS DOUBLE) - CAST(theta_bar AS DOUBLE)), 9)
      AS DECIMAL(24,9)) AS sq
  FROM loo JOIN m ON m.g = loo.g)
SELECT g AS n_blocks,
  ROUND(CAST(st AS DOUBLE) / nt, 6) AS mean_value,
  ROUND(SQRT((CAST(g AS DOUBLE) - 1) / g
    * CAST(CAST(SUM(sq) AS DECIMAL(38,9)) AS DOUBLE)), 6)
    AS jackknife_se
FROM d GROUP BY g, st, nt
"""


def jackknife_mean_variance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-BLOCK jackknife standard error of the mean event
    value (blocks = calendar days) — resampling inference WITHOUT
    random resampling: every leave-one-out estimate is the closed form
    (S - s_i) / (n - n_i) over exact decimal block totals, so no pass
    recomputes a block and the whole procedure is deterministic (no
    RNG).  The ONE fact-scale stage (the block table) is checkpointed
    — the loo/mean/deviation chain references it transitively several
    times, and CTE inlining would rescan events per reference (the
    house rule); everything after runs on <= |days| rows.
    Leave-one-out estimates and their deviations quantize ROUND(.,9)
    -> DECIMAL before the order-sensitive sums."""
    register_views(spark, sf_dir)
    v = register_temp_view(
        spark.sql(_jk_blocks_sql(SPARK)).localCheckpoint(eager=True), "_jk_b"
    )
    return spark.sql("WITH " + _jk_final_sql(v).lstrip())


def jackknife_mean_variance_oracle() -> str:
    return (
        f"WITH b AS ({_jk_blocks_sql(DUCK)}),"
        + _jk_final_sql("b")
    )


def capture_recapture_builder(dialect: str) -> str:
    """Lincoln-Petersen / Chapman capture-recapture population
    estimate: the click audience is the first capture, the purchase
    audience the recapture; ONE user-grain pass (per-user presence
    flags, then three exact flag sums — no per-set distinct scans, no
    join) yields the Chapman estimator
    (n1+1)(n2+1)/(m+1) - 1 beside the TRUE population (all distinct
    users — known here, which is the point: the entry audits the
    estimator's fixture bias).  Every input is an exact distinct
    count; the estimator arithmetic is IEEE on identical integers."""
    return """
WITH u AS (
  SELECT user_id,
    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS mc,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS mp
  FROM events GROUP BY user_id),
s AS (SELECT CAST(SUM(mc) AS BIGINT) AS n1,
             CAST(SUM(mp) AS BIGINT) AS n2,
             CAST(SUM(mc * mp) AS BIGINT) AS m,
             CAST(COUNT(*) AS BIGINT) AS true_n
      FROM u)
SELECT n1, n2, m, true_n,
  ROUND((CAST(n1 AS DOUBLE) + 1) * (n2 + 1) / (m + 1) - 1, 6)
    AS chapman_estimate
FROM s
"""


def _logrank_agg_sql(dialect: str) -> str:
    """The fact-scale half of the log-rank pipeline: per-(segment,
    duration) event/ending counts (value-grain bounded output; the
    same duration construction as customer_survival_km — observed
    gaps + right-censored tails against the global horizon)."""
    day = days_since_epoch("o_orderdate", dialect)
    return f"""
WITH o AS (
  SELECT o_custkey, c_mktsegment AS g, {day} AS d
  FROM orders JOIN customer ON c_custkey = o_custkey
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
s AS (SELECT g, o_custkey, d,
        LEAD(d) OVER (PARTITION BY o_custkey ORDER BY d) AS nd
      FROM o),
dur AS (
  SELECT g,
    CASE WHEN nd IS NULL THEN (SELECT MAX(d) FROM o) - d
         ELSE nd - d END AS t,
    CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
  FROM s)
SELECT g, t, CAST(SUM(ev) AS BIGINT) AS dd,
       CAST(COUNT(*) AS BIGINT) AS ending
FROM dur GROUP BY g, t"""


def _logrank_final_sql(agg: str) -> str:
    """Log-rank arithmetic over a (g, t, dd, ending) relation — shared
    by the Spark checkpoint form and the oracle's nested CTE; every
    stage here runs on the value-grain duration table."""
    return f"""
spine AS (SELECT DISTINCT t FROM {agg}),
gx AS (SELECT sp.t, gg.g
       FROM spine sp CROSS JOIN
         (SELECT 'BUILDING' AS g UNION ALL SELECT 'MACHINERY') gg),
e AS (SELECT gx.t, gx.g,
        COALESCE(a.dd, CAST(0 AS BIGINT)) AS dd,
        COALESCE(a.ending, CAST(0 AS BIGINT)) AS ending
      FROM gx LEFT JOIN {agg} a ON a.g = gx.g AND a.t = gx.t),
w AS (SELECT t, g, dd,
        CAST(SUM(ending) OVER (PARTITION BY g)
          - COALESCE(SUM(ending) OVER (PARTITION BY g ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            CAST(0 AS BIGINT)) AS BIGINT) AS n_risk
      FROM e),
p AS (SELECT t,
        MAX(CASE WHEN g = 'BUILDING' THEN n_risk END) AS na,
        MAX(CASE WHEN g = 'BUILDING' THEN dd END) AS da,
        MAX(CASE WHEN g = 'MACHINERY' THEN n_risk END) AS nb,
        MAX(CASE WHEN g = 'MACHINERY' THEN dd END) AS db
      FROM w GROUP BY t),
f AS (SELECT * FROM p WHERE da + db > 0 AND na + nb > 1),
terms AS (
  SELECT da,
    CAST(ROUND((da + db) * CAST(na AS DOUBLE) / (na + nb), 9)
      AS DECIMAL(20,9)) AS ea,
    CAST(ROUND((da + db) * (CAST(na AS DOUBLE) / (na + nb))
      * (1 - CAST(na AS DOUBLE) / (na + nb))
      * (na + nb - da - db) / (na + nb - 1), 9) AS DECIMAL(20,9)) AS va
  FROM f)
SELECT CAST(SUM(da) AS BIGINT) AS observed_a,
  ROUND(CAST(CAST(SUM(ea) AS DECIMAL(38,9)) AS DOUBLE), 6) AS expected_a,
  ROUND((CAST(SUM(da) AS DOUBLE)
    - CAST(CAST(SUM(ea) AS DECIMAL(38,9)) AS DOUBLE))
    / SQRT(NULLIF(CAST(CAST(SUM(va) AS DECIMAL(38,9)) AS DOUBLE), 0)), 6)
    AS logrank_z
FROM terms
"""


def survival_logrank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank test comparing repurchase survival between
    the BUILDING and MACHINERY customer segments — the hypothesis-test
    companion of ``customer_survival_km`` (same durations: observed
    consecutive-order gaps + right-censored tails).  The fact-scale
    half (per-(segment, duration) counts) is checkpointed once — the
    spine/at-risk/pivot chain references it transitively several
    times, and CTE inlining would replay the orders scan per
    reference (the house rule); at every pooled event time the
    hypergeometric E/V terms quantize ROUND(.,9) -> DECIMAL before
    the sums, and the per-segment at-risk windows run over the
    value-grain duration table."""
    register_views(spark, sf_dir)
    v = register_temp_view(
        spark.sql(_logrank_agg_sql(SPARK)).localCheckpoint(eager=True), "_lr_agg"
    )
    return spark.sql("WITH " + _logrank_final_sql(v).lstrip())


def survival_logrank_oracle() -> str:
    return (
        f"WITH agg AS ({_logrank_agg_sql(DUCK)}),"
        + _logrank_final_sql("agg")
    )


# ------------------------------------------------------------------ #
# wave 20: Theil-Sen robust slope + PMI collocations
# ------------------------------------------------------------------ #

def _monthly_series_sql() -> str:
    """The dollar-quantized monthly revenue series (shared text with
    segment_monthly_trend's first stage) — bounded (segment, month)
    output from one fact-scale aggregate."""
    return """
SELECT c_mktsegment AS segment,
  (year(o_orderdate) - 1992) * 12 + (month(o_orderdate) - 1) AS mx,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0)
    AS DECIMAL(18,0)) AS y
FROM orders JOIN customer ON c_custkey = o_custkey
GROUP BY 1, 2"""


def _theilsen_final_sql(my: str, pct: str) -> str:
    return f"""
pairs AS (
  SELECT a.segment,
    CAST(b.y - a.y AS DOUBLE) / (b.mx - a.mx) AS slope
  FROM {my} a JOIN {my} b ON a.segment = b.segment AND a.mx < b.mx)
SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  ROUND({pct}(slope, 0.5), 6) AS theilsen_slope
FROM pairs GROUP BY segment
"""


def segment_theilsen_trend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust revenue trend per market segment — the median
    of ALL pairwise monthly slopes, the estimator that shrugs off the
    outlier months OLS (``segment_monthly_trend``) chases; the two
    entries share the identical dollar-quantized monthly series, so
    their slopes are directly comparable.  The monthly aggregate is
    checkpointed once (the self-join references it twice; CTE inlining
    would run the fact-scale aggregate per side — the house rule); the
    pairwise fan-out is then a self-join of the <= |months| bounded
    view (~C(n,2) pairs over ~116 months — never fact-scale), each
    slope one IEEE division of exact integers, the median from the
    pinned percentile pair over identical doubles."""
    register_views(spark, sf_dir)
    v = register_temp_view(
        spark.sql(_monthly_series_sql()).localCheckpoint(eager=True), "_ts_my"
    )
    return spark.sql(
        "WITH " + _theilsen_final_sql(v, "percentile").lstrip()
    )


def segment_theilsen_trend_oracle() -> str:
    return (
        f"WITH my AS ({_monthly_series_sql()}),"
        + _theilsen_final_sql("my", "quantile_cont")
    )


def _bigram_counts_sql(dialect: str) -> str:
    """The one exploded fact-scale stage of the collocation entry:
    corpus bigram counts (vocab-bounded output) — delegated to the
    SHARED functions.text.bigram_counts_sql so the collocation,
    top-bigrams and cross-entropy tokenizations cannot drift apart
    (review finding r9w20)."""
    from .functions.text import bigram_counts_sql

    return bigram_counts_sql(dialect)


def _pmi_final_sql(c12: str) -> str:
    """PMI ranking over a (w1, w2, c) bigram-count relation — shared by
    the Spark checkpoint form and the oracle's nested CTE; marginals
    and the total come from the count table itself."""
    pmi = (
        f"ROUND(LN(CAST(tot.n AS DOUBLE) * {c12}.c"
        f" / (CAST(left_m.c1 AS DOUBLE) * right_m.c2)), 6)"
    )
    return f"""
left_m AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c1 FROM {c12} GROUP BY w1),
right_m AS (SELECT w2, CAST(SUM(c) AS BIGINT) AS c2 FROM {c12} GROUP BY w2),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM {c12})
SELECT {c12}.w1, {c12}.w2, {c12}.c AS n_pair, {pmi} AS pmi
FROM {c12}
JOIN left_m ON left_m.w1 = {c12}.w1
JOIN right_m ON right_m.w2 = {c12}.w2
CROSS JOIN tot
WHERE {c12}.c >= 5
ORDER BY {pmi} DESC, {c12}.w1, {c12}.w2
LIMIT 15
"""


def text_collocations_pmi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-ranked collocations — the NLP-pipeline staple that separates
    genuinely associated word pairs from merely frequent ones (raw
    counts are ``text_top_bigrams``' job): PMI = ln(N*c12/(c1*c2))
    over exact integer corpus counts, min support 5, top-15 by
    (ROUND(pmi,6) DESC, w1, w2) via ORDER BY + LIMIT.  PMI is computed
    PER ROW from exact integers (nothing ln-valued is ever summed), so
    a single ROUND makes the ranking engine-identical.  The exploded
    bigram-count stage is checkpointed once — the marginals, the
    total and the final ranking reference it four times, and CTE
    inlining would re-run the corpus explosion per reference (the
    house rule, measured 7 exchanges flat-text)."""
    register_views(spark, sf_dir)
    v = register_temp_view(
        spark.sql(_bigram_counts_sql(SPARK)).localCheckpoint(eager=True),
        "_pmi_c12",
    )
    return spark.sql("WITH " + _pmi_final_sql(v).lstrip())


def text_collocations_pmi_oracle() -> str:
    return (
        f"WITH c12 AS ({_bigram_counts_sql(DUCK)}),"
        + _pmi_final_sql("c12")
    )
