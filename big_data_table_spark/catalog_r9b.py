"""Round-9 wave-5/6/7 builders: relational-surface gaps (UNPIVOT,
skyline / Pareto frontier, blocked fuzzy matching), a mergeable moments
sketch, gap-fill imputation (IGNORE NULLS window), the exact
set-similarity join via prefix filtering (entry glue — the algorithm
lives in functions/dedup.py), the outer stream-stream join glue, array
lambda stats, time-decay scoring, graph analytics on the LSH candidate
graph (degree-oriented triangles, BFS hops vs a recursive-CTE oracle),
the two-phase exact weighted median, gaps-and-islands streaks, the
chi-square independence test, the clamped-ledger window closed form,
and the join-key skew diagnostic.  Builders only — registration and
``DRIVER_HEAD`` stay in catalog.py (the r8 split's convention).

Engine facts these builders rely on (probed this round, both engines):
``UNPIVOT (v FOR k IN (...))`` parses with IDENTICAL text in Spark 4
and DuckDB 1.x and emits the column-name string as ``k``;
``levenshtein`` and ``quarter`` agree; ``events.value`` and
``o_totalprice`` are exactly 2-dp (``CAST(x AS DECIMAL(8,2)) = x``
row-for-row), so DECIMAL(8,2)/(18,2) quantization below is lossless;
DuckDB's ``LEAST`` over decimals returns DOUBLE (CASE keeps DECIMAL),
and a decimal binary op whose result would exceed width 38 silently
promotes to DOUBLE — both measured via a 5.63 -> 5.629999... diff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog_base import register_views
from .session import register_temp_view
from .functions.portable import (
    DUCK,
    SPARK,
    days_since_epoch,
    epoch_s,
    last_value_ignore_nulls,
)


# ------------------------------------------------------------------ #
# UNPIVOT — the wide->long inverse of the pivot surface
# ------------------------------------------------------------------ #

def unpivot_quarter_revenue_builder(dialect: str) -> str:
    """Wide quarterly-revenue columns melted back to long form with the
    relational UNPIVOT operator — the inverse surface of
    ``pivot_linestatus`` (reference `dcast`/`melt` pairing).  The wide
    stage is one exact-decimal conditional aggregation; UNPIVOT itself
    is a zero-shuffle per-row flatMap (4 output rows per input row, no
    exchange).  The same SQL text parses in both engines (probed); the
    quarter label is the unpivoted column NAME, so both engines emit
    identical strings q1..q4."""
    q = "CAST(o_totalprice AS DECIMAL(18,2))"
    cols = ", ".join(
        f"CAST(COALESCE(SUM(CASE WHEN quarter(o_orderdate) = {i} "
        f"THEN {q} END), 0) AS DOUBLE) AS q{i}"
        for i in (1, 2, 3, 4)
    )
    return f"""
WITH wide AS (
  SELECT o_orderpriority, {cols}
  FROM orders GROUP BY o_orderpriority)
SELECT o_orderpriority, quarter, revenue
FROM wide UNPIVOT (revenue FOR quarter IN (q1, q2, q3, q4))
"""


# ------------------------------------------------------------------ #
# mergeable moments sketch — exact power sums -> shape statistics
# ------------------------------------------------------------------ #

def grouped_moments_builder(dialect: str) -> str:
    """Distribution-shape profile per event type — mean, population
    stddev, skewness, excess kurtosis — from EXACT decimal power sums
    S1..S4, the classic mergeable "moments sketch" (additive partials:
    map-side combinable, shard-mergeable, one pass; the reason this
    scales is the same reason ``grouped_correlation``'s moments do).

    Exactness: value is 2-dp (probed), so ``DECIMAL(8,2)`` quantization
    is lossless and every power stays inside both engines' exact decimal
    multiply paths.  The 3rd and 4th powers are the ONE dialect split
    in the algebra: DuckDB overflow-checks a decimal multiply against
    the OPERAND width's own max (measured: (18,4) squared errors at
    1.15e18 > 10^18-1, and the bare (16,4)x(8,2) cube errors for any
    value >= 10000.01 — inside the (8,2) domain), so BOTH its higher
    powers build on a (19,4) = int128 upcast of v^2; Spark — where
    (19,4)x(19,4) would hit the precision-39->38 cap and ROUND scale 8
    to 7 — keeps the bare products ((17,4) paths).  Both spellings are
    EXACT, so the engines still sum identical values.  s1..s3 (scale
    <= 6) cast through (38,6) to DOUBLE losslessly (the
    grouped_corr_sql discipline); s4 has native scale 8, where a bare
    (38,6) cast would TRUNCATE in DuckDB but round HALF_UP in Spark
    (probed), so it goes through an explicit ROUND(.,6) first — both
    engines round decimal halves away from zero (probed), making the
    quantization identical.  The moment formulas then run in IEEE
    arithmetic on identical operands; fractional powers are avoided
    (sigma^3 = m2*sqrt(m2), kurtosis divides by m2*m2)."""
    v = "CAST(value AS DECIMAL(8,2))"
    v2w = (
        f"({v} * {v})"
        if dialect == SPARK
        else f"CAST({v} * {v} AS DECIMAL(19,4))"
    )

    def d(expr: str) -> str:
        return f"CAST(CAST(SUM({expr}) AS DECIMAL(38,6)) AS DOUBLE)"

    return f"""
WITH m AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
    {d(v)} AS s1,
    {d(f'{v} * {v}')} AS s2,
    {d(f'{v2w} * {v}')} AS s3,
    CAST(CAST(ROUND(SUM({v2w} * {v2w}), 6) AS DECIMAL(38,6)) AS DOUBLE)
      AS s4
  FROM events GROUP BY event_type),
c AS (
  SELECT event_type, n, s1 / n AS mean,
    s2 / n - (s1 / n) * (s1 / n) AS m2,
    s3 / n - 3 * (s1 / n) * (s2 / n)
      + 2 * ((s1 / n) * (s1 / n)) * (s1 / n) AS m3,
    s4 / n - 4 * (s1 / n) * (s3 / n)
      + 6 * ((s1 / n) * (s1 / n)) * (s2 / n)
      - 3 * (((s1 / n) * (s1 / n)) * ((s1 / n) * (s1 / n))) AS m4
  FROM m)
SELECT event_type, CAST(n AS BIGINT) AS n,
  ROUND(mean, 6) AS mean,
  ROUND(SQRT(m2), 6) AS stddev_pop,
  ROUND(m3 / NULLIF(m2 * SQRT(m2), 0), 6) AS skewness,
  ROUND(m4 / NULLIF(m2 * m2, 0) - 3, 6) AS kurtosis_excess
FROM c
"""


# ------------------------------------------------------------------ #
# skyline / Pareto frontier
# ------------------------------------------------------------------ #

def _pareto_pts_cte() -> str:
    return """pts AS (
  SELECT p_brand, p_size,
    MIN(CAST(p_retailprice AS DECIMAL(12,2))) AS minp,
    CAST(COUNT(*) AS BIGINT) AS n_parts_at_size
  FROM part GROUP BY p_brand, p_size)"""


def parts_pareto_frontier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand SKYLINE (Pareto frontier) of parts: maximize p_size,
    minimize p_retailprice — the classic dominance operator (Borzsony
    et al., ICDE'01) the reference's query surface lacks.  Spark form:
    one exchange to the (brand, size) grain, then a strict-preceding
    running MIN over sizes DESC *partitioned by brand* — the window
    input is bounded by |size domain| rows per brand (the house rule
    for global-order windows), sizes are unique within a brand after
    the group-by, and a point survives iff no strictly-larger size is
    as cheap.  The oracle states dominance directly (NOT EXISTS) — an
    algorithm-diverse pairing: window recurrence vs quadratic
    definition must agree point-for-point."""
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
WITH {_pareto_pts_cte()},
w AS (
  SELECT p_brand, p_size, minp, n_parts_at_size,
    MIN(minp) OVER (PARTITION BY p_brand ORDER BY p_size DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_larger
  FROM pts)
SELECT p_brand, p_size, CAST(minp AS DOUBLE) AS frontier_price,
  n_parts_at_size
FROM w WHERE best_larger IS NULL OR minp < best_larger
"""
    )


def parts_pareto_frontier_oracle() -> str:
    return f"""
WITH {_pareto_pts_cte()}
SELECT a.p_brand, a.p_size, CAST(a.minp AS DOUBLE) AS frontier_price,
  a.n_parts_at_size
FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE b.p_brand = a.p_brand AND b.p_size >= a.p_size
    AND b.minp <= a.minp
    AND (b.p_size > a.p_size OR b.minp < a.minp))
"""


# ------------------------------------------------------------------ #
# blocked fuzzy matching (edit distance)
# ------------------------------------------------------------------ #

def part_name_fuzzy_builder(dialect: str) -> str:
    """Entity-resolution pairs: same-brand parts whose names are within
    edit distance 2 (``levenshtein`` agrees between engines — probed).
    The scale design is the standard blocked fuzzy join: a cheap
    equality BLOCK (p_brand) bounds the self-join, then a length-
    difference filter (|len a - len b| <= 2 is NECESSARY for edit
    distance <= 2) prunes before the quadratic distance evaluates —
    the same block-then-verify shape as the LSH pipeline, with the
    block key playing the band role.  At 100 TB the block key widens
    to (brand, length bucket); the verify stage is embarrassingly
    parallel either way."""
    return """
SELECT a.p_brand, a.p_partkey AS pk_a, b.p_partkey AS pk_b,
  a.p_name AS name_a, b.p_name AS name_b,
  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2
  AND levenshtein(a.p_name, b.p_name) <= 2
"""


# ------------------------------------------------------------------ #
# gap-fill imputation (forward fill via IGNORE NULLS)
# ------------------------------------------------------------------ #

def events_forward_fill_builder(dialect: str) -> str:
    """Forward-fill imputation — the pandas ``ffill`` / kdb ``fills``
    surface: a deterministic mask NULLs every 5th event's value, then
    ``last_value IGNORE NULLS`` over the per-user time order carries
    the last observation forward (dialect-split spelling,
    portable.last_value_ignore_nulls; leading NULLs stay NULL).
    Aggregated to a per-type audit so the output is bounded: masked /
    filled / unfillable counts and the exact-decimal sum of the
    values actually imputed.  The window is user-partitioned (bounded
    per-user history — no global order), and the whole operator is one
    window pass + one aggregation."""
    lv = last_value_ignore_nulls("v", dialect)
    return f"""
WITH masked AS (
  SELECT event_type, user_id, ts, event_id,
    CASE WHEN event_id % 5 = 0 THEN NULL
         ELSE CAST(value AS DECIMAL(8,2)) END AS v
  FROM events),
filled AS (
  SELECT event_type, v,
    {lv} OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vf
  FROM masked)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
  CAST(SUM(CASE WHEN v IS NULL AND vf IS NOT NULL THEN 1 ELSE 0 END)
    AS BIGINT) AS n_filled,
  CAST(SUM(CASE WHEN vf IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_unfillable,
  CAST(CAST(SUM(CASE WHEN v IS NULL THEN vf END) AS DECIMAL(38,6))
    AS DOUBLE) AS imputed_sum
FROM filled GROUP BY event_type
"""


# ------------------------------------------------------------------ #
# stream-stream LEFT OUTER join (entry glue; impl in streaming/events)
# ------------------------------------------------------------------ #

def stream_left_outer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.events import click_purchase_left_join

    register_views(spark, sf_dir)
    return click_purchase_left_join(spark, sf_dir, within_minutes=10)


def stream_left_outer_oracle() -> str:
    """Batch model of the watermarked left-outer stream-stream join.
    The join itself is the inner oracle's LEFT JOIN; the streaming part
    is the EMISSION rule for NULL-extended rows: a click is declared
    unmatched only once the query watermark passes the end of its join
    window.  With both sides watermarked, Spark's global watermark is
    the MIN over the two sides (each ``max event time - 30 min``) —
    modeled by the LEAST() horizon below; clicks whose window end is
    not strictly below it are withheld by the drained bounded stream
    (calibrated at sf0.001 AND sf0.01: the one-row difference between
    the single- and two-sided horizon at sf0.001 selects this form;
    microsecond timestamps keep the <-vs-<= boundary tie-free)."""
    return """
WITH mx AS (
  SELECT LEAST(
    MAX(CASE WHEN event_type = 'click' THEN ts END),
    MAX(CASE WHEN event_type = 'purchase' THEN ts END))
    - INTERVAL 30 MINUTE AS wm
  FROM events),
c AS (SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
      WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
      FROM events WHERE event_type = 'purchase')
SELECT c.click_id, p.purchase_id, c.user_id,
  CAST(floor(epoch(p.p_ts)) AS BIGINT)
    - CAST(floor(epoch(c.c_ts)) AS BIGINT) AS gap_seconds
FROM c CROSS JOIN mx m LEFT JOIN p
  ON c.user_id = p.p_user AND p.p_ts >= c.c_ts
 AND p.p_ts <= c.c_ts + INTERVAL 10 MINUTE
WHERE p.purchase_id IS NOT NULL
   OR c.c_ts + INTERVAL 10 MINUTE < m.wm
"""


# ------------------------------------------------------------------ #
# higher-order array functions (lambda surface)
# ------------------------------------------------------------------ #

def embedding_hof_builder(dialect: str) -> str:
    """Per-vector stats computed ENTIRELY with higher-order array
    lambdas — the transform / filter / fold surface (Spark
    ``transform``/``filter``/``aggregate`` vs DuckDB ``list_transform``
    /``list_filter``/``list_reduce``) — no explode, no shuffle: the
    whole operator is a map-only projection, the cheapest possible
    shape for per-row array feature extraction at 100 TB.

    Cross-engine exactness: floats cast to DOUBLE inside the lambda
    (exact widening), then both folds are LEFT folds over the same
    element order — Spark's ``aggregate`` seeds 0.0 (0 + x1^2 == x1^2
    exactly), DuckDB's ``list_reduce`` seeds the first element — so the
    partial sums are the identical IEEE sequence."""
    if dialect == SPARK:
        dim = "size(embedding)"
        sumsq = (
            "aggregate(embedding, CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
        npos = "size(filter(embedding, x -> x > 0))"
        maxabs = "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
    else:
        dim = "len(embedding)"
        sumsq = (
            "list_reduce(list_transform(embedding, "
            "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)"
        )
        npos = "len(list_filter(embedding, x -> x > 0))"
        maxabs = "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
    return f"""
SELECT vec_id, label,
  CAST({dim} AS INT) AS dim,
  ROUND(SQRT({sumsq}), 6) AS l2_norm,
  CAST({npos} AS INT) AS n_positive,
  ROUND({maxabs}, 6) AS max_abs
FROM embeddings
"""


# ------------------------------------------------------------------ #
# exponential time-decay scoring
# ------------------------------------------------------------------ #

def user_decay_scores_builder(dialect: str) -> str:
    """Top-20 users by exponentially time-decayed engagement score
    (half-life-style recency weighting, the standard feature-store
    recency aggregate): score = sum(value * exp(-age_days / 30)).

    Exactness: age is an INTEGER day difference against the corpus max
    day (<= ~31 distinct values on the fixture), so ``exp`` sees a tiny
    finite input set; each weight is ROUND(exp, 4) -> DECIMAL(8,4) (the
    ln ROUND-before-sum discipline applied to exp; scale 4 so the
    (8,2)x(8,4) contribution lands at scale 6 EXACTLY — a scale-6
    weight would make the product scale 8 and the (38,6) cast a lossy
    mid-sum rounding), and the per-user sum
    casts through (38,6) to DOUBLE.  The top-20 is ORDER BY score DESC
    with user_id tie-break + LIMIT — TakeOrderedAndProject in Spark
    (the exact_top_keys spine shape), never a global rank window."""
    day = days_since_epoch("ts", dialect)
    return f"""
WITH d AS (
  SELECT user_id, CAST(value AS DECIMAL(8,2)) AS v, {day} AS dayn
  FROM events),
mx AS (SELECT MAX(dayn) AS maxd FROM d),
w AS (
  SELECT user_id, v,
    CAST(ROUND(EXP(-CAST(m.maxd - dayn AS DOUBLE) / 30.0), 4)
      AS DECIMAL(8,4)) AS wt
  FROM d CROSS JOIN mx m),
s AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(CAST(SUM(v * wt) AS DECIMAL(38,6)) AS DOUBLE) AS decay_score
  FROM w GROUP BY user_id)
SELECT user_id, n_events, decay_score
FROM s ORDER BY decay_score DESC, user_id LIMIT 20
"""


# ------------------------------------------------------------------ #
# triangle counting on the near-dup candidate graph
# ------------------------------------------------------------------ #

def _lsh_candidate_edges(spark: SparkSession) -> DataFrame:
    """The (doc_a < doc_b) MinHash-LSH candidate edge set, computed once
    from the single-pass band table (minhash_bands_sql) and
    checkpointed — the shared graph input of the triangle-count and
    BFS-hops entries (each references it several times; CTE re-inlining
    would recompute the whole signature pipeline per reference)."""
    from .functions.dedup import minhash_bands_sql

    v = register_temp_view(spark.sql(minhash_bands_sql(SPARK)), "_g_bands")
    return spark.sql(
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        f"FROM {v} a JOIN {v} b "
        "ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id"
    ).localCheckpoint(eager=True)


def neardup_triangle_oracle() -> str:
    """Id-ordered brute triangle enumeration over the LSH candidate
    edge set (doc_a < doc_b already): a triangle (a < b < c) is the
    join of edges ab, bc, ac.  Wedge count is the orientation-free
    node-sum C(d, 2).  The triangle COUNT is orientation-invariant, so
    this id-ordered oracle pins the Spark side's degree-oriented
    algorithm."""
    from .functions.dedup import minhash_lsh_pairs_sql

    edges = minhash_lsh_pairs_sql(DUCK)
    return f"""
WITH e AS ({edges}),
deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT doc_a AS v FROM e UNION ALL SELECT doc_b AS v FROM e) _u
  GROUP BY v),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t
  FROM e e1 JOIN e e2 ON e2.doc_a = e1.doc_b
  JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
  CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
  CAST((SELECT SUM(d * (d - 1)) / 2 FROM deg) AS BIGINT) AS n_wedges,
  (SELECT t FROM tri) AS n_triangles,
  ROUND(CAST(3 * (SELECT t FROM tri) AS DOUBLE)
    / NULLIF((SELECT SUM(d * (d - 1)) / 2 FROM deg), 0), 6)
    AS global_clustering
"""


def neardup_triangle_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the MinHash-LSH
    candidate graph — the graph-health companion to the component/
    cluster reports (a near-dup graph that is a union of cliques has
    clustering 1.0; bridges and chains pull it down).

    Scale design: the DEGREE-ORIENTED algorithm (each edge pointed from
    its lower-(degree, id) endpoint), the standard bound on enumeration
    cost — every wedge is generated at its lowest-degree apex, so a
    high-degree hub never fans out candidate wedges (sum of squared
    OUT-degrees is O(edges^1.5) instead of the hub's d^2).  Wedges join
    against oriented edges to close triangles; the count is invariant
    to orientation, which is exactly what the id-ordered brute oracle
    pins.  The edge set (from the single-pass band table,
    minhash_bands_sql), the degree table, and the oriented-edge frame
    are each multi-referenced and checkpointed once."""
    register_views(spark, sf_dir)
    ve = register_temp_view(_lsh_candidate_edges(spark), "_tri_edges")
    # deg feeds the orientation (twice) + the wedge total; o feeds both
    # wedge sides + the closing join — checkpoint each once (CTE
    # re-inlining would recompute deg 3x and the orientation join 3x)
    deg = spark.sql(
        "SELECT v, CAST(COUNT(*) AS BIGINT) AS d "
        f"FROM (SELECT doc_a AS v FROM {ve} "
        f"      UNION ALL SELECT doc_b AS v FROM {ve}) _u GROUP BY v"
    ).localCheckpoint(eager=True)
    vdeg = register_temp_view(deg, "_tri_deg")
    o = spark.sql(
        f"""
SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.doc_a < e.doc_b)
       THEN e.doc_a ELSE e.doc_b END AS u,
       CASE WHEN da.d < db.d OR (da.d = db.d AND e.doc_a < e.doc_b)
       THEN e.doc_b ELSE e.doc_a END AS v,
       CASE WHEN da.d < db.d OR (da.d = db.d AND e.doc_a < e.doc_b)
       THEN db.d ELSE da.d END AS dv
FROM {ve} e
JOIN {vdeg} da ON da.v = e.doc_a JOIN {vdeg} db ON db.v = e.doc_b
"""
    ).localCheckpoint(eager=True)
    vo = register_temp_view(o, "_tri_o")
    return spark.sql(
        f"""
WITH wedge AS (
  -- wedge endpoints ordered by the SAME (degree, id) orientation key,
  -- so the closing edge (if any) is oriented exactly x -> y: the
  -- triangle test stays a single equi-join
  SELECT CASE WHEN a.dv < b.dv OR (a.dv = b.dv AND a.v < b.v)
         THEN a.v ELSE b.v END AS x,
         CASE WHEN a.dv < b.dv OR (a.dv = b.dv AND a.v < b.v)
         THEN b.v ELSE a.v END AS y
  FROM {vo} a JOIN {vo} b ON a.u = b.u AND a.v < b.v),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t
  FROM wedge w JOIN {vo} o ON o.u = w.x AND o.v = w.y),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
    CAST(SUM(d * (d - 1)) / 2 AS BIGINT) AS n_wedges
  FROM {vdeg})
SELECT s.n_nodes,
  CAST((SELECT COUNT(*) FROM {ve}) AS BIGINT) AS n_edges,
  s.n_wedges, tri.t AS n_triangles,
  ROUND(CAST(3 * tri.t AS DOUBLE) / NULLIF(s.n_wedges, 0), 6)
    AS global_clustering
FROM stats s CROSS JOIN tri
"""
    )


# ------------------------------------------------------------------ #
# exact weighted median, two-phase (bucket route + in-bucket finish)
# ------------------------------------------------------------------ #

_WM_BUCKETS = 64


def _wm_grain_cte() -> str:
    """Shared dup-aggregated grain: per (returnflag, price) the summed
    quantity weight — exact decimals, identical text both sides."""
    return """c AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DECIMAL(12,2)) AS x,
    CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DECIMAL(19,2)) AS wt
  FROM lineitem GROUP BY l_returnflag, CAST(l_extendedprice AS DECIMAL(12,2)))"""


def weighted_median_oracle() -> str:
    """One-shot window formulation: cumulative weight over the per-group
    price order; the weighted median is the first price whose doubled
    cumulative weight reaches the group total (integer-free exact
    decimal comparison ``2*cw >= tw``)."""
    return f"""
WITH {_wm_grain_cte()},
cum AS (
  SELECT g, x, wt,
    SUM(wt) OVER (PARTITION BY g ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
    SUM(wt) OVER (PARTITION BY g) AS tw
  FROM c)
SELECT g AS l_returnflag, CAST(MIN(x) AS DOUBLE) AS weighted_median,
  CAST(MIN(tw) AS DOUBLE) AS total_weight
FROM cum WHERE 2 * cw >= tw GROUP BY g
"""


def weighted_median_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median (price weighted by quantity, per return
    flag) via the TWO-PHASE bucket algorithm — the scalable form of the
    oracle's one-shot cumulative window, whose per-group running sum is
    a per-group single-task sort over every distinct price (fine for
    many small groups, a straggler when a few groups hold billions of
    rows):

    phase 1 routes each price into one of 64 value-range buckets and
    cumulates the 64 per-(group, bucket) weights (a bounded window);
    phase 2 finishes INSIDE the single bucket containing the median —
    1/64th of the group — carrying the exact cumulative weight below
    the bucket.  Recursing on the bucket width drives the finish stage
    arbitrarily small at 100 TB.  The bucket expression is textually
    identical in both phases, so the routing doubles are the same IEEE
    values; the median test stays the exact decimal ``2*cw >= tw``.
    The grain frame feeds both phases (checkpointed once); the range
    and the 4-row probe table are broadcast 1-row/4-row aggregates.
    The grain, the 1-row range, and the <=64-rows-per-group bucket
    cumulative are each multi-referenced and checkpointed once."""
    register_views(spark, sf_dir)
    grain = spark.sql(f"WITH {_wm_grain_cte()} SELECT * FROM c").localCheckpoint(
        eager=True
    )
    vc = register_temp_view(grain, "_wm_c")
    rng = spark.sql(
        "SELECT MIN(CAST(x AS DOUBLE)) AS minx, MAX(CAST(x AS DOUBLE)) AS maxx "
        f"FROM {vc}"
    ).localCheckpoint(eager=True)
    vrng = register_temp_view(rng, "_wm_rng")
    b = (
        f"LEAST(CAST(FLOOR((CAST(x AS DOUBLE) - minx) * {_WM_BUCKETS}.0 "
        f"/ (maxx - minx + 0.01)) AS INT), {_WM_BUCKETS - 1})"
    )
    bcum = spark.sql(
        f"""
WITH bw AS (
  SELECT g, {b} AS b, SUM(wt) AS bwt
  FROM {vc} CROSS JOIN {vrng} GROUP BY g, {b})
SELECT g, b, bwt,
  SUM(bwt) OVER (PARTITION BY g ORDER BY b
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
  SUM(bwt) OVER (PARTITION BY g) AS tw
FROM bw
"""
    ).localCheckpoint(eager=True)
    vbcum = register_temp_view(bcum, "_wm_bcum")
    return spark.sql(
        f"""
WITH probe AS (
  SELECT g, MIN(b) AS mb FROM {vbcum} WHERE 2 * cb >= tw GROUP BY g),
below AS (
  SELECT bc.g, bc.tw,
    COALESCE(SUM(CASE WHEN bc.b < p.mb THEN bc.bwt END), 0) AS cbelow
  FROM {vbcum} bc JOIN probe p ON p.g = bc.g
  GROUP BY bc.g, bc.tw),
fin AS (
  SELECT c.g, c.x, c.wt, bl.cbelow, bl.tw
  FROM {vc} c CROSS JOIN {vrng}
  JOIN probe p ON p.g = c.g AND {b} = p.mb
  JOIN below bl ON bl.g = c.g),
fcum AS (
  SELECT g, x, cbelow + SUM(wt) OVER (PARTITION BY g ORDER BY x
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw, tw
  FROM fin)
SELECT g AS l_returnflag, CAST(MIN(x) AS DOUBLE) AS weighted_median,
  CAST(MIN(tw) AS DOUBLE) AS total_weight
FROM fcum WHERE 2 * cw >= tw GROUP BY g
"""
    )


# ------------------------------------------------------------------ #
# BFS hop distances on the near-dup candidate graph
# ------------------------------------------------------------------ #

_BFS_SEED_SOURCE = "src0"
_BFS_MAX_HOPS = 4


def neardup_bfs_oracle() -> str:
    """Recursive-CTE BFS (DuckDB ``WITH RECURSIVE`` + the dedup of
    ``UNION`` terminating cycles): min-hop distance from the seed
    source's documents over the LSH candidate edges, capped at 4 hops.
    The Spark side iterates frontiers instead (Spark SQL has no
    recursive CTEs) — an algorithm-diverse pairing: fixpoint recursion
    vs explicit frontier expansion must produce the same distance
    histogram."""
    from .functions.dedup import minhash_lsh_pairs_sql

    return f"""
WITH RECURSIVE e AS ({minhash_lsh_pairs_sql(DUCK)}),
seeds AS (SELECT doc_id FROM documents WHERE source = '{_BFS_SEED_SOURCE}'),
reach(doc_id, hop) AS (
  SELECT doc_id, 0 FROM seeds
  UNION
  SELECT CASE WHEN e.doc_a = r.doc_id THEN e.doc_b ELSE e.doc_a END,
         r.hop + 1
  FROM reach r JOIN e ON e.doc_a = r.doc_id OR e.doc_b = r.doc_id
  WHERE r.hop < {_BFS_MAX_HOPS}),
d AS (SELECT doc_id, CAST(MIN(hop) AS INT) AS hop FROM reach GROUP BY doc_id)
SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_docs FROM d GROUP BY hop
"""


def neardup_bfs_hops_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop distance histogram from one source's documents across the
    LSH candidate graph (contamination reach: how far does material
    from a given corpus propagate through near-duplicate links?).

    Scale design: classic distributed BFS — per round, the frontier
    joins the edge set in BOTH directions, anti-joins the visited set,
    and the result is eagerly checkpointed (the iterative-loop house
    rule); rounds are bounded by the hop cap, each round's shuffles
    touch only frontier-adjacent edges, and an empty frontier
    short-circuits via a 1-row count read (the allowed collect class).
    The oracle is DuckDB's recursive CTE — same distances by a
    different fixpoint."""
    register_views(spark, sf_dir)
    from pyspark.sql import functions as F

    edges = _lsh_candidate_edges(spark)
    seeds = (
        spark.table("documents")
        .filter(F.col("source") == _BFS_SEED_SOURCE)
        .select(F.col("doc_id"), F.lit(0).alias("hop"))
        .localCheckpoint(eager=True)
    )
    visited = seeds
    frontier = seeds.select("doc_id")
    for hop in range(1, _BFS_MAX_HOPS + 1):
        fwd = frontier.join(edges, frontier.doc_id == edges.doc_a).select(
            edges.doc_b.alias("doc_id")
        )
        bwd = frontier.join(edges, frontier.doc_id == edges.doc_b).select(
            edges.doc_a.alias("doc_id")
        )
        nxt = (
            fwd.unionByName(bwd)
            .distinct()
            .join(visited, "doc_id", "left_anti")
            .withColumn("hop", F.lit(hop))
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:  # 1-row convergence read
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("doc_id")
    return (
        visited.groupBy(F.col("hop").cast("int").alias("hop"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# ------------------------------------------------------------------ #
# gaps-and-islands: activity streaks
# ------------------------------------------------------------------ #

def events_streak_histogram_builder(dialect: str) -> str:
    """Consecutive-active-day streaks per user (the classic
    gaps-and-islands idiom: island id = day number minus per-user day
    rank, constant within a run of consecutive days), aggregated to a
    streak-length histogram with the distinct users holding each
    length.  One distinct (user, day) pass over the fact table; the
    rank window is user-partitioned over that user's distinct days
    (bounded by the calendar)."""
    day = days_since_epoch("ts", dialect)
    return f"""
WITH ud AS (SELECT DISTINCT user_id, {day} AS dayn FROM events),
isl AS (
  SELECT user_id, dayn,
    dayn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dayn) AS isl
  FROM ud),
st AS (
  SELECT user_id, isl, CAST(COUNT(*) AS BIGINT) AS streak_len
  FROM isl GROUP BY user_id, isl)
SELECT streak_len, CAST(COUNT(*) AS BIGINT) AS n_streaks,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM st GROUP BY streak_len
"""


# ------------------------------------------------------------------ #
# chi-square independence test (source x lang)
# ------------------------------------------------------------------ #

def _chisq_cells_core() -> str:
    """Observed (source, lang) counts — the one multi-referenced frame
    (row totals, column totals, grand total, and the cell join all read
    it); the Spark form checkpoints it, the oracle nests it.  The text
    is dialect-neutral by construction (no dialect parameter — the
    shared-text invariant made explicit)."""
    return (
        "SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o "
        "FROM documents GROUP BY source, lang"
    )


def _chisq_final(src: str) -> str:
    """Pearson chi-square contributions per source over ``src`` (a view
    name or parenthesized subquery of (source, lang, o) counts).
    Expected counts include the ZERO cells (cross join of marginals,
    left-joined to observed) — omitting them understates the statistic.
    Each cell term is ROUND(.,6) -> DECIMAL(18,6) before the sum (the
    ln/exp rounding discipline: decimal sums are order-independent,
    double sums are not), then one cast back to DOUBLE."""
    return f"""
WITH rt AS (SELECT source, CAST(SUM(o) AS BIGINT) AS rt FROM {src} _r
            GROUP BY source),
ct AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS ct FROM {src} _c
       GROUP BY lang),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM {src} _n),
cells AS (
  SELECT r.source, c.lang, COALESCE(obs.o, 0) AS o,
    CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE) / CAST(n.n AS DOUBLE) AS e
  FROM rt r CROSS JOIN ct c CROSS JOIN n
  LEFT JOIN {src} obs ON obs.source = r.source AND obs.lang = c.lang)
SELECT source, CAST(SUM(o) AS BIGINT) AS n_docs,
  CAST(CAST(SUM(CAST(ROUND((o - e) * (o - e) / e, 6) AS DECIMAL(18,6)))
    AS DECIMAL(38,6)) AS DOUBLE) AS chi2_contrib
FROM cells GROUP BY source
"""


def source_lang_chisq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test of source x lang: per-source
    contribution to the statistic (sum across sources = the full chi2
    with (|sources|-1)(|langs|-1) degrees of freedom) — the
    is-my-language-mix-source-dependent diagnostic beside the
    entropy/KL views of the same table.  The observed-count frame
    feeds four consumers, so the Spark form checkpoints it once."""
    register_views(spark, sf_dir)
    obs = spark.sql(_chisq_cells_core()).localCheckpoint(eager=True)
    v = register_temp_view(obs, "_chisq_obs")
    return spark.sql(_chisq_final(v))


def source_lang_chisq_oracle() -> str:
    return _chisq_final(f"({_chisq_cells_core()})")


# ------------------------------------------------------------------ #
# clamped (floor-0) running balance — windowed, no sequential scan
# ------------------------------------------------------------------ #

def user_clamped_ledger_builder(dialect: str) -> str:
    """Floor-clamped running balance per user — the inventory/credit
    recursion b_i = max(0, b_{i-1} + delta_i), which LOOKS inherently
    sequential but has the closed form

        b_i = S_i - LEAST(0, min_{j<=i} S_j)

    (S = plain prefix sum): two stacked per-user windows replace the
    per-row recursion, so the operator stays a bounded-partition window
    pass instead of a stateful scan.  Deltas: purchases credit +value,
    errors debit -value (the refund/chargeback ledger).  Everything is
    exact DECIMAL until the final DOUBLE casts; a row touches the floor
    iff its prefix sum equals the running min at a non-positive value
    with a debit delta — counted without materializing b per row."""
    es = epoch_s("ts", dialect)
    v = "CAST(value AS DECIMAL(8,2))"
    z = "CAST(0 AS DECIMAL(18,2))"
    return f"""
WITH d AS (
  SELECT user_id, {es} AS es, event_id,
    CASE WHEN event_type = 'purchase' THEN {v} ELSE -{v} END AS delta
  FROM events WHERE event_type IN ('purchase', 'error')),
s AS (
  SELECT user_id, es, event_id, delta,
    SUM(delta) OVER (PARTITION BY user_id ORDER BY es, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps
  FROM d),
m AS (
  SELECT user_id, delta, ps,
    MIN(ps) OVER (PARTITION BY user_id ORDER BY es, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmin
  FROM s)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_moves,
  -- CASE, not LEAST: DuckDB's LEAST over decimals returns DOUBLE
  -- (measured: 5.63 became 5.629999...); CASE keeps DECIMAL.  The
  -- (18,2) downcasts are lossless (per-user sums are tiny) and keep
  -- the subtraction inside width 38 on both engines.
  CAST(CAST(SUM(delta) AS DECIMAL(18,2))
    - (CASE WHEN MIN(ps) < {z} THEN CAST(MIN(ps) AS DECIMAL(18,2))
       ELSE {z} END) AS DOUBLE) AS final_balance,
  CAST(-(CASE WHEN MIN(ps) < {z} THEN CAST(MIN(ps) AS DECIMAL(18,2))
       ELSE {z} END) AS DOUBLE) AS absorbed_deficit,
  CAST(SUM(CASE WHEN delta < 0 AND ps = rmin AND ps <= 0
    THEN 1 ELSE 0 END) AS BIGINT) AS n_floor_touches
FROM m GROUP BY user_id
"""


# ------------------------------------------------------------------ #
# join-key skew diagnostic
# ------------------------------------------------------------------ #

def join_key_skew_builder(dialect: str) -> str:
    """Key-distribution report for the three hottest join/shuffle keys —
    the planning diagnostic behind every salting / AQE-skew decision:
    rows, distinct keys, max and p99 rows-per-key (the pinned
    percentile ≡ quantile_cont pair), and the top-1 key's share.  Each
    block is one map-side-combinable aggregate over the key-count
    grain; at 100 TB this is the report you run BEFORE choosing a join
    strategy, at a cost of one shuffle per key column."""
    pct = "percentile" if dialect == SPARK else "quantile_cont"
    blocks = []
    for rel, col in (
        ("lineitem", "l_orderkey"),
        ("orders", "o_custkey"),
        ("events", "user_id"),
    ):
        blocks.append(f"""
SELECT '{rel}.{col}' AS rel_key,
  CAST(SUM(c) AS BIGINT) AS n_rows,
  CAST(COUNT(*) AS BIGINT) AS n_keys,
  CAST(MAX(c) AS BIGINT) AS max_rows_per_key,
  ROUND({pct}(c, 0.99), 6) AS p99_rows_per_key,
  ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS top1_share
FROM (SELECT {col} AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM {rel} GROUP BY {col}) _{rel}""")
    return " UNION ALL ".join(blocks)


# ------------------------------------------------------------------ #
# exact cumulative reach (running distinct users)
# ------------------------------------------------------------------ #

def events_cumulative_reach_builder(dialect: str) -> str:
    """EXACT running distinct-user count per day — the cumulative-reach
    curve: a user contributes on exactly their FIRST day, so the
    running distinct collapses to first-seen-day counts + a running sum
    over the day spine (<= |calendar| rows — the bounded-global-window
    house rule, same class as orders_backlog_profile).  This is the
    exact companion to the approximate ``hll_rolling_7day`` surface:
    one user-grain aggregate, one day-grain aggregate, one bounded
    window — no day-over-day distinct rescans."""
    day = days_since_epoch("ts", dialect)
    return f"""
WITH fs AS (SELECT user_id, MIN({day}) AS d0 FROM events GROUP BY user_id),
per AS (SELECT d0, CAST(COUNT(*) AS BIGINT) AS new_users FROM fs GROUP BY d0),
days AS (SELECT DISTINCT {day} AS d FROM events)
SELECT d AS day_num, COALESCE(new_users, 0) AS new_users,
  CAST(SUM(COALESCE(new_users, 0)) OVER (ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cumulative_reach
FROM days LEFT JOIN per ON per.d0 = days.d
"""


# ------------------------------------------------------------------ #
# Neyman allocation (variance-proportional sampling design)
# ------------------------------------------------------------------ #

_NEYMAN_BUDGET = 1000


def neyman_allocation_builder(dialect: str) -> str:
    """Neyman-optimal stratified sample allocation for estimating
    mean(value): n_h proportional to N_h * S_h (stratum size x stratum
    std), integerized by largest-remainder so the allocations sum to
    the budget EXACTLY.  The std comes from the exact decimal moment
    sums (grouped_corr discipline); each weight N_h*S_h is
    ROUND(.,6) -> DECIMAL(18,6) so the denominator sum is
    order-independent (a double sum across strata would differ in ulps
    between engines); remainders rank over the |strata| rows (bounded
    window) with the stratum name as tie-break."""
    v = "CAST(value AS DECIMAL(8,2))"

    def d(expr: str) -> str:
        return f"CAST(CAST(SUM({expr}) AS DECIMAL(38,6)) AS DOUBLE)"

    B = _NEYMAN_BUDGET
    return f"""
WITH m AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
    {d(v)} AS s1, {d(f'{v} * {v}')} AS s2
  FROM events GROUP BY event_type),
w AS (
  SELECT event_type, CAST(n AS BIGINT) AS n_pop,
    ROUND(SQRT(s2 / n - (s1 / n) * (s1 / n)), 6) AS std_pop,
    CAST(ROUND(n * SQRT(s2 / n - (s1 / n) * (s1 / n)), 6)
      AS DECIMAL(18,6)) AS wt
  FROM m),
tot AS (SELECT CAST(SUM(wt) AS DECIMAL(38,6)) AS twt,
               CAST(SUM(CAST(FLOOR({B} * CAST(wt AS DOUBLE)
                 / CAST((SELECT CAST(SUM(wt) AS DECIMAL(38,6)) FROM w _i)
                   AS DOUBLE)) AS BIGINT)) AS BIGINT) AS base_total
        FROM w),
alloc AS (
  SELECT w.event_type, w.n_pop, w.std_pop,
    ROUND(CAST(wt AS DOUBLE) / CAST(twt AS DOUBLE), 6) AS alloc_frac,
    CAST(FLOOR({B} * CAST(wt AS DOUBLE) / CAST(twt AS DOUBLE)) AS BIGINT)
      AS base_n,
    {B} * CAST(wt AS DOUBLE) / CAST(twt AS DOUBLE)
      - FLOOR({B} * CAST(wt AS DOUBLE) / CAST(twt AS DOUBLE)) AS rem,
    t.base_total
  FROM w CROSS JOIN tot t),
ranked AS (
  SELECT event_type, n_pop, std_pop, alloc_frac, base_n, base_total,
    ROW_NUMBER() OVER (ORDER BY rem DESC, event_type) AS rr
  FROM alloc)
SELECT event_type, n_pop, std_pop, alloc_frac,
  CAST(base_n + CASE WHEN rr <= {B} - base_total THEN 1 ELSE 0 END
    AS BIGINT) AS n_alloc
FROM ranked
"""


# ------------------------------------------------------------------ #
# schema-evolution read (mergeSchema source surface)
# ------------------------------------------------------------------ #

def schema_evolution_read_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet SCHEMA EVOLUTION end-to-end: an 'old writer' lands files
    with (o_orderkey, o_totalprice), a 'new writer' adds
    o_orderpriority; one read with ``mergeSchema=true`` unions the
    physical schemas and NULL-fills the missing column — the
    add-a-column migration every long-lived table goes through.  The
    aggregate proves which rows carried the column (NULL group = the
    v1 file's rows, keyed by orderkey parity).  The oracle models the
    merged read relationally (UNION ALL with a NULL literal) — the
    driver hash proves the on-disk evolution path equals its
    relational semantics.  Files land under the per-app temp root (the
    persisted-store convention: deterministic rebuild per run)."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    orders = spark.table("orders")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(
        tempfile.gettempdir(),
        f"bdt_schema_evo_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(root, ignore_errors=True)
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v1.coalesce(1).write.mode("overwrite").parquet(os.path.join(root, "v1"))
    v2.coalesce(1).write.mode("overwrite").parquet(os.path.join(root, "v2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "v1"), os.path.join(root, "v2")
    )
    return (
        merged.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def schema_evolution_read_oracle() -> str:
    return """
WITH v1 AS (
  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0),
v2 AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1),
merged AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM merged GROUP BY o_orderpriority
"""


# ------------------------------------------------------------------ #
# exact grouped mode (deterministic tie-break)
# ------------------------------------------------------------------ #

def grouped_mode_builder(dialect: str) -> str:
    """Exact MODE per group with a deterministic tie-break (smallest
    value wins) — the two-stage formulation both engines share instead
    of their native ``mode()`` aggregates, whose tie-breaking is
    engine-defined: count the (group, value) grain (map-side
    combinable), then rank within the group over the bounded distinct-
    value set.  Quantity is a small discrete domain, so the rank
    window sees <= |domain| rows per group."""
    q = "CAST(l_quantity AS DECIMAL(9,2))"
    return f"""
WITH grain AS (
  SELECT l_returnflag AS g, {q} AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY l_returnflag, {q}),
r AS (
  SELECT g, v, c,
    ROW_NUMBER() OVER (PARTITION BY g ORDER BY c DESC, v) AS rn
  FROM grain)
SELECT g AS l_returnflag, CAST(v AS DOUBLE) AS mode_quantity,
  c AS mode_count
FROM r WHERE rn = 1
"""


# ------------------------------------------------------------------ #
# correlated LATERAL join (top-N per key without a window)
# ------------------------------------------------------------------ #

def lateral_recent_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 most recent orders for each of the 10 highest-balance
    customers via a correlated LATERAL join — the per-row-subquery
    surface (Spark 3.4+ ``JOIN LATERAL``): the inner ORDER BY + LIMIT
    runs once per outer row, the index-nested-loop idiom that beats a
    window when the outer side is tiny and the per-key result is
    short.  The oracle is the rank-window formulation of the same
    question — LATERAL semantics pinned against window semantics.
    Scale shape: the outer side is a 10-row TakeOrdered spine; at a
    large outer cardinality the window form (or a co-partitioned
    group-top-k) takes over — the entry demonstrates the surface, the
    docstring states the crossover."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
SELECT c.c_custkey, c.c_acctbal, o.o_orderkey,
  CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
FROM (SELECT c_custkey, c_acctbal FROM customer
      ORDER BY c_acctbal DESC, c_custkey LIMIT 10) c
JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_orderdate DESC, o_orderkey LIMIT 2) o ON TRUE
"""
    )


def lateral_recent_orders_oracle() -> str:
    return """
WITH topc AS (
  SELECT c_custkey, c_acctbal FROM customer
  ORDER BY c_acctbal DESC, c_custkey LIMIT 10),
r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY o_custkey
      ORDER BY o_orderdate DESC, o_orderkey) AS rn
  FROM orders WHERE o_custkey IN (SELECT c_custkey FROM topc))
SELECT c.c_custkey, c.c_acctbal, r.o_orderkey,
  CAST(r.o_totalprice AS DOUBLE) AS o_totalprice
FROM topc c JOIN r ON r.o_custkey = c.c_custkey AND r.rn <= 2
"""


# ------------------------------------------------------------------ #
# GROUPING SETS with GROUPING() markers
# ------------------------------------------------------------------ #

def grouping_id_report_builder(dialect: str) -> str:
    """GROUPING SETS with explicit ``GROUPING()`` flags — the markers
    that distinguish a NULL-as-rollup-total row from a NULL data value
    (the correctness hazard of consuming raw rollup output).  Three
    sets: per-year totals, per-priority totals, and the grand total;
    identical text in both engines (probed).  One pass, one exchange —
    Catalyst expands the sets map-side."""
    rev = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
    return f"""
SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderpriority,
  CAST(GROUPING(year(o_orderdate)) AS INT) AS is_total_over_years,
  CAST(GROUPING(o_orderpriority) AS INT) AS is_total_over_priorities,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  {rev} AS revenue
FROM orders
GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderpriority), ())
"""


# ------------------------------------------------------------------ #
# Z-order (Morton) layout locality report
# ------------------------------------------------------------------ #

def zorder_locality_builder(dialect: str) -> str:
    """Morton/Z-order interleaving as a LAYOUT operator, with its
    locality property measured: map (x, y) = (o_custkey mod 256,
    o_orderkey mod 256) onto the 16-bit Z-curve by explicit bit
    interleaving (shifts/ANDs — identical semantics probed in both
    engines), bucket by z >> 10, and report each bucket's x/y extents.
    Because bits 0..9 of z hold exactly the low 5 bits of BOTH
    coordinates, every bucket is an ALIGNED 32x32 tile: x_span and
    y_span are provably <= 31 — the property that makes Z-ordered file
    layout prunable on BOTH columns at once (the min/max zone maps of
    a z-sorted file are tight for x AND y, where a lexicographic sort
    is tight only for its leading column).  At 100 TB this is the
    clustering you apply before writing, so multi-dimensional
    predicates prune files instead of scanning them."""
    x = "(o_custkey % 256)"
    y = "(o_orderkey % 256)"
    z = " + ".join(
        f"((({x} >> {i}) & 1) * {1 << (2 * i)}) + "
        f"((({y} >> {i}) & 1) * {1 << (2 * i + 1)})"
        for i in range(8)
    )
    return f"""
WITH zc AS (
  SELECT CAST({x} AS INT) AS x, CAST({y} AS INT) AS y,
    CAST(({z}) AS INT) AS z
  FROM orders)
SELECT CAST(z >> 10 AS INT) AS tile,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(MIN(x) AS INT) AS x_min, CAST(MAX(x) AS INT) AS x_max,
  CAST(MIN(y) AS INT) AS y_min, CAST(MAX(y) AS INT) AS y_max,
  CAST(MAX(x) - MIN(x) AS INT) AS x_span,
  CAST(MAX(y) - MIN(y) AS INT) AS y_span
FROM zc GROUP BY z >> 10
"""


# ------------------------------------------------------------------ #
# incremental view maintenance (delta-apply vs recompute)
# ------------------------------------------------------------------ #

_IVM_SHIFT = 10_000_000
_IVM_INS_MOD, _IVM_DEL_MOD = 7, 13  # the tpch_refresh_cycle selections


def ivm_revenue_maintenance_builder(dialect: str) -> str:
    """INCREMENTAL VIEW MAINTENANCE of the per-priority revenue
    aggregate through a TPC-H-style refresh (RF1 insert batch = shifted
    copies of %100==7 orders, RF2 delete batch = %100==13): the
    materialized state is updated by APPLYING DELTAS — two FULL OUTER
    joins over the |groups|-sized frames, adding the insert batch's
    partial aggregate and subtracting the delete batch's — never
    rescanning the base fact table for the apply step.  SUM/COUNT are
    self-maintainable under insert AND delete, which is exactly why
    warehouses maintain them incrementally; groups whose maintained
    count reaches zero are dropped (the relational MV contract).

    At 100 TB the deltas are the day's change batch and the apply cost
    is O(|changed groups|); the recompute the ORACLE performs (rebuild
    from (base \\ deletes) UNION inserts) is the O(|base|) plan IVM
    exists to avoid — delta algebra pinned against recompute algebra.

    Decimal discipline: each partial SUM downcasts (losslessly) to
    (18,2) BEFORE the +/- chain — DuckDB widens aggregate sums to
    (38,2), and (38,2) +/- (38,2) would exceed width 38 and silently
    promote to DOUBLE (the measured trap in ROUND_NOTES)."""
    rev = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))"
    return f"""
WITH m AS (
  SELECT o_orderpriority AS g, CAST(COUNT(*) AS BIGINT) AS n, {rev} AS r
  FROM orders GROUP BY o_orderpriority),
ins AS (
  SELECT o_orderpriority AS g, CAST(COUNT(*) AS BIGINT) AS n, {rev} AS r
  FROM orders WHERE o_orderkey % 100 = {_IVM_INS_MOD}
  GROUP BY o_orderpriority),
del AS (
  SELECT o_orderpriority AS g, CAST(COUNT(*) AS BIGINT) AS n, {rev} AS r
  FROM orders WHERE o_orderkey % 100 = {_IVM_DEL_MOD}
  GROUP BY o_orderpriority),
j AS (
  SELECT COALESCE(m.g, i.g) AS g,
    COALESCE(m.n, 0) + COALESCE(i.n, 0) AS n,
    CAST(COALESCE(m.r, 0) + COALESCE(i.r, 0) AS DECIMAL(18,2)) AS r
  FROM m FULL OUTER JOIN ins i ON m.g = i.g)
SELECT COALESCE(j.g, d.g) AS o_orderpriority,
  CAST(j.n - COALESCE(d.n, 0) AS BIGINT) AS n_orders,
  CAST(CAST(j.r - COALESCE(d.r, 0) AS DECIMAL(18,2)) AS DOUBLE)
    AS revenue
FROM j FULL OUTER JOIN del d ON j.g = d.g
WHERE COALESCE(j.n, 0) - COALESCE(d.n, 0) > 0
"""


def ivm_revenue_maintenance_oracle() -> str:
    """The recompute IVM avoids: rebuild the refreshed fact table
    ((base minus deletes) union shifted inserts) and re-aggregate."""
    return f"""
WITH refreshed AS (
  SELECT o_orderpriority, o_totalprice FROM orders
  WHERE o_orderkey % 100 <> {_IVM_DEL_MOD}
  UNION ALL
  SELECT o_orderpriority, o_totalprice FROM orders
  WHERE o_orderkey % 100 = {_IVM_INS_MOD})
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM refreshed GROUP BY o_orderpriority
"""
