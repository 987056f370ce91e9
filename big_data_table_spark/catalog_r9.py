"""Round-9 builders: interval/grid concurrency analytics, entropy
reports (transition structure, language mix), corpus-health calibration
tables (boilerplate mining, token diversity, SimHash hamming
calibration, embedding anisotropy), and classic seasonality/migration
analytics.  Builders only — registration and ``DRIVER_HEAD``
stay in catalog.py (the r8 split's convention).

Every builder is dual-dialect (one algorithm, two SQL texts) except
`simhash_hamming_histogram_q`, whose Spark form checkpoints the shared
signature frame once (Spark inlines SQL CTEs — the flat SQL text would
recompute the signatures three times; the SQL text stays the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog_base import register_views
from .session import register_temp_view
from .functions.portable import (
    DUCK,
    SPARK,
    arr_len,
    epoch_s,
    lateral_arr,
    lateral_seq,
    split_ws,
)


# ------------------------------------------------------------------ #
# interval / grid analytics
# ------------------------------------------------------------------ #

def _cell_counts_core(dialect: str) -> str:
    """Shared stage of events_peak_concurrency: sessionize (30-min gap
    rule, per-user windows), explode each session interval onto the
    5-min cells it overlaps, count concurrent sessions per cell.
    Output: (cell, dayn, n) — calendar-bounded (≤ 288 cells/day)."""
    es = epoch_s("ts", dialect)
    cells = lateral_seq(
        "CAST(floor(st / 300) AS BIGINT)",
        "CAST(floor(en / 300) AS BIGINT)",
        "cell",
        dialect,
    )
    return f"""
WITH es AS (SELECT user_id, event_id, {es} AS es FROM events),
flagged AS (
  SELECT user_id, event_id, es,
    CASE WHEN LAG(es) OVER (PARTITION BY user_id ORDER BY es, event_id)
           IS NULL
         OR es - LAG(es) OVER (PARTITION BY user_id ORDER BY es, event_id)
           > 1800
    THEN 1 ELSE 0 END AS is_new
  FROM es),
sid AS (
  SELECT user_id, es,
    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY es, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
  FROM flagged),
sess AS (
  SELECT user_id, s, MIN(es) AS st, MAX(es) AS en
  FROM sid GROUP BY user_id, s),
cellhits AS (SELECT CAST(cell AS BIGINT) AS cell FROM sess {cells})
SELECT cell, CAST(floor(cell / 288) AS BIGINT) AS dayn,
  CAST(COUNT(*) AS BIGINT) AS n
FROM cellhits GROUP BY cell
"""


def _peak_concurrency_final(src: str) -> str:
    """Day-max over the cell-count relation ``src`` (a view name or a
    parenthesized subquery; earliest peak cell as the deterministic
    witness).  Identical text in both dialects."""
    return f"""
WITH daymax AS (SELECT dayn, MAX(n) AS peak FROM {src} _s GROUP BY dayn)
SELECT d.dayn AS day_num, d.peak AS peak_sessions,
  CAST(MIN(c.cell) * 300 AS BIGINT) AS peak_cell_start_s
FROM daymax d JOIN {src} c ON c.dayn = d.dayn AND c.n = d.peak
GROUP BY d.dayn, d.peak
"""


def events_peak_concurrency_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day on a 5-minute grid.  Scale
    shape: per-user session windows (bounded per-user history), a
    linear ≤ duration/300 cell fan-out of SESSION rows (not raw
    events), then a day-max over the calendar-bounded cell table — no
    global running sum over an unbounded boundary stream.  The cell
    table feeds both the day-max and the witness join, so the Spark
    form checkpoints it once (the SQL text re-inlines the whole
    sessionize — the measured CTE trap)."""
    register_views(spark, sf_dir)
    cc = spark.sql(_cell_counts_core(SPARK)).localCheckpoint(eager=True)
    v = register_temp_view(cc, "_r9_cell_counts")
    return spark.sql(_peak_concurrency_final(v))


def _peak_concurrency_oracle() -> str:
    return _peak_concurrency_final(f"({_cell_counts_core(DUCK)})")


def _interarrival_builder(dialect: str) -> str:
    """Inter-arrival profile per event type: for each user's consecutive
    same-type events, the gap in seconds; per type the gap count, total,
    and exact p50/p90 (Spark ``percentile`` ≡ DuckDB ``quantile_cont``,
    the bit-identical pair pinned by percentile_exact).  The lag window
    is partitioned by (user_id, event_type) — bounded per-user history —
    and the percentile is a grouped aggregate over a handful of type
    groups (the same declared 100 TB caveat as percentile_exact: swap in
    the t-digest surface when groups stop fitting a reducer)."""
    es = epoch_s("ts", dialect)
    pct = (
        (lambda q: f"percentile(gap, {q})")
        if dialect == SPARK
        else (lambda q: f"quantile_cont(gap, {q})")
    )
    return f"""
WITH es AS (SELECT user_id, event_id, event_type, {es} AS es FROM events),
gaps AS (
  SELECT event_type,
    es - LAG(es) OVER (PARTITION BY user_id, event_type
      ORDER BY es, event_id) AS gap
  FROM es)
SELECT event_type, CAST(COUNT(gap) AS BIGINT) AS n_gaps,
  CAST(SUM(gap) AS BIGINT) AS total_gap_s,
  ROUND({pct('0.5')}, 6) AS p50_gap_s,
  ROUND({pct('0.9')}, 6) AS p90_gap_s
FROM gaps WHERE gap IS NOT NULL GROUP BY event_type
"""


# ------------------------------------------------------------------ #
# entropy reports
# ------------------------------------------------------------------ #

def _transition_pairs_core(dialect: str) -> str:
    """Shared stage of events_transition_entropy: per-user successor
    pairs aggregated to the ≤ |types|² transition-count table
    (cur, nxt, c).  The lead window is per-user (bounded)."""
    es = epoch_s("ts", dialect)
    return f"""
WITH es AS (SELECT user_id, event_id, event_type, {es} AS es FROM events),
nx AS (
  SELECT event_type AS cur,
    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY es, event_id)
      AS nxt
  FROM es)
SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
FROM nx WHERE nxt IS NOT NULL GROUP BY cur, nxt
"""


def _transition_entropy_final(src: str) -> str:
    """Entropy + modal successor over the transition-count relation
    ``src``.  Entropy terms follow the ROUND-before-sum ln()
    discipline (each −p·ln p rounded to 6 dp, summed as DECIMAL(18,6))
    so both engines sum identical decimals; every window/join here is
    over the bounded ≤ |types|² frame."""
    return f"""
WITH tot AS (
  SELECT cur, CAST(SUM(c) AS BIGINT) AS t FROM {src} _p GROUP BY cur),
terms AS (
  SELECT p.cur,
    CAST(ROUND(-(CAST(p.c AS DOUBLE) / t.t)
      * ln(CAST(p.c AS DOUBLE) / t.t), 6) AS DECIMAL(18,6)) AS term
  FROM {src} p JOIN tot t ON p.cur = t.cur),
ent AS (
  SELECT cur, ROUND(CAST(SUM(term) AS DOUBLE), 6) AS entropy
  FROM terms GROUP BY cur),
top AS (
  SELECT cur, nxt, c,
    ROW_NUMBER() OVER (PARTITION BY cur ORDER BY c DESC, nxt) AS rn
  FROM {src} _q)
SELECT e.cur AS event_type, t.t AS n_transitions, e.entropy,
  top.nxt AS top_next, top.c AS top_next_n
FROM ent e JOIN tot t ON t.cur = e.cur
JOIN top ON top.cur = e.cur AND top.rn = 1
"""


def events_transition_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Successor-distribution Shannon entropy per event type: how
    predictable is the NEXT event given the current one (0 = fully
    deterministic flow, ln(5) ≈ 1.609 = uniform), with the modal
    successor as witness.  Complements events_markov_transitions (the
    full matrix) with the summary the monitoring layer thresholds.
    The pair table feeds totals, entropy terms AND the modal-successor
    rank, so the Spark form checkpoints it once (the SQL text's three
    references re-inline the per-user lead window — the measured CTE
    trap; 12 exchanges flat vs 4 checkpointed)."""
    register_views(spark, sf_dir)
    pairs = spark.sql(_transition_pairs_core(SPARK)).localCheckpoint(
        eager=True
    )
    v = register_temp_view(pairs, "_r9_transition_pairs")
    return spark.sql(_transition_entropy_final(v))


def _transition_entropy_oracle() -> str:
    return _transition_entropy_final(f"({_transition_pairs_core(DUCK)})")


def _lang_counts_core(dialect: str) -> str:
    """Shared stage of source_lang_entropy: the ≤ sources×langs count
    table (source, lang, n)."""
    return """
SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
FROM documents GROUP BY source, lang
"""


def _source_lang_entropy_final(src: str) -> str:
    """Entropy + dominant language over the (source, lang, n) relation
    ``src``; every stage here is over the bounded composition frame.
    ROUND-before-sum ln() discipline."""
    return f"""
WITH t AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS tot FROM {src} _c
  GROUP BY source),
terms AS (
  SELECT c.source,
    CAST(ROUND(-(CAST(n AS DOUBLE) / tot) * ln(CAST(n AS DOUBLE) / tot), 6)
      AS DECIMAL(18,6)) AS term
  FROM {src} c JOIN t ON c.source = t.source),
ent AS (
  SELECT source, ROUND(CAST(SUM(term) AS DOUBLE), 6) AS lang_entropy
  FROM terms GROUP BY source),
top AS (
  SELECT c.source, lang, n, tot,
    ROW_NUMBER() OVER (PARTITION BY c.source ORDER BY n DESC, lang) AS rn
  FROM {src} c JOIN t ON c.source = t.source)
SELECT e.source, top.tot AS n_docs, e.lang_entropy,
  top.lang AS dominant_lang,
  ROUND(CAST(top.n AS DOUBLE) / top.tot, 6) AS dominant_share
FROM ent e JOIN top ON top.source = e.source AND top.rn = 1
"""


def source_lang_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix entropy per source: how multilingual each crawl
    source is (0 = monolingual, ln(5) = uniform over the five fixture
    languages), with the dominant language and its share — the routing
    table for language-specific pipeline stages.  Distinct from
    source_kl_drift (drift of one source AGAINST a reference mix);
    this is each source's own composition.  The count table feeds
    totals, terms and the dominant-lang rank, so the Spark form
    checkpoints it once (three flat references = three document
    scans)."""
    register_views(spark, sf_dir)
    c = spark.sql(_lang_counts_core(SPARK)).localCheckpoint(eager=True)
    v = register_temp_view(c, "_r9_lang_counts")
    return spark.sql(_source_lang_entropy_final(v))


def _source_lang_entropy_oracle() -> str:
    return _source_lang_entropy_final(f"({_lang_counts_core(DUCK)})")


# ------------------------------------------------------------------ #
# classic analytics
# ------------------------------------------------------------------ #

def _per_month_core(dialect: str) -> str:
    """Shared stage of orders_seasonality_index: the months-grain
    revenue table (moy, mth, rev) with exact DECIMAL sums."""
    return """
WITH m AS (
  SELECT CAST(month(o_orderdate) AS BIGINT) AS moy,
    CAST(date_trunc('month', o_orderdate) AS DATE) AS mth,
    CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders)
SELECT moy, mth, CAST(SUM(p) AS DECIMAL(38,2)) AS rev
FROM m GROUP BY moy, mth
"""


def _seasonality_final(src: str) -> str:
    """Month-of-year index over the months-grain relation ``src``."""
    return f"""
WITH by_moy AS (
  SELECT moy, CAST(COUNT(*) AS BIGINT) AS n_months,
    CAST(SUM(rev) AS DECIMAL(38,2)) AS rev
  FROM {src} _pm GROUP BY moy)
SELECT moy AS month_of_year, n_months, CAST(rev AS DOUBLE) AS revenue,
  ROUND((CAST(rev AS DOUBLE) / n_months)
    / (CAST((SELECT SUM(rev) FROM {src} _t) AS DOUBLE)
       / (SELECT COUNT(*) FROM {src} _n)), 6) AS seasonality_index
FROM by_moy
"""


def orders_seasonality_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality index on order revenue: per calendar
    month (1-12), average monthly revenue relative to the overall
    monthly average (index 1.0 = flat).  orders_by_month emits the raw
    monthly series; this is the normalized cyclical profile a demand
    planner thresholds.  Revenue sums are exact DECIMAL(18,2) → (38,2).
    The months-grain frame feeds the index and both scalar subqueries,
    so the Spark form checkpoints it once (three flat references =
    three orders scans)."""
    register_views(spark, sf_dir)
    pm = spark.sql(_per_month_core(SPARK)).localCheckpoint(eager=True)
    v = register_temp_view(pm, "_r9_per_month")
    return spark.sql(_seasonality_final(v))


def _orders_seasonality_oracle() -> str:
    return _seasonality_final(f"({_per_month_core(DUCK)})")


_MIGRATION_SPLIT = "1998-04-01 00:00:00"  # midpoint of the fixture's
# 1995-01..2001-08 order range; a fixed boundary keeps the entry
# deterministic across engines and SFs.


def _spend_migration_builder(dialect: str) -> str:
    """Customer spend-tier migration: each customer's total spend in the
    first vs second half of the order-date range, bucketed by DIGIT
    COUNT of the integer spend (the doc_length_histogram device — exact
    integer buckets, no float log edges; bucket 0 = inactive in that
    half), emitted as the tier-transition matrix with churn/new rows
    included via the full outer join.  Two map-side-combinable
    aggregates meet in one customer-grain join — no windows, no
    fact-table self-join."""
    return f"""
WITH h1 AS (
  SELECT o_custkey AS ck,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s
  FROM orders WHERE o_orderdate < TIMESTAMP '{_MIGRATION_SPLIT}'
  GROUP BY o_custkey),
h2 AS (
  SELECT o_custkey AS ck,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s
  FROM orders WHERE o_orderdate >= TIMESTAMP '{_MIGRATION_SPLIT}'
  GROUP BY o_custkey),
b1 AS (
  SELECT ck, CAST(length(CAST(CAST(floor(CAST(s AS DOUBLE)) AS BIGINT)
    AS STRING)) AS BIGINT) AS b
  FROM h1),
b2 AS (
  SELECT ck, CAST(length(CAST(CAST(floor(CAST(s AS DOUBLE)) AS BIGINT)
    AS STRING)) AS BIGINT) AS b
  FROM h2)
SELECT COALESCE(b1.b, 0) AS tier_h1, COALESCE(b2.b, 0) AS tier_h2,
  CAST(COUNT(*) AS BIGINT) AS n_customers
FROM b1 FULL OUTER JOIN b2 ON b1.ck = b2.ck
GROUP BY COALESCE(b1.b, 0), COALESCE(b2.b, 0)
"""


# ------------------------------------------------------------------ #
# corpus-health calibration tables
# ------------------------------------------------------------------ #

def _token_diversity_builder(dialect: str) -> str:
    """Lexical diversity per source: token count, distinct-type count,
    type-token ratio, and Herdan's C (ln V / ln N — the size-robust
    variant) — the template-farm detector (a source whose TTR collapses
    is emitting generated/boilerplate text).  One token explode feeding
    one grouped distinct aggregate; ln values are ROUNDed to 6 dp
    BEFORE the ratio so both engines divide identical doubles."""
    w = split_ws("lower(text)", dialect)
    return f"""
WITH words AS (
  SELECT /*+ REPARTITION(32) */ doc_id, source, {w} AS w FROM documents),
docs AS (SELECT doc_id, source, w FROM words
  WHERE {arr_len('w', dialect)} >= 1),
tok AS (SELECT source, tk FROM docs {lateral_arr('w', 'tk', dialect)}),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
    CAST(COUNT(DISTINCT tk) AS BIGINT) AS n_types
  FROM tok GROUP BY source),
d AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source)
SELECT d.source, d.n_docs, a.n_tokens, a.n_types,
  ROUND(CAST(a.n_types AS DOUBLE) / a.n_tokens, 6) AS ttr,
  ROUND(ROUND(ln(CAST(a.n_types AS DOUBLE)), 6)
    / ROUND(ln(CAST(a.n_tokens AS DOUBLE)), 6), 6) AS herdan_c
FROM d JOIN agg a ON a.source = d.source
"""


def _boilerplate_ngram_builder(dialect: str) -> str:
    """Boilerplate mining: the top-20 word-3-gram shingles by document
    frequency (ties broken by occurrence count then shingle text) — the
    table of actual offenders behind shingle_df_profile's 51+ bucket
    and the candidate ban-list for the max_df cut in
    ngram_jaccard_pairs_sql.  One shingle aggregate + a
    TakeOrderedAndProject top-k (ORDER BY + LIMIT — never a global
    rank window)."""
    from .functions.dedup import _shingles_cte, _words_cte

    return f"""
WITH {_words_cte(dialect)}, {_shingles_cte(dialect, distinct=False)},
stats AS (
  SELECT sh, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
    CAST(COUNT(*) AS BIGINT) AS occurrences
  FROM shingles GROUP BY sh)
SELECT sh AS shingle, df, occurrences
FROM stats ORDER BY df DESC, occurrences DESC, sh LIMIT 20
"""


_ANISO_BUCKETS = 16


def _anisotropy_builder(dialect: str) -> str:
    """Embedding anisotropy report: the distribution of pairwise cosine
    similarities over a deterministic sample of pairs (id-hash bucket
    blocking: pairs meet only inside vec_id % 16 buckets — a fixed
    ~1/16 sample of all pairs with NO n² predicate, the same
    bucket-join shape the LSH stages use).  A healthy embedding space
    is centered near 0; a collapsed/anisotropic one piles mass in the
    high bins — the cheap early warning before any ANN/near-dup stage.
    Output: cosine decile bin (floor(cos·10), clamped [-10, 9]), pair
    count, and share (window over the ≤ 20-row bin table — bounded by
    construction).  Cosines ROUND to 6 dp before binning so both
    engines bin identically."""
    from .functions.similarity import _dot_sql, _vecs_cte

    cos = f"({_dot_sql('a.e', 'b.e', dialect)} / (a.nrm * b.nrm))"
    return f"""
WITH {_vecs_cte(dialect)},
bk AS (SELECT vec_id, e, nrm, CAST(vec_id % {_ANISO_BUCKETS} AS BIGINT)
  AS bkt FROM v),
pairs AS (
  SELECT ROUND({cos}, 6) AS cs
  FROM bk a JOIN bk b ON a.bkt = b.bkt AND a.vec_id < b.vec_id),
bins AS (
  SELECT GREATEST(CAST(-10 AS BIGINT),
    LEAST(CAST(9 AS BIGINT), CAST(floor(cs * 10) AS BIGINT))) AS cos_bin,
    CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY 1)
SELECT cos_bin, n_pairs,
  ROUND(CAST(n_pairs AS DOUBLE) / SUM(n_pairs) OVER (), 6) AS pair_share
FROM bins
"""


def simhash_hamming_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance histogram over the SimHash candidate pairs (the
    ≥1-band blocking of dedup_simhash_candidates): how many candidates
    sit at each distance 0..16 — the calibration table for choosing the
    accept threshold (and the honesty check on the band recall: a mass
    of candidates at distance > nbits·(nbands−1)/nbands is the blocking
    stage's false-positive cost).  The signature frame feeds the band
    self-join AND both sides of the distance join, so the Spark form
    checkpoints it once (the SQL text's three references re-inline —
    the measured CTE-inlining trap).  Distance is 16 exact CASE terms
    over the bit strings; the histogram is a bounded 17-row aggregate."""
    from .functions.dedup import simhash_sql

    register_views(spark, sf_dir)
    sigs = spark.sql(simhash_sql(SPARK)).localCheckpoint(eager=True)
    v = register_temp_view(sigs, "_r9_simhash_sigs")
    return spark.sql(_hamming_over(v, SPARK))


def _hamming_over(sigs_src: str, dialect: str, nbits: int = 16,
                  nbands: int = 4) -> str:
    """Band-blocked candidate pairs + per-pair hamming distance over the
    signature relation ``sigs_src`` (a view/CTE name)."""
    width = nbits // nbands
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, substr(simhash, {b * width + 1}, "
        f"{width}) AS bs FROM {sigs_src}"
        for b in range(nbands)
    )
    hd = " + ".join(
        f"(CASE WHEN substr(sa.simhash, {p + 1}, 1) <> "
        f"substr(sb.simhash, {p + 1}, 1) THEN 1 ELSE 0 END)"
        for p in range(nbits)
    )
    return f"""
WITH bands AS ({band_selects}),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bs = b.bs AND a.doc_id < b.doc_id),
ham AS (
  SELECT CAST(({hd}) AS BIGINT) AS hamming
  FROM cands c
  JOIN {sigs_src} sa ON sa.doc_id = c.doc_a
  JOIN {sigs_src} sb ON sb.doc_id = c.doc_b)
SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM ham GROUP BY hamming
"""


def _simhash_hamming_histogram_oracle() -> str:
    from .functions.dedup import simhash_sql

    inner = _hamming_over("sigs", DUCK)
    # graft the sigs CTE onto the front of the inner WITH chain
    assert inner.lstrip().startswith("WITH ")
    body = inner.lstrip()[len("WITH "):]
    return f"WITH sigs AS ({simhash_sql(DUCK)}), {body}"


# ------------------------------------------------------------------ #
# persisted Misra-Gries / SpaceSaving day store — sixth store family
# ------------------------------------------------------------------ #

_MG_RANGE = ("2024-01-08", "2024-01-21")  # the shared rollup window
_MG_CAP = 16


def mg_rollup_persisted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted SpaceSaving day store, full verb cycle
    (functions/mg_store.py:mg_rollup_*): build per-day top-16 summaries
    for every day but the last, append the last day as TWO parity
    chunks with one append REPLAYED (the summary is a deterministic
    function of the slice, so the replay writes byte-identical rows and
    the read path's DISTINCT absorbs them — SET-class at-least-once),
    compact the chunked day (merge WITHOUT re-prune: the [lower, upper]
    algebra is bit-identical before and after — the store's merge law),
    then answer the 14-day top-20 from the store alone with PROVABLE
    bounds, audited against the exact range counts (``in_bounds`` is a
    real accuracy gate: truth escaping [lower, upper] turns the row
    red).  Store cost: ≤ days·chunks·(cap+1) summary rows per range
    query, never an events rescan (plan-pinned in test_round9)."""
    import os
    import shutil
    import tempfile

    from .functions import sketches as SK
    from .sources.readers import Tables

    lo, hi = _MG_RANGE
    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_mg_rollup_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    SK.mg_rollup_build(ev.filter(day != hi), path, cap=_MG_CAP)
    last = ev.filter(day == hi)
    SK.mg_rollup_append_chunk(
        last.filter(F.col("user_id") % 2 == 0), path, hi, 1, cap=_MG_CAP
    )
    for _ in range(2):  # second run = the replay; DISTINCT absorbs it
        SK.mg_rollup_append_chunk(
            last.filter(F.col("user_id") % 2 == 1), path, hi, 2, cap=_MG_CAP
        )
    SK.mg_rollup_compact(spark, path, hi)
    store = SK.mg_rollup_range_topk(spark, path, lo, hi, topk=20)
    exact = (
        ev.filter(day.between(lo, hi))
        .groupBy(F.col("user_id").cast("long").alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
    )
    return exact.join(F.broadcast(store), "key").select(
        "key",
        "lower_cnt",
        "upper_cnt",
        "true_cnt",
        F.col("true_cnt").between(F.col("lower_cnt"), F.col("upper_cnt"))
        .alias("in_bounds"),
    )


def _mg_rollup_persisted_oracle() -> str:
    from .functions import sketches as SK

    lo, hi = _MG_RANGE
    store = SK.mg_rollup_range_sql(
        "events", "user_id", lo, hi, DUCK, cap=_MG_CAP, topk=20,
        chunk_sql=(
            f"CASE WHEN CAST(CAST(ts AS DATE) AS STRING) = '{hi}' "
            "THEN CAST(user_id AS BIGINT) % 2 + 1 ELSE 0 END"
        ),
    )
    return f"""
WITH exact AS (
  SELECT CAST(user_id AS BIGINT) AS key,
    CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM events
  WHERE CAST(CAST(ts AS DATE) AS STRING) BETWEEN '{lo}' AND '{hi}'
  GROUP BY 1)
SELECT s.key, s.lower_cnt, s.upper_cnt, e.true_cnt,
  (e.true_cnt BETWEEN s.lower_cnt AND s.upper_cnt) AS in_bounds
FROM ({store}) s JOIN exact e ON e.key = s.key
"""


def _stream_mg_rollup_store_oracle() -> str:
    """Oracle for the streaming MG-store writer: same range-read algebra
    with ``chunk_sql = user_id % 3`` modeling the three micro-batches
    (batch membership is data-borne, so the slicing is deterministic);
    the replayed batch-1 append adds byte-identical rows the DISTINCT
    read absorbs, so it does not appear in the oracle at all."""
    from .functions import sketches as SK

    lo, hi = _MG_RANGE
    store = SK.mg_rollup_range_sql(
        "events", "user_id", lo, hi, DUCK, cap=_MG_CAP, topk=20,
        chunk_sql="CAST(user_id AS BIGINT) % 3",
    )
    return f"""
WITH exact AS (
  SELECT CAST(user_id AS BIGINT) AS key,
    CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM events
  WHERE CAST(CAST(ts AS DATE) AS STRING) BETWEEN '{lo}' AND '{hi}'
  GROUP BY 1)
SELECT s.key, s.lower_cnt, s.upper_cnt, e.true_cnt,
  (e.true_cnt BETWEEN s.lower_cnt AND s.upper_cnt) AS in_bounds
FROM ({store}) s JOIN exact e ON e.key = s.key
"""


def mg_rollup_grouped_range_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SpaceSaving store's GROUP dimension (per-type heavy hitters
    with provable bounds): one summary per (day, event_type) in a
    single build pass, the shared `rollup_expire` retention verb
    dropping every pre-range day (proving expiry cannot touch a pruned
    range read — the grouped-CMS precedent), then per-type top-5 by
    exact lower bound with the in-row exact audit.  Completes the
    grouped-range symmetry across all six store families."""
    import os
    import shutil
    import tempfile

    from .functions import sketches as SK
    from .sources.readers import Tables

    lo, hi = _MG_RANGE
    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_mg_rollup_grp_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    SK.mg_rollup_grouped_build(ev, path, cap=_MG_CAP)
    SK.rollup_expire(path, lo)  # retention: pre-range days drop by dir
    store = SK.mg_rollup_grouped_range_topk(spark, path, lo, hi, topk=5)
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    exact = (
        ev.filter(day.between(lo, hi))
        .groupBy(
            F.col("event_type").cast("string").alias("g"),
            F.col("user_id").cast("long").alias("key"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
    )
    return exact.join(F.broadcast(store), ["g", "key"]).select(
        F.col("g").alias("event_type"),
        "key",
        "lower_cnt",
        "upper_cnt",
        "true_cnt",
        F.col("true_cnt").between(F.col("lower_cnt"), F.col("upper_cnt"))
        .alias("in_bounds"),
    )


def _mg_rollup_grouped_range_oracle() -> str:
    from .functions import sketches as SK

    lo, hi = _MG_RANGE
    store = SK.mg_rollup_grouped_range_sql(
        "events", "event_type", "user_id", lo, hi, DUCK,
        cap=_MG_CAP, topk=5,
    )
    return f"""
WITH exact AS (
  SELECT CAST(event_type AS STRING) AS g,
    CAST(user_id AS BIGINT) AS key,
    CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM events
  WHERE CAST(CAST(ts AS DATE) AS STRING) BETWEEN '{lo}' AND '{hi}'
  GROUP BY 1, 2)
SELECT s.g AS event_type, s.key, s.lower_cnt, s.upper_cnt, e.true_cnt,
  (e.true_cnt BETWEEN s.lower_cnt AND s.upper_cnt) AS in_bounds
FROM ({store}) s JOIN exact e ON e.g = s.g AND e.key = s.key
"""


# ------------------------------------------------------------------ #
# wave 2: retention, cross-source contamination, hyperplane balance
# ------------------------------------------------------------------ #

def _user_days_core(dialect: str) -> str:
    """Shared stage of events_retention_curve: the deduped (day-number,
    user) activity table — the ONLY fact-scale aggregate; everything
    after is user- or cohort-grain."""
    from .functions.portable import days_since_epoch

    d = days_since_epoch("ts", dialect)
    return f"""
SELECT DISTINCT CAST({d} AS BIGINT) AS dayn, user_id FROM events
"""


def _retention_final(du: str, first: str) -> str:
    """Cohort retention triangle over the user-day relation ``du`` and
    first-seen relation ``first``: per (cohort day, offset 0..7) the
    distinct active users and the retention rate vs cohort size."""
    return f"""
WITH sizes AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n0 FROM {first} _f
  GROUP BY cohort),
act AS (
  SELECT f.cohort, u.dayn - f.cohort AS off,
    CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n
  FROM {du} u JOIN {first} f ON u.user_id = f.user_id
  WHERE u.dayn - f.cohort BETWEEN 0 AND 7
  GROUP BY f.cohort, u.dayn - f.cohort)
SELECT a.cohort AS cohort_day, CAST(a.off AS BIGINT) AS day_offset,
  s.n0 AS cohort_users, a.n AS active_users,
  ROUND(CAST(a.n AS DOUBLE) / s.n0, 6) AS retention
FROM act a JOIN sizes s ON s.cohort = a.cohort
"""


def events_retention_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User retention triangle at DAY grain: cohort = first-seen day,
    day-N retention for N ∈ 0..7 — the standard activation/stickiness
    curve (`cohort_retention` is the ORDERS-side monthly analogue; this
    is the events-side daily one).  Scale shape: one distinct
    (day, user) pass over events, then user-grain joins — the per-user
    first-day table and the activity table both feed two consumers, so
    the Spark form checkpoints each once."""
    register_views(spark, sf_dir)
    du = spark.sql(_user_days_core(SPARK)).localCheckpoint(eager=True)
    vdu = register_temp_view(du, "_r9_user_days")
    first = spark.sql(
        f"SELECT user_id, MIN(dayn) AS cohort FROM {vdu} "
        "GROUP BY user_id"
    ).localCheckpoint(eager=True)
    vfirst = register_temp_view(first, "_r9_first_day")
    return spark.sql(_retention_final(vdu, vfirst))


def _events_retention_curve_oracle() -> str:
    du = f"({_user_days_core(DUCK)})"
    first = (
        f"(SELECT user_id, MIN(dayn) AS cohort FROM {du} _d "
        "GROUP BY user_id)"
    )
    return _retention_final(du, first)


def _neardup_matrix_final(pairs_src: str) -> str:
    """Source-pair aggregation over the verified-pairs relation
    ``pairs_src`` (doc_a, doc_b, jaccard)."""
    return f"""
WITH d AS (SELECT doc_id, source FROM documents),
lab AS (
  SELECT CASE WHEN da.source < db.source THEN da.source
         ELSE db.source END AS src_a,
    CASE WHEN da.source < db.source THEN db.source
         ELSE da.source END AS src_b,
    CAST(p.jaccard AS DECIMAL(18,6)) AS j
  FROM {pairs_src} p
  JOIN d da ON da.doc_id = p.doc_a
  JOIN d db ON db.doc_id = p.doc_b)
SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  ROUND(CAST(SUM(j) AS DOUBLE) / COUNT(*), 6) AS mean_jaccard
FROM lab GROUP BY src_a, src_b
"""


def neardup_source_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate SOURCE matrix: the exact-Jaccard-verified doc
    pairs (threshold 0.5, the `dedup_ngram_jaccard` verifier with its
    max_df skew cap) aggregated to unordered source pairs — which
    corpora leak near-identical DOCUMENTS into which (vs
    `source_overlap_matrix`'s corpus-level vocabulary overlap).  The
    Spark form builds on the verifier's DataFrame form
    (`dedup.ngram_jaccard_pairs` — filtered-shingle set checkpointed
    once); the flat SQL text stays the oracle."""
    from .functions.dedup import ngram_jaccard_pairs

    register_views(spark, sf_dir)
    pairs = ngram_jaccard_pairs(spark, threshold=0.5)
    v = register_temp_view(pairs, "_r9_ndpairs")
    return spark.sql(_neardup_matrix_final(v))


def _neardup_source_matrix_builder(dialect: str) -> str:
    """Near-duplicate SOURCE matrix: the exact-Jaccard-verified doc
    pairs (threshold 0.5, the `dedup_ngram_jaccard` verifier with its
    max_df skew cap) aggregated to unordered source pairs — which
    corpora leak near-duplicates into which, at DOC grain.  Distinct
    from `source_overlap_matrix` (corpus-level shingle-set Jaccard):
    that says "these corpora share vocabulary"; this says "these
    corpora share near-identical documents" — the pair count a
    curation run budgets its cross-source dedup by.  Mean verified
    Jaccard rides along as exact-decimal sums over the already-rounded
    pair scores.  The verify stage joins candidates, not corpora; the
    matrix itself is ≤ sources² rows."""
    from .functions.dedup import ngram_jaccard_pairs_sql

    pairs = ngram_jaccard_pairs_sql(dialect, threshold=0.5)
    return f"""
WITH d AS (SELECT doc_id, source FROM documents),
lab AS (
  SELECT CASE WHEN da.source < db.source THEN da.source
         ELSE db.source END AS src_a,
    CASE WHEN da.source < db.source THEN db.source
         ELSE da.source END AS src_b,
    CAST(p.jaccard AS DECIMAL(18,6)) AS j
  FROM ({pairs}) p
  JOIN d da ON da.doc_id = p.doc_a
  JOIN d db ON db.doc_id = p.doc_b)
SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  ROUND(CAST(SUM(j) AS DOUBLE) / COUNT(*), 6) AS mean_jaccard
FROM lab GROUP BY src_a, src_b
"""


def simhash_bit_balance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane balance check for the SimHash family: per bit
    position, the share of documents with that bit set.  A healthy
    hyperplane sits near 0.5; a skewed bit carries little information
    and weakens its band's blocking power — this is the calibration
    companion to `simhash_hamming_histogram` (which measures the
    RESULT of banding; this measures the INPUT assumption).  The
    signature frame feeds the unpivot and the doc total, so the Spark
    form checkpoints it once."""
    from .functions.dedup import simhash_sql

    register_views(spark, sf_dir)
    sigs = spark.sql(simhash_sql(SPARK)).localCheckpoint(eager=True)
    v = register_temp_view(sigs, "_r9_simhash_sigs_bb")
    return spark.sql(_bit_balance_final(v, SPARK))


def _bit_balance_final(sigs_src: str, dialect: str, nbits: int = 16) -> str:
    from .functions.portable import lateral_seq

    lat = lateral_seq("1", str(nbits), "p", dialect)
    return f"""
WITH bits AS (
  SELECT CAST(p AS BIGINT) AS bit_pos,
    substr(simhash, CAST(p AS INT), 1) AS b
  FROM {sigs_src} {lat})
SELECT bit_pos,
  CAST(SUM(CASE WHEN b = '1' THEN 1 ELSE 0 END) AS BIGINT) AS n_ones,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  ROUND(CAST(SUM(CASE WHEN b = '1' THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*), 6) AS one_share
FROM bits GROUP BY bit_pos
"""


def _simhash_bit_balance_oracle() -> str:
    from .functions.dedup import simhash_sql

    inner = _bit_balance_final("sigs", DUCK)
    assert inner.lstrip().startswith("WITH ")
    body = inner.lstrip()[len("WITH "):]
    return f"WITH sigs AS ({simhash_sql(DUCK)}), {body}"


# ------------------------------------------------------------------ #
# wave 3: quality drift + nearest-centroid confusion
# ------------------------------------------------------------------ #

def _quality_half_counts_core(dialect: str) -> str:
    """Shared stage of quality_drift_ks: per (corpus half, score decile
    bucket) doc counts — the only document-scale pass (the quality
    scorer's four regexp features); everything after is a ≤ 20-row
    frame."""
    from .functions.text import quality_select_sql

    q = quality_select_sql(dialect)
    return f"""
SELECT CAST(doc_id % 2 AS BIGINT) AS half,
  LEAST(CAST(9 AS BIGINT), GREATEST(CAST(0 AS BIGINT),
    CAST(floor(quality_score * 10) AS BIGINT))) AS b,
  CAST(COUNT(*) AS BIGINT) AS n
FROM ({q}) _q GROUP BY 1, 2
"""


def _quality_drift_final(src: str, dialect: str) -> str:
    """Two-sample CDF comparison over the (half, bucket, n) relation
    ``src``: per decile bucket both halves' counts, CDFs, the gap, and
    the KS statistic (max gap) — windows over the bounded 10-row
    bucket spine only."""
    from .functions.portable import lateral_seq

    spine = lateral_seq("0", "9", "b", dialect)
    return f"""
WITH spine AS (SELECT CAST(b AS BIGINT) AS b FROM (SELECT 1 AS _x) _one
  {spine}),
h0 AS (SELECT b, n FROM {src} _a WHERE half = 0),
h1 AS (SELECT b, n FROM {src} _b WHERE half = 1),
grid AS (
  SELECT s.b, COALESCE(h0.n, 0) AS n0, COALESCE(h1.n, 0) AS n1
  FROM spine s
  LEFT JOIN h0 ON h0.b = s.b
  LEFT JOIN h1 ON h1.b = s.b),
cum AS (
  SELECT b, n0, n1,
    CAST(SUM(n0) OVER (ORDER BY b
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c0,
    CAST(SUM(n1) OVER (ORDER BY b
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
    CAST(SUM(n0) OVER () AS BIGINT) AS t0,
    CAST(SUM(n1) OVER () AS BIGINT) AS t1
  FROM grid),
gaps AS (
  SELECT b, n0, n1,
    ROUND(CAST(c0 AS DOUBLE) / t0, 6) AS cdf_h0,
    ROUND(CAST(c1 AS DOUBLE) / t1, 6) AS cdf_h1,
    ROUND(ABS(CAST(c0 AS DOUBLE) / t0 - CAST(c1 AS DOUBLE) / t1), 6)
      AS cdf_gap
  FROM cum)
SELECT b AS score_decile, n0 AS n_h0, n1 AS n_h1, cdf_h0, cdf_h1,
  cdf_gap, ROUND(MAX(cdf_gap) OVER (), 6) AS ks_stat
FROM gaps
"""


def quality_drift_ks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score drift monitor: the two corpus halves' score-decile
    distributions compared as CDFs with the Kolmogorov-Smirnov max-gap
    statistic — the one-number alarm that the quality mix shifted
    between crawl halves (the quality-side sibling of
    `source_kl_drift`).  All windows run over the literal 10-row decile
    spine; the document-scale scorer pass is aggregated to ≤ 20 rows
    and checkpointed (the flat SQL's two half-selections would re-run
    the regexp feature scan twice)."""
    register_views(spark, sf_dir)
    counts = spark.sql(_quality_half_counts_core(SPARK)).localCheckpoint(
        eager=True
    )
    v = register_temp_view(counts, "_r9_quality_half_counts")
    return spark.sql(_quality_drift_final(v, SPARK))


def _quality_drift_ks_oracle() -> str:
    return _quality_drift_final(
        f"({_quality_half_counts_core(DUCK)})", DUCK
    )


def _vec_explode_core(dialect: str) -> str:
    """Shared stage of embedding_centroid_confusion: the exploded
    (vec_id, true_label, pos, val) element table — built on the ONE
    shared explode recipe (`similarity.embedding_explode_sql`), so its
    pos convention always matches the centroid means it joins."""
    from .functions.similarity import embedding_explode_sql

    inner = embedding_explode_sql("vec_id, label", dialect)
    return (
        f"SELECT vec_id, label AS true_label, pos, val FROM ({inner}) _e"
    )


def _centroid_confusion_final(ve: str, means: str) -> str:
    """Nearest-centroid assignment + confusion matrix over the exploded
    vector relation ``ve`` and the centroid means relation ``means``.
    Element products round to 9 dp and sum as exact DECIMAL(18,9) (the
    PQ / centroid-margin distance discipline) so both engines assign
    identically; the per-vector rank window is over ≤ |labels| rows."""
    return f"""
WITH dots AS (
  SELECT v.vec_id, v.true_label, m.label AS clabel,
    CAST(SUM(CAST(ROUND(v.val * m.mv, 9) AS DECIMAL(18,9))) AS DOUBLE)
      AS dotp
  FROM {ve} v JOIN {means} m ON m.pos = v.pos
  GROUP BY v.vec_id, v.true_label, m.label),
vnorm AS (
  SELECT vec_id,
    sqrt(CAST(SUM(CAST(ROUND(val * val, 9) AS DECIMAL(18,9))) AS DOUBLE))
      AS vn
  FROM {ve} _n GROUP BY vec_id),
cnorm AS (
  SELECT label,
    sqrt(CAST(SUM(CAST(ROUND(mv * mv, 9) AS DECIMAL(18,9))) AS DOUBLE))
      AS cn
  FROM {means} _c GROUP BY label),
scored AS (
  SELECT d.vec_id, d.true_label, d.clabel,
    ROUND(d.dotp / (vn.vn * cn.cn), 6) AS cos,
    ROW_NUMBER() OVER (PARTITION BY d.vec_id
      ORDER BY ROUND(d.dotp / (vn.vn * cn.cn), 6) DESC, d.clabel) AS rn
  FROM dots d
  JOIN vnorm vn ON vn.vec_id = d.vec_id
  JOIN cnorm cn ON cn.label = d.clabel),
conf AS (
  SELECT true_label, clabel AS pred_label,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM scored WHERE rn = 1 GROUP BY true_label, clabel),
tot AS (
  SELECT true_label, CAST(SUM(n) AS BIGINT) AS t
  FROM conf GROUP BY true_label)
SELECT c.true_label, c.pred_label, c.n,
  ROUND(CAST(c.n AS DOUBLE) / t.t, 6) AS share
FROM conf c JOIN tot t ON t.true_label = c.true_label
"""


def embedding_centroid_confusion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid confusion matrix: every vector assigned to the
    closest label centroid by cosine, tabulated against its true label
    — the vector-grain separability eval beside the centroid-grain
    `embedding_centroid_margin` (a label whose vectors scatter to other
    centroids is noisy even when its centroid keeps margin).  Centroids
    come from the SHARED `similarity.centroid_means_sql` stage.  The
    brute-force assignment is the eval path (score a sample, not the
    corpus — the IVF/PQ surface is the production path at 100 TB); its
    shuffle carries (vec, label) decimal partial sums, never vectors.
    The exploded-element and means frames each feed multiple consumers,
    so the Spark form checkpoints both."""
    from .functions.similarity import centroid_means_sql

    register_views(spark, sf_dir)
    ve = spark.sql(_vec_explode_core(SPARK)).localCheckpoint(eager=True)
    vve = register_temp_view(ve, "_r9_vec_elems")
    means = spark.sql(centroid_means_sql(SPARK)).localCheckpoint(eager=True)
    vmeans = register_temp_view(means, "_r9_cmeans")
    return spark.sql(_centroid_confusion_final(vve, vmeans))


def _embedding_centroid_confusion_oracle() -> str:
    from .functions.similarity import centroid_means_sql

    return _centroid_confusion_final(
        f"({_vec_explode_core(DUCK)})",
        f"({centroid_means_sql(DUCK)})",
    )


def _lsh_capture_final(truth_src: str, cands_src: str) -> str:
    """Measured-vs-theoretical LSH S-curve over the truth-pairs relation
    ``truth_src`` (doc_a, doc_b, jaccard) and candidate relation
    ``cands_src``: per Jaccard decile band, truth pairs, band-captured
    pairs, the measured capture rate, and the mean closed-form catch
    probability 1−(1−J³)⁴ for 4 bands × 3 rows.  J is the verifier's
    6-dp-rounded double, the cubes/powers are plain IEEE products
    (exact cross-engine), and the theory terms ROUND to 6 dp before the
    exact decimal mean — the standard discipline."""
    cube = "(1 - jaccard * jaccard * jaccard)"
    theory = f"1 - {cube} * {cube} * {cube} * {cube}"
    return f"""
WITH cap AS (
  SELECT t.jaccard,
    CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
  FROM {truth_src} t
  LEFT JOIN {cands_src} c
    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
calc AS (
  SELECT LEAST(CAST(9 AS BIGINT),
      CAST(floor(jaccard * 10) AS BIGINT)) AS j_band,
    caught,
    CAST(ROUND({theory}, 6) AS DECIMAL(18,6)) AS p_theory
  FROM cap)
SELECT j_band, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(SUM(caught) AS BIGINT) AS n_caught,
  ROUND(CAST(SUM(caught) AS DOUBLE) / COUNT(*), 6) AS capture_rate,
  ROUND(CAST(SUM(p_theory) AS DOUBLE) / COUNT(*), 6) AS mean_theory
FROM calc GROUP BY j_band
"""


def lsh_capture_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve, measured against its own theory: truth pairs at
    the J ≥ 0.05 floor binned by Jaccard decile, each band's measured
    candidate-capture rate beside the closed-form catch probability
    1−(1−J³)⁴ of the shipped 4×3 banding — the fourth LSH honesty
    report (recall at thresholds, estimator accuracy, hamming
    calibration, and now the capture curve itself).  A measured rate
    far under theory in some band means the banding assumption
    (signature independence) broke there.  Truth rides the
    checkpointed verifier DF; candidates ride the one-pass band table
    (both the recall report's plan shape)."""
    from .functions import dedup as DD

    register_views(spark, sf_dir)
    truth = DD.ngram_jaccard_pairs(spark, threshold=0.05).localCheckpoint(
        eager=True
    )
    vtruth = register_temp_view(truth, "_r9_lsh_truth")
    bands = spark.sql(DD.minhash_bands_sql(SPARK)).localCheckpoint(eager=True)
    cands = (
        bands.select(F.col("doc_id").alias("doc_a"), "band", "sig")
        .join(
            bands.select(F.col("doc_id").alias("doc_b"), "band", "sig"),
            ["band", "sig"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    vcands = register_temp_view(cands, "_r9_lsh_cands")
    return spark.sql(_lsh_capture_final(vtruth, vcands))


def _lsh_capture_curve_oracle() -> str:
    from .functions.dedup import minhash_lsh_pairs_sql, ngram_jaccard_pairs_sql

    return _lsh_capture_final(
        f"({ngram_jaccard_pairs_sql(DUCK, threshold=0.05)})",
        f"({minhash_lsh_pairs_sql(DUCK)})",
    )


# ------------------------------------------------------------------ #
# wave 4: RANGE window frames + the TPC-H refresh cycle
# ------------------------------------------------------------------ #

def _time_range_window_builder(dialect: str) -> str:
    """Value-RANGE window frames — the rolling-TIME-window surface
    (pandas ``rolling('1h')`` / kdb wj): per event, the count and
    exact-decimal value sum of the SAME user's events in the trailing
    3600 s, via ``RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW`` over
    epoch seconds.  RANGE frames include peers (ties share a frame),
    so the result is deterministic without a tie-break column — the
    property that distinguishes them from ROWS frames and the reason
    this is the correct rolling-window idiom under duplicate
    timestamps.  Windows are user-partitioned (bounded per-user
    history); the frame itself never materializes — both engines
    evaluate it streaming within the partition."""
    es = epoch_s("ts", dialect)
    return f"""
WITH es AS (
  SELECT event_id, user_id, {es} AS es,
    CAST(value AS DECIMAL(18,6)) AS v
  FROM events)
SELECT event_id, user_id, es,
  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY es
    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
    AS n_trailing_1h,
  CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY es
    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS v_trailing_1h
FROM es
"""


_RF_SHIFT = 10_000_000  # insert keys land far above the base key space
_RF_INS_MOD, _RF_DEL_MOD = 7, 13  # deterministic RF1/RF2 selections


def tpch_refresh_cycle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H refresh functions (RF1 insert / RF2 delete) as one
    auditable cycle through the engine's MERGE machinery: RF1 = an
    upsert of shifted copies of every lineitem whose order ends in
    %100 == 7 (fresh keys ⇒ pure inserts — `operators.merge.upsert`,
    update keys broadcast); RF2 = an anti-join delete of every order
    ending in %100 == 13; then the Q1 pricing summary over the
    refreshed table proves the cycle end-to-end (the oracle computes
    the same summary over the set-algebra UNION/EXCEPT form).  At
    100 TB both verbs shuffle key sets, never the fact table twice —
    the anti-join broadcasts the delete keys, the upsert the insert
    keys."""
    from .operators.aggregate import davg, dsum
    from .operators.merge import upsert
    from .sources.readers import Tables

    li = Tables(spark, sf_dir).lineitem
    orders = Tables(spark, sf_dir).orders
    ins = li.filter(F.col("l_orderkey") % 100 == _RF_INS_MOD).withColumn(
        "l_orderkey", F.col("l_orderkey") + _RF_SHIFT
    )
    merged = upsert(
        li, ins, key=["l_orderkey", "l_linenumber"], broadcast_updates=True
    )
    del_keys = (
        orders.filter(F.col("o_orderkey") % 100 == _RF_DEL_MOD)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    refreshed = merged.join(F.broadcast(del_keys), "l_orderkey", "left_anti")
    return (
        refreshed.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _tpch_refresh_cycle_oracle() -> str:
    cols = (
        "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
        "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
        "l_shipdate"
    )
    return f"""
WITH ins AS (
  SELECT l_orderkey + {_RF_SHIFT} AS l_orderkey, l_partkey, l_suppkey,
    l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
    l_returnflag, l_linestatus, l_shipdate
  FROM lineitem WHERE l_orderkey % 100 = {_RF_INS_MOD}),
refreshed AS (
  SELECT {cols} FROM lineitem WHERE l_orderkey % 100 <> {_RF_DEL_MOD}
  UNION ALL
  SELECT {cols} FROM ins)
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
    AS sum_base_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
    / COUNT(l_discount) AS avg_disc,
  COUNT(*) AS count_order
FROM refreshed WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""
