"""Round-6/7 builders: persisted sketch/ANN/LSH stores, streaming
store writers, curriculum/packing calibration, classic analytics
(split from catalog.py r8 — builders only, registration stays in
catalog.py)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import text as X
from .functions.portable import DUCK, SPARK
from .operators.aggregate import revenue
from .sources.readers import FIXTURE_TABLES, Tables, ensure_session_confs, load_table, read_parquet
from .catalog_base import register_views
from .catalog_r5 import _ROLLUP_RANGE, _mixture_epochs_pick_ctes


def theta_rollup_persisted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted theta/KMV day store, full verb cycle end-to-end
    (functions/sketches.py:theta_rollup_*): build the per-day ≤k-row
    sample table, REPLAY two days' appends (safe — the sample is a
    deterministic function of the day's key set, so replays write
    duplicates the SET merge class absorbs), compact every multi-file
    day to one de-duplicated file, then answer the 14-day distinct-count
    range query from the store alone via the theta-union estimator, with
    the exact distinct as the audit column.  The oracle re-derives the
    samples from raw events and applies the identical estimator, so the
    driver hash proves replay+compaction changed nothing.  Completes the
    store matrix: the same persisted samples serve every overlap/churn
    query (`theta_rolling_churn`) — distinct counts, retention, and
    audience overlap from ONE day-partitioned store at days·k rows per
    query."""
    import shutil
    import tempfile

    from .functions import sketches as SK

    lo, hi = _ROLLUP_RANGE
    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_theta_rollup_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    SK.theta_rollup_build(ev, path, k=64)
    for replay in (lo, hi):  # at-least-once: same days appended again
        SK.theta_rollup_append_day(ev.filter(day == replay), path, replay, k=64)
    SK.theta_rollup_compact_all(spark, path)
    est = SK.theta_rollup_range_estimate(spark, path, lo, hi, k=64)
    exact = (
        ev.filter(day.between(lo, hi))
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return est.crossJoin(exact)


def _theta_rollup_persisted_oracle() -> str:
    from .functions import sketches as SK

    lo, hi = _ROLLUP_RANGE
    return SK.theta_rollup_range_sql(lo, hi, k=64, dialect=DUCK)


def curriculum_packed_batches_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-loader's FINAL product: the epoch-resampled mixture
    (`mixture_resample_epochs` pick chain), interleaved in curriculum
    serving order (epoch inside the layout hash, so repeats scatter),
    PACKED into 2048-token context windows — per bin: draw count, token
    fill, and the number of distinct sources mixed into the window.
    This is the composition the three stages exist for — resample →
    shuffle → pack — and the per-bin n_sources column makes the mixing
    property measurable (a well-shuffled curriculum fills every window
    from many sources; a sorted-by-source loader would show 1).

    Spark plan: checkpointed pick multiset (the CTE-inlining
    discipline) joined to token counts, then the SAME two-phase packer
    as every packing entry (`pack_sequences(hash_col=..., carry=...)`)
    — no unpartitioned corpus window; the oracle lays out the identical
    multiset with one global-window cumsum."""
    from .functions.packing import pack_sequences
    from .functions.portable import arr_len, split_ws

    register_views(spark, sf_dir)
    pick = spark.sql(
        f"WITH {_mixture_epochs_pick_ctes(SPARK)} "
        "SELECT source, doc_id, e FROM pick"
    ).localCheckpoint(eager=True)
    docs = spark.table("documents").select("doc_id", "text")
    tok = F.expr(arr_len(split_ws("text", SPARK), SPARK)).cast("long")
    draws = pick.join(docs, "doc_id").select(
        "source",
        "doc_id",
        "e",
        F.md5(F.concat(F.col("text"), F.lit(":"), F.col("e").cast("string"))).alias(
            "h"
        ),
        tok.alias("n_tokens"),
    )
    packed = pack_sequences(
        draws, budget=2048, tokens_col="n_tokens", hash_col="h", carry=["source"]
    )
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_draws"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
        F.round(F.sum("n_tokens") / F.lit(2048.0), 6).alias("fill_ratio"),
        F.countDistinct("source").alias("n_sources"),
    )


def _curriculum_packed_batches_oracle() -> str:
    from .functions.portable import arr_len, split_ws

    tok = arr_len(split_ws("d.text", DUCK), DUCK)
    return f"""
WITH {_mixture_epochs_pick_ctes(DUCK)},
draws AS (
  SELECT p.source, p.doc_id, p.e,
    md5(concat(d.text, ':', CAST(p.e AS VARCHAR))) AS h,
    CAST({tok} AS BIGINT) AS n_tokens
  FROM pick p JOIN documents d ON d.doc_id = p.doc_id),
laid AS (
  SELECT source, n_tokens,
    COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
  FROM draws)
SELECT CAST(FLOOR(prefix / 2048.0) AS BIGINT) AS bin_id,
  CAST(COUNT(*) AS BIGINT) AS n_draws,
  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
  ROUND(SUM(n_tokens) / CAST(2048 AS DOUBLE), 6) AS fill_ratio,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM laid GROUP BY bin_id
"""


def hll_monthly_from_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHICAL rollup — the continuous-aggregate ladder every
    hypertable store climbs: per-MONTH distinct users derived from the
    persisted per-DAY register store ALONE (group by the day string's
    month prefix, MAX-merge registers within month), never from events.
    Because register MAX is associative, month-from-days equals
    month-from-raw bit-for-bit — the oracle computes the direct
    per-month estimate over raw events and the driver hash is the
    hierarchy-level merge-law proof.  At 100 TB this is why the day
    store can serve EVERY coarser granularity (week/month/quarter)
    without new sketch passes: days·m register rows in, one partition-
    local prefix-group merge out."""
    import shutil
    import tempfile

    from .functions import sketches as SK

    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_hll_monthly_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    SK.hll_rollup_build(ev, path)
    regs = read_parquet(spark, path)
    monthly = (
        regs.withColumn("month", F.substring(F.col("day").cast("string"), 1, 7))
        .groupBy("month", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    n_days = (
        regs.select(F.substring(F.col("day").cast("string"), 1, 7).alias("month"), "day")
        .distinct()
        .groupBy("month")
        .agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    )
    return (
        SK.hll_estimate(monthly, ["month"])
        .join(F.broadcast(n_days), "month")
        .select("month", "n_days", "hll_est")
    )


def _hll_monthly_from_daily_oracle() -> str:
    from .functions import sketches as SK

    est = SK.hll_estimate_sql(
        "(SELECT substr(CAST(CAST(ts AS DATE) AS VARCHAR), 1, 7) AS month, "
        "user_id FROM events)",
        "month",
        "user_id",
        dialect=DUCK,
    )
    return f"""
WITH nd AS (
  SELECT substr(CAST(CAST(ts AS DATE) AS VARCHAR), 1, 7) AS month,
    CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
  FROM events GROUP BY 1)
SELECT e.month, nd.n_days, e.hll_est
FROM ({est}) e JOIN nd ON nd.month = e.month
"""


def theta_rollup_grouped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The theta store's GROUP dimension (functions/sketches.py:
    theta_rollup_grouped_build/..._range_estimate): per-(event_type,
    day) KMV samples in day-partitioned parquet; the 14-day range query
    estimates each group's distinct users from the pruned samples alone
    (theta-union within group), with per-group exact audits.  Completes
    the grouped-store triple with `hll_rollup_grouped_range` (distinct
    counts) and `tdigest_rollup_grouped_range` (quantiles) — and unlike
    the HLL registers, the SAME grouped samples also answer per-tenant
    overlap/churn queries."""
    import shutil
    import tempfile

    from .functions import sketches as SK

    lo, hi = _ROLLUP_RANGE
    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_theta_grp_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    SK.theta_rollup_grouped_build(ev, path, "event_type", k=64)
    est = SK.theta_rollup_grouped_range_estimate(spark, path, lo, hi, k=64)
    exact = (
        ev.filter(day.between(lo, hi))
        .groupBy(F.col("event_type").alias("grp"))
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return est.join(exact, "grp").select(
        F.col("grp").alias("event_type"), "n_days", "est_distinct", "exact_distinct"
    )


def _theta_rollup_grouped_oracle() -> str:
    from .functions import sketches as SK

    lo, hi = _ROLLUP_RANGE
    sql = SK.theta_rollup_grouped_range_sql(lo, hi, k=64, dialect=DUCK)
    return f"""
SELECT grp AS event_type, n_days, est_distinct, exact_distinct
FROM ({sql}) _t
"""


def tokenizer_fertility_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (functions/subword.py:
    subword_fertility): subword tokens per whitespace word + chars per
    token, measured on the SAME learned tokenizer the packing/serving
    entries charge — the report a multilingual pipeline reads before
    fixing per-language token budgets.  Spark side runs the bounded
    iterative walk (once per word TYPE); the oracle re-derives the
    vocabulary and walk as one recursive-CTE statement."""
    from .functions import subword as SW

    register_views(spark, sf_dir)
    return SW.subword_fertility(spark, k=64)


def _tokenizer_fertility_oracle() -> str:
    from .functions import subword as SW

    return SW.subword_fertility_sql(DUCK, k=64)


def dedup_lsh_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate RECALL against exact n-gram Jaccard — the dedup
    twin of `ann_recall_report`, and the measurable form of the LSH
    S-curve: with 4 bands × 3 rows the catch probability of a pair at
    similarity J is 1−(1−J³)⁴ (≈0.41 at J=0.5, ≈0.93 at J=0.8), so
    recall RISES with the threshold — exactly what this report shows,
    and the number that decides the band/row split before a production
    dedup run.  Truth = exact n-gram Jaccard pairs at the J ≥ 0.05
    floor (`ngram_jaccard_pairs_sql` — the low floor populates the
    weak-similarity end of the S-curve); retrieved = the shipped
    band-bucket candidates; per threshold in {0.05, 0.5, 0.9}: truth
    pairs, caught pairs, recall, with the candidate-set size alongside.

    Spark plan: the truth table and the candidate pairs are each
    computed ONCE and checkpointed; the band table feeds the candidate
    self-join once (AQE reuses its exchange for both sides); assembly
    is joins over pair ids."""
    from .functions import dedup as DD

    register_views(spark, sf_dir)
    truth = DD.ngram_jaccard_pairs(spark, threshold=0.05).localCheckpoint(
        eager=True
    )  # DF form: the filtered-shingle set inside is checkpointed once
    # both join sides shuffle the same band plan, so AQE computes it once
    bands = spark.sql(DD.minhash_bands_sql(SPARK))
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
    n_cand = cands.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    th = spark.sql(
        "SELECT CAST(0.05 AS DOUBLE) AS threshold UNION ALL "
        "SELECT CAST(0.5 AS DOUBLE) UNION ALL SELECT CAST(0.9 AS DOUBLE)"
    )
    j = truth.join(
        cands.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left"
    ).withColumn("hit", F.coalesce(F.col("hit"), F.lit(0)))
    return (
        j.join(F.broadcast(th), j["jaccard"] >= th["threshold"])
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum("hit").cast("long").alias("n_hits"),
            F.round(F.sum("hit") / F.count(F.lit(1)).cast("double"), 6).alias(
                "recall"
            ),
        )
        .crossJoin(F.broadcast(n_cand))
    )


def _dedup_lsh_recall_oracle() -> str:
    from .functions import dedup as DD

    truth = DD.ngram_jaccard_pairs_sql(DUCK, threshold=0.05)
    cands = DD.minhash_lsh_pairs_sql(DUCK)
    return f"""
WITH th AS (
  SELECT CAST(0.05 AS DOUBLE) AS threshold UNION ALL
  SELECT CAST(0.5 AS DOUBLE) UNION ALL SELECT CAST(0.9 AS DOUBLE)),
j AS (
  SELECT t.jaccard, CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS hit
  FROM ({truth}) t
  LEFT JOIN ({cands}) c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM ({cands}) _c)
SELECT th.threshold, CAST(COUNT(*) AS BIGINT) AS n_true,
  CAST(SUM(hit) AS BIGINT) AS n_hits,
  ROUND(SUM(hit) / CAST(COUNT(*) AS DOUBLE), 6) AS recall,
  (SELECT n_candidates FROM nc) AS n_candidates
FROM j JOIN th ON j.jaccard >= th.threshold
GROUP BY th.threshold
"""


def _stream_quality_monitor_oracle() -> str:
    """Pure-SQL reconstruction of the streaming quality monitor: the
    shared score formula grouped by the data-borne batch key."""
    return f"""
WITH s AS ({X.quality_select_sql(DUCK)})
SELECT CAST(d.doc_id % 4 AS BIGINT) AS batch,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  ROUND(CAST(SUM(CAST(s.quality_score AS DECIMAL(18,6))) AS DOUBLE)
    / COUNT(*), 6) AS mean_quality,
  CAST(SUM(CASE WHEN s.quality_score < 0.45 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_below,
  ROUND(SUM(CASE WHEN s.quality_score < 0.45 THEN 1 ELSE 0 END)
    / CAST(COUNT(*) AS DOUBLE), 6) AS below_share
FROM documents d JOIN s ON s.doc_id = d.doc_id
GROUP BY d.doc_id % 4
"""


def _stream_crawl_dedup_oracle() -> str:
    """Pure-SQL reconstruction of the streaming crawl-dedup evolution:
    with batch = doc_id % 4, a doc is exact_vs_corpus iff an
    earlier-batch doc shares its digest, exact_in_batch iff a
    smaller-id same-batch doc does (and no corpus hit), and
    neardup_vs_corpus iff any earlier-batch doc shares an LSH band
    bucket — exactly the probe-then-append semantics the stream
    executes against the persisted index."""
    from .functions import dedup as DD

    bands = DD.minhash_bands_sql(DUCK)
    return f"""
WITH bnd AS ({bands}),
d AS (SELECT doc_id, doc_id % 4 AS batch, md5(text) AS h FROM documents),
ec AS (
  SELECT DISTINCT a.doc_id FROM d a JOIN d b2 ON b2.h = a.h
  WHERE b2.batch < a.batch),
fib AS (SELECT h, batch, MIN(doc_id) AS first_id FROM d GROUP BY h, batch),
nd AS (
  SELECT DISTINCT a.doc_id
  FROM d a JOIN bnd ba ON ba.doc_id = a.doc_id
  JOIN bnd bb ON bb.band = ba.band AND bb.sig = ba.sig
  JOIN d c ON c.doc_id = bb.doc_id
  WHERE c.batch < a.batch),
dec AS (
  SELECT d.doc_id, d.batch,
    CASE WHEN ec.doc_id IS NOT NULL THEN 'exact_vs_corpus'
         WHEN d.doc_id <> f.first_id THEN 'exact_in_batch'
         WHEN nd.doc_id IS NOT NULL THEN 'neardup_vs_corpus'
         ELSE 'keep' END AS decision
  FROM d
  LEFT JOIN ec ON ec.doc_id = d.doc_id
  JOIN fib f ON f.h = d.h AND f.batch = d.batch
  LEFT JOIN nd ON nd.doc_id = d.doc_id)
SELECT CAST(batch AS BIGINT) AS batch, decision,
  CAST(COUNT(*) AS BIGINT) AS n_docs
FROM dec GROUP BY batch, decision
"""


def _quality_dedup_interaction_builder(dialect: str) -> str:
    """Cross-tab of the quality cascade's decision against NEAR-DUP
    candidacy — the STAGE-ORDERING evidence a pipeline design needs:
    the 'near_duplicate' × 'keep' cell is work doc-level dedup saves
    the quality stage (run dedup first), while 'near_duplicate' × drop
    cells are docs both stages would remove (order doesn't matter for
    them).  Shares the cascade's per-doc decision CTEs verbatim
    (functions/text.py:_cascade_doc_ctes); the dup axis is membership
    in any LSH band-bucket candidate pair — the fixture's planted dups
    are near-exact, never byte-identical, so the content-hash axis
    would be constant here (and the candidate set is what a real
    pipeline's dedup stage actually consumes)."""
    from .functions import dedup as DD
    from .functions.text import _cascade_doc_ctes

    cands = DD.minhash_lsh_pairs_sql(dialect)
    return f"""
WITH {_cascade_doc_ctes(dialect)},
flag AS (
  SELECT doc_a AS doc_id FROM ({cands}) _c1
  UNION SELECT doc_b FROM ({cands}) _c2),
dupc AS (
  SELECT d.doc_id,
    CASE WHEN f.doc_id IS NOT NULL THEN 'near_duplicate'
         ELSE 'unique' END AS dedup_class
  FROM documents d LEFT JOIN flag f ON f.doc_id = d.doc_id)
SELECT d.decision, p.dedup_class, CAST(COUNT(*) AS BIGINT) AS n_docs,
  ROUND(COUNT(*) / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE), 6)
    AS corpus_share
FROM docdec d JOIN dupc p ON p.doc_id = d.doc_id
GROUP BY d.decision, p.dedup_class
"""


def quality_dedup_interaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark form of `_quality_dedup_interaction_builder`: the band
    table and the cascade decisions each computed ONCE and checkpointed
    — the single-statement SQL re-inlines the LSH signature chain into
    both UNION arms (measured 40 exchanges vs 8 here; the same
    CTE-inlining trap every multi-reference entry documents).  The
    dual-dialect text stays as the oracle."""
    from .functions import dedup as DD
    from .functions.text import _cascade_doc_ctes

    register_views(spark, sf_dir)
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
    )
    flag = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_nd", F.lit(1))
    )
    dec = spark.sql(
        f"WITH {_cascade_doc_ctes(SPARK)} SELECT doc_id, decision FROM docdec"
    )
    total = spark.table("documents").agg(
        F.count(F.lit(1)).cast("long").alias("total")
    )
    return (
        dec.join(F.broadcast(flag), "doc_id", "left")
        .select(
            "decision",
            F.when(F.col("is_nd").isNotNull(), F.lit("near_duplicate"))
            .otherwise(F.lit("unique"))
            .alias("dedup_class"),
        )
        .groupBy("decision", "dedup_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .crossJoin(F.broadcast(total))
        .select(
            "decision",
            "dedup_class",
            "n_docs",
            F.round(F.col("n_docs") / F.col("total").cast("double"), 6).alias(
                "corpus_share"
            ),
        )
    )


def _events_top_paths_builder(dialect: str) -> str:
    """Session PATH analysis — the clickstream query the funnel/cohort
    family was missing: sessionize (30-min gap, the `events_sessionize`
    boundary rule verbatim), serialize each session's first 8 event
    types into an ordered `a>b>c` path, and report the top-15 paths
    with session counts and average full session length.  Determinism:
    the path order key is (ts, event_type) — same-timestamp events
    order by type, and identical (ts, type) duplicates are
    order-invariant in the string; the cumulative session id is stable
    under timestamp ties because tied rows always carry gap 0.  One
    window cascade partitioned by user + one digest-sized path
    aggregate; TakeOrdered for the top-15 — no unpartitioned corpus
    window."""
    from .functions.portable import epoch_s

    ep = epoch_s("ts", dialect)
    if dialect == SPARK:
        pathagg = (
            "concat_ws('>', transform(array_sort(collect_list("
            "named_struct('rn', rn, 'et', event_type))), s -> s.et))"
        )
    else:
        pathagg = "string_agg(event_type, '>' ORDER BY rn)"
    return f"""
WITH flagged AS (
  SELECT user_id, ts, event_type,
    CASE WHEN {ep} - LAG({ep}) OVER w IS NULL THEN 1
         WHEN {ep} - LAG({ep}) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
sessions AS (
  SELECT user_id, ts, event_type,
    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
  FROM flagged),
ranked AS (
  SELECT user_id, sid, event_type,
    ROW_NUMBER() OVER (PARTITION BY user_id, sid
      ORDER BY ts ASC, event_type ASC) AS rn
  FROM sessions),
sizes AS (
  SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sessions GROUP BY user_id, sid),
paths AS (
  SELECT user_id, sid, {pathagg} AS path
  FROM ranked WHERE rn <= 8 GROUP BY user_id, sid)
SELECT p.path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
  ROUND(AVG(CAST(s.n_events AS DOUBLE)), 6) AS avg_session_events
FROM paths p JOIN sizes s ON s.user_id = p.user_id AND s.sid = p.sid
GROUP BY p.path
ORDER BY n_sessions DESC, path ASC LIMIT 15
"""


def _dedup_cascade_builder(dialect: str) -> str:
    """The DEDUP CASCADE — stage attribution in fixed priority, the
    dedup-side mirror of `corpus_filter_cascade`: every document gets
    ONE removal reason — ``exact_dup`` (a smaller-id doc shares its
    md5) > ``near_dup`` (a smaller-id LSH band-bucket partner exists —
    the greedy smaller-id keeper rule, deterministic without a
    connected-components pass) > ``substring_majority`` (more than half
    its positions are covered by 8-grams shared with another doc) >
    ``keep`` — rolled up per source.  The order encodes cost: digest
    equality is one hash-agg, band candidacy one banded self-join, and
    the substring audit pays the gram explode — a production cascade
    runs them cheapest-first and each stage only sees the previous
    stage's keepers (here attribution is computed on the full corpus so
    the stages stay independently oracle-checkable)."""
    from .functions import dedup as DD

    cands = DD.minhash_lsh_pairs_sql(dialect)
    return f"""
WITH {DD.substring_perdoc_ctes(dialect, 8)},
exact AS (
  SELECT doc_id FROM (
    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
    FROM documents) _e WHERE doc_id <> keeper),
near AS (
  SELECT DISTINCT doc_b AS doc_id FROM ({cands}) _c),
dec AS (
  SELECT d.doc_id, d.source,
    CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
         WHEN n.doc_id IS NOT NULL THEN 'near_dup'
         WHEN d.dup_words * 2 > d.n_words THEN 'substring_majority'
         ELSE 'keep' END AS dedup_stage
  FROM sperdoc d
  LEFT JOIN exact e ON e.doc_id = d.doc_id
  LEFT JOIN near n ON n.doc_id = d.doc_id)
SELECT source, dedup_stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
  ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY source) AS DOUBLE), 6)
    AS source_share
FROM dec GROUP BY source, dedup_stage
"""


def dedup_cascade_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark form of `_dedup_cascade_builder`: the substring per-doc
    table and the band table each computed once and checkpointed (the
    single-statement text re-inlines the band chain per band and the
    gram chain per reference — measured 27 exchanges vs 4 here); the
    SQL text stays as the oracle."""
    from pyspark.sql import Window

    from .functions import dedup as DD

    register_views(spark, sf_dir)
    sub = spark.sql(
        f"WITH {DD.substring_perdoc_ctes(SPARK, 8)} SELECT * FROM sperdoc"
    ).localCheckpoint(eager=True)
    bands = spark.sql(DD.minhash_bands_sql(SPARK)).localCheckpoint(eager=True)
    near = (
        bands.select(F.col("doc_id").alias("doc_a"), "band", "sig")
        .join(
            bands.select(F.col("doc_id").alias("doc_b"), "band", "sig"),
            ["band", "sig"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_nd", F.lit(1))
    )
    exact = (
        spark.table("documents")
        .select(
            "doc_id",
            F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("keeper"),
        )
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id")
        .withColumn("_ex", F.lit(1))
    )
    dec = (
        sub.join(F.broadcast(exact), "doc_id", "left")
        .join(F.broadcast(near), "doc_id", "left")
        .select(
            "source",
            F.when(F.col("_ex").isNotNull(), F.lit("exact_dup"))
            .when(F.col("_nd").isNotNull(), F.lit("near_dup"))
            .when(F.col("dup_words") * 2 > F.col("n_words"), F.lit("substring_majority"))
            .otherwise(F.lit("keep"))
            .alias("dedup_stage"),
        )
    )
    counts = dec.groupBy("source", "dedup_stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = Window.partitionBy("source")  # ≤ sources×stages rows
    return counts.select(
        "source",
        "dedup_stage",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 6).alias(
            "source_share"
        ),
    )


def grouped_mad_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per event type: exact median, MAD (median
    absolute deviation), and the robust-z outlier count at the standard
    3·1.4826·MAD cut — the outlier rule `events_anomaly_zscore`'s
    mean/stddev band lacks (one fat-fingered value drags a mean band;
    the median band shrugs).  Exact medians are the oracle-checkable
    baseline (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, pinned
    by `percentile_exact`); at 100 TB the approximate sketch form
    (t-digest store) replaces them.  Three grouped aggregates with the
    ≤|types|-row median tables broadcast back — the raw values shuffle
    once per aggregate, never the deviations twice."""
    from .sources.readers import load_events

    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").cast("double").alias("v"))
    )
    med = ev.groupBy("event_type").agg(
        F.percentile("v", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("v") - F.col("med"))
    )
    mads = dev.groupBy("event_type", "med").agg(
        F.percentile("dev", F.lit(0.5)).alias("mad"),
        F.count(F.lit(1)).cast("long").alias("n_values"),
    )
    out = (
        dev.join(
            F.broadcast(mads.select("event_type", "mad")), "event_type"
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.col("dev") > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
    )
    return mads.join(out, "event_type").select(
        "event_type", "n_values", "med", "mad", "n_outliers"
    )


_GROUPED_MAD_ORACLE = """
WITH ev AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL),
med AS (
  SELECT event_type, quantile_cont(v, 0.5) AS med
  FROM ev GROUP BY event_type),
dev AS (
  SELECT ev.event_type, ev.v, med.med, ABS(ev.v - med.med) AS dev
  FROM ev JOIN med ON med.event_type = ev.event_type),
mads AS (
  SELECT event_type, med, quantile_cont(dev, 0.5) AS mad,
    CAST(COUNT(*) AS BIGINT) AS n_values
  FROM dev GROUP BY event_type, med)
SELECT m.event_type, m.n_values, m.med, m.mad,
  CAST(SUM(CASE WHEN d.dev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
    AS n_outliers
FROM dev d JOIN mads m ON m.event_type = d.event_type
GROUP BY m.event_type, m.n_values, m.med, m.mad
"""


def _events_ewma_builder(dialect: str) -> str:
    """Daily EWMA smoothing of event value (half-life = 1 day, α = ½) —
    the telemetry trend line next to `events_anomaly_zscore`'s band.
    Exponential smoothing is a floating-point minefield cross-engine
    (sum order changes the rounding), so the weights are DYADIC and the
    accumulation EXACT: ewma(t)·2³¹ = Σ_i v_i·2^(31−(t−i+1)) — every
    term is a decimal times an exact power of two, the sum runs in
    DECIMAL(38,6) (order-independent), and the single final divide by
    2³¹ rounds once, identically in both engines.  POWER(2, k) on
    integer k is exact in doubles below 2^53 — the fractional-exponent
    POWER the repo bans is never used.  The day spine is a ≤31-row
    bounded table, so the pair join is bounded by construction."""
    from .functions.portable import days_since_epoch

    lag_d = (
        f"({days_since_epoch('t.day', dialect)}"
        f" - {days_since_epoch('i.day', dialect)})"
    )
    s = "STRING" if dialect == SPARK else "VARCHAR"
    return f"""
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) AS {s}) AS day,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS v
  FROM events GROUP BY CAST(CAST(ts AS DATE) AS {s})),
pairs AS (
  SELECT t.day, t.v AS v_t, i.v AS v_i, {lag_d} AS lag_d
  FROM daily t JOIN daily i ON i.day <= t.day),
acc AS (
  SELECT day, MAX(v_t) AS daily_value,
    CAST(SUM(CAST(v_i AS DECIMAL(38,6))
      * CAST(POWER(2, 30 - lag_d) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS s
  FROM pairs WHERE lag_d <= 30 GROUP BY day)
SELECT day, CAST(daily_value AS DOUBLE) AS daily_value,
  ROUND(CAST(s AS DOUBLE) / 2147483648.0, 6) AS ewma
FROM acc
"""


def _events_markov_builder(dialect: str) -> str:
    """First-order Markov transition matrix between event types WITHIN
    sessions — the third member of the clickstream family (funnel:
    fixed target sequence; paths: whole-session strings; this: the
    pairwise transition model a next-event predictor or anomaly scorer
    is fit from).  Session boundaries are the same 30-min gap rule as
    `events_sessionize`/`events_top_paths`, so a cross-session pair
    never counts as a transition.  Per (prev, next): count and the
    row-normalized probability.  Tie determinism as in the path entry:
    LAG orders by (ts, event_type).  One user-partitioned window
    cascade + one pair aggregate; the probability's window runs over
    the ≤|types|² transition table."""
    from .functions.portable import epoch_s

    ep = epoch_s("ts", dialect)
    return f"""
WITH flagged AS (
  SELECT user_id, ts, event_type,
    CASE WHEN {ep} - LAG({ep}) OVER w IS NULL THEN 1
         WHEN {ep} - LAG({ep}) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
sessions AS (
  SELECT user_id, ts, event_type,
    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
  FROM flagged),
seq AS (
  SELECT event_type AS next_type,
    LAG(event_type) OVER (PARTITION BY user_id, sid
      ORDER BY ts ASC, event_type ASC) AS prev_type
  FROM sessions),
trans AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type)
SELECT prev_type, next_type, n_transitions,
  ROUND(n_transitions / CAST(SUM(n_transitions)
    OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p_next
FROM trans
"""


def _abc_analysis_sql(dialect: str) -> str:
    """ABC / Pareto classification of parts by revenue — the 80/95%
    cumulative-share cut every inventory/spend analysis runs: parts
    ranked by revenue, class A while the running share ≤ 0.80, B while
    ≤ 0.95, C after.  Revenue accumulates in exact decimal; the share
    ratio casts through scale-6 decimal before the double divide (the
    DuckDB decimal→double rounding rule), so the class boundary lands
    identically in both engines.  This text is the ORACLE — one global
    window cumsum; the Spark entry replaces it with the banded
    two-phase scan."""
    rev = (
        "SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * "
        "(CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))"
    )
    return f"""
WITH pr AS (
  SELECT l_partkey AS partkey, CAST({rev} AS DECIMAL(38,6)) AS rev
  FROM lineitem GROUP BY l_partkey),
tot AS (SELECT CAST(SUM(rev) AS DECIMAL(38,6)) AS t FROM pr),
c AS (
  SELECT partkey, rev,
    CAST(SUM(rev) OVER (ORDER BY rev DESC, partkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,6))
      AS crev
  FROM pr),
cls AS (
  SELECT rev,
    CASE WHEN CAST(crev AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE) <= 0.80
           THEN 'A'
         WHEN CAST(crev AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE) <= 0.95
           THEN 'B'
         ELSE 'C' END AS abc_class
  FROM c)
SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
  CAST(CAST(SUM(rev) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
  ROUND(CAST(CAST(SUM(rev) AS DECIMAL(38,6)) AS DOUBLE)
    / CAST((SELECT t FROM tot) AS DOUBLE), 6) AS revenue_share
FROM cls GROUP BY abc_class
"""


def parts_abc_analysis_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark form of `_abc_analysis_sql`: the cumulative revenue comes
    from the BANDED two-phase scan instead of the oracle's global
    window — parts bucket into ≤256 revenue bands (monotone with the
    sort order, so in-band cumsum + cumulated band offsets IS the
    global cumsum exactly; band edges affect only physical grouping,
    never the result), the offset window runs over the ≤256-row
    band-total table, and every decimal addition is exact so the
    banded sum is bit-identical to the oracle's.  The per-part
    aggregate is dimension-sized but at 100 TB still billions of rows
    — the same reason packing/training-order use this scheme."""
    from pyspark.sql import Window

    li = Tables(spark, sf_dir).lineitem
    pr = (
        li.groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(revenue()).cast("decimal(38,6)").alias("rev"))
        .localCheckpoint(eager=True)
    )
    stats = pr.agg(
        F.max("rev").alias("mx"),
        F.min("rev").alias("mn"),
        F.sum("rev").cast("decimal(38,6)").alias("t"),
    ).collect()[0]  # 1-row band geometry + total
    mx, mn, t = float(stats["mx"]), float(stats["mn"]), stats["t"]
    bw = max((mx - mn) / 256.0, 1e-9)
    banded = pr.withColumn(
        "band",
        F.least(
            F.lit(255),
            F.floor((F.lit(mx) - F.col("rev").cast("double")) / F.lit(bw)),
        ).cast("int"),
    )
    w_in = (
        Window.partitionBy("band")
        .orderBy(F.col("rev").desc(), "partkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    banded = banded.withColumn(
        "crev_in", F.sum("rev").over(w_in).cast("decimal(38,6)")
    )
    totals = banded.groupBy("band").agg(
        F.sum("rev").cast("decimal(38,6)").alias("brev")
    )
    w_off = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "band",
        F.coalesce(F.sum("brev").over(w_off), F.lit(0))
        .cast("decimal(38,6)")
        .alias("off"),
    )
    crev = (
        F.col("off").cast("decimal(38,6)") + F.col("crev_in")
    ).cast("decimal(38,6)")
    share = crev.cast("double") / F.lit(float(t))
    cls = (
        banded.join(F.broadcast(offsets), "band")
        .select(
            "rev",
            F.when(share <= 0.80, F.lit("A"))
            .when(share <= 0.95, F.lit("B"))
            .otherwise(F.lit("C"))
            .alias("abc_class"),
        )
    )
    return cls.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rev").cast("decimal(38,6)").cast("double").alias("revenue"),
        F.round(
            F.sum("rev").cast("decimal(38,6)").cast("double") / F.lit(float(t)), 6
        ).alias("revenue_share"),
    )


def _rfm_segments_sql(dialect: str) -> str:
    """RFM segmentation — the classic retention-marketing cut: per
    purchasing user, Recency (days since last purchase, vs the corpus
    max date), Frequency (purchase count) and Monetary (decimal-exact
    value sum) each quintile-scored 1..5 (5 = best) over a worst→best
    total order with user_id tie-breaks, rolled up per (r, f, m) cell
    with user counts and cell monetary.  This text is the ORACLE (three
    global ROW_NUMBERs); the Spark entry computes the same positions
    with three `two_phase_position` banded scans — recency bands on the
    calendar day, frequency on the capped count, monetary on a log10
    band — none of which is an unpartitioned corpus window."""
    from .functions.portable import days_since_epoch

    rec = (
        f"{days_since_epoch('(SELECT mx FROM ref)', dialect)}"
        f" - {days_since_epoch('last_d', dialect)}"
    )
    return f"""
WITH p AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS freq,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS mon,
    MAX(CAST(ts AS DATE)) AS last_d
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
ref AS (SELECT MAX(CAST(ts AS DATE)) AS mx FROM events),
f AS (SELECT user_id, freq, mon, CAST({rec} AS BIGINT) AS rec FROM p),
r AS (
  SELECT user_id, rec, freq, mon,
    ROW_NUMBER() OVER (ORDER BY rec DESC, user_id) - 1 AS rpos,
    ROW_NUMBER() OVER (ORDER BY freq ASC, user_id) - 1 AS fpos,
    ROW_NUMBER() OVER (ORDER BY mon ASC, user_id) - 1 AS mpos,
    COUNT(*) OVER () AS n
  FROM f)
SELECT CAST(FLOOR(rpos * 5.0 / n) + 1 AS BIGINT) AS r_score,
  CAST(FLOOR(fpos * 5.0 / n) + 1 AS BIGINT) AS f_score,
  CAST(FLOOR(mpos * 5.0 / n) + 1 AS BIGINT) AS m_score,
  CAST(COUNT(*) AS BIGINT) AS n_users,
  CAST(CAST(SUM(mon) AS DECIMAL(38,6)) AS DOUBLE) AS cell_monetary
FROM r GROUP BY 1, 2, 3
"""


def rfm_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark form of `_rfm_segments_sql`: three two-phase position
    scans (operators/windows.py:two_phase_position) replace the
    oracle's three global ROW_NUMBERs.  Bucket choices, each monotone
    with its order and bounded by construction: recency → the negated
    day count (calendar-bounded); frequency → the count capped at 1000
    (ties above the cap stay ordered in-band); monetary → a log10 band
    (≤ ~50 bands over double's whole positive range)."""
    from .functions.portable import epoch_s  # noqa: F401  (dialect twin)
    from .operators.windows import two_phase_position

    ev = Tables(spark, sf_dir).events
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(38,6)")
            .alias("mon"),
            F.max(F.to_date("ts")).alias("last_d"),
        )
    )
    mx = ev.agg(F.max(F.to_date("ts")).alias("mx"))
    f = p.crossJoin(F.broadcast(mx)).select(
        "user_id",
        "freq",
        "mon",
        F.datediff("mx", "last_d").cast("long").alias("rec"),
    ).localCheckpoint(eager=True)  # three rank scans reuse it
    d = two_phase_position(
        f, (-F.col("rec")).cast("long"), [F.col("rec").desc(), F.col("user_id")],
        out="rpos",
    )
    d = two_phase_position(
        d, F.least(F.col("freq"), F.lit(1000)), [F.col("freq"), F.col("user_id")],
        out="fpos",
    )
    d = two_phase_position(
        d,
        # clamp: mon <= -1 would make log10 NULL and break the
        # monotone-bucket contract; greatest(mon, 0) keeps any
        # negative-sum user in the bottom bucket (still monotone)
        F.floor(
            F.log10(F.greatest(F.col("mon").cast("double"), F.lit(0.0)) + 1) * 8
        ).cast("long"),
        [F.col("mon"), F.col("user_id")],
        out="mpos",
    )
    n = f.agg(F.count(F.lit(1)).alias("n"))
    scored = d.crossJoin(F.broadcast(n)).select(
        (F.floor(F.col("rpos") * 5.0 / F.col("n")) + 1).cast("long").alias("r_score"),
        (F.floor(F.col("fpos") * 5.0 / F.col("n")) + 1).cast("long").alias("f_score"),
        (F.floor(F.col("mpos") * 5.0 / F.col("n")) + 1).cast("long").alias("m_score"),
        "mon",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("mon").cast("decimal(38,6)").cast("double").alias("cell_monetary"),
    )


def _shipping_delay_profile_builder(dialect: str) -> str:
    """Order-to-ship LATENCY profile per order priority — TPC-H Q12's
    late-binary widened to the full distribution over the columns the
    trimmed fixture actually carries (no commit/receipt dates or ship
    modes here): days from o_orderdate to each line's l_shipdate, with
    count, exact integer-day mean as a rounded double, exact p50/p90
    (the pinned percentile ≡ quantile_cont equivalence), and the
    over-90-day share.  One fact-fact join on orderkey (the q3 shape —
    sort-merge co-partitioned at scale) + one grouped aggregate;
    ≤|priorities| output rows."""
    from .functions.portable import days_since_epoch

    delay = (
        f"({days_since_epoch('l.l_shipdate', dialect)}"
        f" - {days_since_epoch('o.o_orderdate', dialect)})"
    )
    pct = "percentile" if dialect == SPARK else "quantile_cont"
    return f"""
WITH d AS (
  SELECT o.o_orderpriority AS priority, CAST({delay} AS BIGINT) AS delay_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_items,
  ROUND(CAST(SUM(delay_days) AS DOUBLE) / COUNT(*), 6) AS mean_delay_days,
  {pct}(delay_days, 0.5) AS p50_delay,
  {pct}(delay_days, 0.9) AS p90_delay,
  ROUND(SUM(CASE WHEN delay_days > 90 THEN 1 ELSE 0 END)
    / CAST(COUNT(*) AS DOUBLE), 6) AS over_90d_share
FROM d GROUP BY priority
"""


def _order_gaps_builder(dialect: str) -> str:
    """Inter-ARRIVAL analysis per market segment: days between a
    customer's consecutive orders (LAG over the per-customer order
    timeline, (orderdate, orderkey) tie-break so same-day orders stay
    deterministic), profiled per segment with count, exact-integer mean,
    exact p50/p90, and the within-30-days repeat share — the
    repurchase-cadence table a retention model starts from, the
    relational twin of `events_rfm_segments`' recency axis.  One
    customer-partitioned window + one grouped aggregate; the customer
    dim broadcasts."""
    from .functions.portable import days_since_epoch

    od = days_since_epoch("o_orderdate", dialect)
    pct = "percentile" if dialect == SPARK else "quantile_cont"
    return f"""
WITH t AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey,
    CAST({od} AS BIGINT) AS od, o.o_orderkey
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
g AS (
  SELECT segment,
    od - LAG(od) OVER (PARTITION BY o_custkey
      ORDER BY od, o_orderkey) AS gap_days
  FROM t)
SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_gaps,
  ROUND(CAST(SUM(gap_days) AS DOUBLE) / COUNT(*), 6) AS mean_gap_days,
  {pct}(gap_days, 0.5) AS p50_gap,
  {pct}(gap_days, 0.9) AS p90_gap,
  ROUND(SUM(CASE WHEN gap_days <= 30 THEN 1 ELSE 0 END)
    / CAST(COUNT(*) AS DOUBLE), 6) AS within_30d_share
FROM g WHERE gap_days IS NOT NULL GROUP BY segment
"""


def packing_efficiency_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing EFFICIENCY across candidate context budgets {512, 1024,
    2048, 4096} — the calibration table behind choosing a context
    length: bins produced, mean fill (corpus tokens / bins·budget), and
    overflowing bins (the charged-where-it-starts straddle) per budget.
    Completes the calibration family (quality deciles, similarity
    thresholds, LSH/ANN recall, and now packing fill).  Four two-phase
    packing passes unioned — each is the standard no-global-sort
    layout; the token counts are computed once per pass off the same
    scan."""
    from functools import reduce

    from .functions.packing import pack_sequences

    docs = Tables(spark, sf_dir).documents
    outs = []
    for b in (512, 1024, 2048, 4096):
        packed = pack_sequences(docs, budget=b)
        outs.append(
            packed.groupBy("bin_id")
            .agg(F.sum("n_tokens").alias("bt"))
            .agg(
                F.lit(b).cast("long").alias("budget"),
                F.count(F.lit(1)).cast("long").alias("n_bins"),
                F.round(
                    F.sum("bt").cast("double")
                    / (F.count(F.lit(1)) * F.lit(float(b))),
                    6,
                ).alias("mean_fill"),
                F.sum(F.when(F.col("bt") > b, 1).otherwise(0))
                .cast("long")
                .alias("n_overflow_bins"),
            )
        )
    return reduce(DataFrame.unionByName, outs)


def _packing_efficiency_curve_oracle() -> str:
    from .functions.packing import pack_sequences_sql

    parts = []
    for b in (512, 1024, 2048, 4096):
        inner = pack_sequences_sql(b, DUCK)
        parts.append(
            f"""
SELECT CAST({b} AS BIGINT) AS budget,
  CAST(COUNT(*) AS BIGINT) AS n_bins,
  ROUND(SUM(bin_tokens) / (COUNT(*) * CAST({b} AS DOUBLE)), 6) AS mean_fill,
  CAST(SUM(CASE WHEN bin_tokens > {b} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_overflow_bins
FROM ({inner}) _p{b}"""
        )
    return " UNION ALL ".join(parts)


def _window_rank_family_builder(dialect: str) -> str:
    """The remaining SQL-standard rank-family windows in one entry —
    NTILE (equi-depth bucketing), PERCENT_RANK, CUME_DIST — per order
    priority over order value, reported as quartile summaries (count,
    price band, boundary ranks).  Rounds out the window-function surface
    (topk/running-sum/lag-lead already covered).  The ordering key
    appends o_orderkey so NTILE's bucket split is a total order; both
    engines implement the SQL-standard larger-buckets-first NTILE and
    the (rank−1)/(n−1) PERCENT_RANK, so every emitted number is exact.
    One partitioned window pass + one grouped aggregate; nothing
    unpartitioned."""
    return """
WITH r AS (
  SELECT o_orderpriority AS priority, o_totalprice,
    NTILE(4) OVER (PARTITION BY o_orderpriority
      ORDER BY o_totalprice, o_orderkey) AS quartile,
    PERCENT_RANK() OVER (PARTITION BY o_orderpriority
      ORDER BY o_totalprice, o_orderkey) AS pr,
    CUME_DIST() OVER (PARTITION BY o_orderpriority
      ORDER BY o_totalprice, o_orderkey) AS cd
  FROM orders)
SELECT priority, CAST(quartile AS BIGINT) AS quartile,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
  CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
  ROUND(MAX(pr), 6) AS max_pct_rank,
  ROUND(MAX(cd), 6) AS max_cume_dist
FROM r GROUP BY priority, quartile
"""


def _embedding_threshold_curve_sql(dialect: str) -> str:
    """Dual-dialect text of the embedding-similarity CALIBRATION CURVE:
    for each candidate cosine threshold, how many pairs and how many
    distinct documents the dedup stage would touch — the landscape an
    operator reads before fixing `embedding_neardup`'s 0.35 cutoff
    (fixture landscape: ~117k random-mass pairs below 0.2, a 270-pair
    shoulder at 0.35-0.5, one pair above 0.5).  Pairwise cosine is
    computed EXACTLY over all pairs — this is the evaluation job a
    production run executes on a SAMPLE (all-pairs on the sample bounds
    the cost; the LSH-bucketed path cannot serve here because low
    thresholds are exactly where it under-recalls).  Cosines round to
    9 dp before the threshold compare so boundary pairs classify
    identically in both engines."""
    from .functions.similarity import _dot_sql, _vecs_cte

    cos = f"({_dot_sql('a.e', 'b.e', dialect)} / (a.nrm * b.nrm))"
    ths = " UNION ALL ".join(
        f"SELECT CAST({t} AS DOUBLE) AS threshold"
        for t in ("0.2", "0.3", "0.35", "0.4", "0.5")
    )
    return f"""
WITH {_vecs_cte(dialect)},
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, ROUND({cos}, 9) AS c
  FROM v a JOIN v b ON a.vec_id < b.vec_id),
th AS ({ths}),
joined AS (SELECT th.threshold, p.va, p.vb FROM pairs p JOIN th ON p.c >= th.threshold),
pc AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
       FROM joined GROUP BY threshold),
dc AS (SELECT threshold, CAST(COUNT(DISTINCT v) AS BIGINT) AS n_docs FROM
       (SELECT threshold, va AS v FROM joined
        UNION SELECT threshold, vb FROM joined) _u GROUP BY threshold)
SELECT pc.threshold, pc.n_pairs, dc.n_docs
FROM pc JOIN dc ON dc.threshold = pc.threshold
"""


def embedding_threshold_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark form: the all-pairs cosine table computed ONCE and
    checkpointed (the SQL text re-inlines it into each of its three
    consumers), then the threshold fan-out and both aggregates run over
    the cached pair list."""
    register_views(spark, sf_dir)
    from .functions.similarity import _dot_sql, _vecs_cte

    cos = f"({_dot_sql('a.e', 'b.e', SPARK)} / (a.nrm * b.nrm))"
    pairs = spark.sql(
        f"WITH {_vecs_cte(SPARK)} "
        f"SELECT a.vec_id AS va, b.vec_id AS vb, ROUND({cos}, 9) AS c "
        "FROM v a JOIN v b ON a.vec_id < b.vec_id"
    ).localCheckpoint(eager=True)
    th = spark.sql(
        " UNION ALL ".join(
            f"SELECT CAST({t} AS DOUBLE) AS threshold"
            for t in ("0.2", "0.3", "0.35", "0.4", "0.5")
        )
    )
    joined = pairs.join(F.broadcast(th), pairs["c"] >= th["threshold"]).select(
        "threshold", "va", "vb"
    ).localCheckpoint(eager=True)
    pc = joined.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    dc = (
        joined.select("threshold", F.col("va").alias("v"))
        .union(joined.select("threshold", F.col("vb").alias("v")))
        .distinct()
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return pc.join(dc, "threshold")


def _ann_recall_builder(dialect: str) -> str:
    """Recall@5 of the shipped IVF search vs exact cosine over the same
    queries (functions/similarity.py:ann_recall_report_sql): the number
    the ANN docstrings state, now driver-hashed.  Low absolute recall on
    the uniform-random fixtures is the documented expectation — the
    entry pins that the measurement itself is correct and stable."""
    from .functions import similarity as SIM

    return SIM.ann_recall_report_sql(dialect, k=5)


def _substring_scrub_builder(dialect: str) -> str:
    """All-but-one substring removal (functions/dedup.py:
    substring_scrub_sql, w=8): per shared 8-gram the smallest doc_id
    keeps its text, every other occurrence's covered positions are
    removed, and the scrubbed document is rebuilt in word order — the
    md5 fingerprint of the rebuilt text is the cross-engine proof of an
    identical transform.  Pays the dense position explode the audit
    entry avoids: run `dedup_substring_fraction` first, scrub when the
    measured fraction warrants it."""
    from .functions import dedup as DD

    return DD.substring_scrub_sql(dialect, w=8)


def _substring_dedup_builder(dialect: str) -> str:
    """Substring-duplication audit (functions/dedup.py:
    substring_dedup_sql, w=8): per-source duplicated-token fraction
    where a position counts as duplicated when ANY 8-word window
    covering it appears verbatim in another document — the
    bounded-window, distributable form of Lee et al.'s suffix-array
    substring dedup.  The interval-union trick keeps the post-explode
    frames sparse: only shared START positions flow into the window
    pass, so the plan never materializes a per-position table."""
    from .functions import dedup as DD

    return DD.substring_dedup_sql(dialect, w=8)
