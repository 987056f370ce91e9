"""Round-5/6 builders: sketch family, dedup pipeline, embeddings,
packing, mixtures, text analysis (split from catalog.py r8 —
builders only, registration stays in catalog.py)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import dedup as D
from .functions import text as X
from .functions.portable import DUCK, SPARK
from .sources.readers import FIXTURE_TABLES, Tables, ensure_session_confs, load_table, read_parquet
from .catalog_base import register_views
from .catalog_breadth import _minhash_lsh_pairs_fn


# ------------------------------------------------------------------ #
# round 5 additions
# ------------------------------------------------------------------ #


def multimodal_wav_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end, the WAV analogue of
    ``multimodal_ppm_decode``: deterministic synthetic RIFF/PCM blobs
    encoded from a closed-form amplitude model
    (functions/multimodal.py:synth_wav_media), parsed back with the
    pure-Python RIFF chunk walker and reduced to integer-exact sample
    statistics (decode_wav_stats).  The oracle recomputes the statistics
    from the amplitude model's arithmetic — a hash match proves the
    parser actually reads the PCM frames."""
    from .functions.multimodal import decode_wav_stats, synth_wav_media

    docs = Tables(spark, sf_dir).documents
    return decode_wav_stats(synth_wav_media(docs))


def _wav_decode_oracle() -> str:
    from .functions.portable import lateral_seq

    lat = lateral_seq("0", "channels * n_frames - 1", "j", DUCK)
    return f"""
WITH dims AS (
  SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
         CAST(1 + doc_id % 2 AS INT) AS channels,
         CAST(20 + doc_id % 50 AS INT) AS n_frames
  FROM documents),
s AS (SELECT doc_id, sample_rate, channels, n_frames, j FROM dims {lat}),
v AS (SELECT doc_id, sample_rate, channels, n_frames,
        (doc_id * 31 + j * 17) % 4096 - 2048 AS amp FROM s)
SELECT doc_id AS media_id, sample_rate, channels, n_frames,
  CAST(SUM(amp) AS BIGINT) AS sum_amp,
  CAST(SUM(amp * amp) AS BIGINT) AS sum_sq,
  CAST(MAX(ABS(amp)) AS INT) AS peak
FROM v GROUP BY doc_id, sample_rate, channels, n_frames
"""


def _sequence_packing_oracle() -> str:
    from .functions.packing import pack_sequences_sql

    return pack_sequences_sql(2048, DUCK)


def multimodal_png_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode end-to-end: synthetic PNGs (stdlib
    zlib deflate, scanline filters cycling through ALL FIVE PNG filter
    types) decoded back through signature check → CRC-checked chunk walk
    → inflate → per-scanline prediction reversal
    (functions/multimodal.py:decode_png).  The oracle recomputes channel
    sums from the closed-form pixel model — the hash can only match if
    the zlib stream inflated and every Sub/Up/Average/Paeth row
    reversed correctly.  Unlike PPM this exercises a genuinely
    compressed container."""
    from .functions.multimodal import decode_png_stats, synth_png_media

    docs = Tables(spark, sf_dir).documents
    return decode_png_stats(synth_png_media(docs))


def _png_decode_oracle() -> str:
    from .functions.portable import lateral_seq

    lat = lateral_seq("0", "width * height - 1", "i", DUCK)
    return f"""
WITH dims AS (
  SELECT doc_id, CAST(5 + doc_id % 11 AS INT) AS width,
         CAST(4 + doc_id % 7 AS INT) AS height
  FROM documents),
px AS (SELECT doc_id, width, height, i FROM dims {lat})
SELECT doc_id AS media_id, width, height,
  CAST(SUM((doc_id * 11 + (3 * i) * 19) % 256) AS BIGINT) AS sum_r,
  CAST(SUM((doc_id * 11 + (3 * i + 1) * 19) % 256) AS BIGINT) AS sum_g,
  CAST(SUM((doc_id * 11 + (3 * i + 2) * 19) % 256) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id, width, height
"""


def dedup_containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup audit over the LSH candidate pairs: exact
    shingle-set containment in BOTH directions (|A∩B|/|A|, |A∩B|/|B|)
    alongside Jaccard — the measure that catches a short document
    wholly quoted inside a long one, which symmetric Jaccard dilutes
    below any threshold (the boilerplate/quotation case doc-level dedup
    policies need).  Candidates come from the same persisted band table
    as `dedup_minhash_lsh_pairs`; the exact stage joins each pair's
    distinct shingle sets — digest-keyed rows only, text never pairwise.
    The shared shingle set is checkpointed once (CTE-inlining trap)."""
    from .functions.dedup import _shingles_cte, _words_cte

    register_views(spark, sf_dir)
    pairs = _minhash_lsh_pairs_fn(spark, sf_dir).localCheckpoint(eager=True)
    sh = spark.sql(
        f"WITH {_words_cte(SPARK)}, {_shingles_cte(SPARK)} "
        "SELECT doc_id, sh FROM shingles"
    ).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        pairs.join(
            sh.select(F.col("doc_id").alias("doc_a"), "sh"), "doc_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "sh"), ["doc_b", "sh"]
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(F.col("n_common") / F.col("n_a").cast("double"), 6).alias(
                "containment_a"
            ),
            F.round(F.col("n_common") / F.col("n_b").cast("double"), 6).alias(
                "containment_b"
            ),
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def _dedup_containment_oracle() -> str:
    from .functions.dedup import _shingles_cte, _words_cte

    pairs = D.minhash_lsh_pairs_sql(DUCK)
    return f"""
WITH {_words_cte(DUCK)}, {_shingles_cte(DUCK)},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
          FROM shingles GROUP BY doc_id),
pairs AS (SELECT * FROM ({pairs}) _p),
inter AS (
  SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM pairs p
  JOIN shingles a ON a.doc_id = p.doc_a
  JOIN shingles b ON b.doc_id = p.doc_b AND b.sh = a.sh
  GROUP BY p.doc_a, p.doc_b)
SELECT i.doc_a, i.doc_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
  ROUND(i.n_common / CAST(sa.n AS DOUBLE), 6) AS containment_a,
  ROUND(i.n_common / CAST(sb.n AS DOUBLE), 6) AS containment_b,
  ROUND(i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
"""


def bloom_rolling_membership_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day Bloom membership
    (functions/sketches.py:bloom_rolling_membership) — the trailing-
    window seen-filter behind fraud/abuse checks, completing the rolling
    family for the MEMBERSHIP sketch: per-day position sets fan out to
    their windows and UNION per window (set union IS the Bloom merge,
    so each window's filter equals one built directly on the window).
    Probes the top-5 users + provably disjoint shifted twins against
    every window; per-window audit (probed/possible/members/false-pos)
    driver-hashed — no false negatives structurally, measured false
    positives pinned."""
    from .functions import sketches as SK

    ev = Tables(spark, sf_dir).events
    return SK.bloom_rolling_membership(ev, "ts", "user_id")


def _bloom_rolling_oracle() -> str:
    from .functions import sketches as SK

    return SK.bloom_rolling_membership_sql(DUCK)


def hll_rollup_grouped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL rollup store with a GROUP dimension — per (event_type,
    day) register rows in day-partitioned parquet, completing the
    grouped-store pair with `tdigest_rollup_grouped_range` (distinct
    counts per tenant over any window; registers MAX-merge per group
    over the pruned range).  Built entirely from the existing grouped
    primitives (`hll_registers`/`hll_estimate` take group lists), so
    the store adds no new sketch code — only the storage layout.  The
    oracle computes each group's direct estimate over the range's raw
    events: the hash is the per-group merge-law proof."""
    import os
    import shutil
    import tempfile

    from .functions import sketches as SK

    lo, hi = _ROLLUP_RANGE
    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_hll_grp_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    regs = SK.hll_registers(
        ev.select(F.col("event_type").alias("grp"), day, "user_id"),
        ["grp", "day"],
        "user_id",
    )
    regs.write.mode("overwrite").partitionBy("day").parquet(path)
    in_range = read_parquet(spark, path).filter(
        F.col("day").cast("string").between(lo, hi)
    )
    merged = in_range.groupBy("grp", "bucket").agg(F.max("reg").alias("reg"))
    n_days = in_range.groupBy("grp").agg(
        F.countDistinct("day").cast("long").alias("n_days")
    )
    return (
        SK.hll_estimate(merged, ["grp"])
        .join(F.broadcast(n_days), "grp")
        .select(F.col("grp").alias("event_type"), "n_days", "hll_est")
    )


def _hll_rollup_grouped_oracle() -> str:
    from .functions import sketches as SK

    lo, hi = _ROLLUP_RANGE
    pred = f"CAST(ts AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'"
    est = SK.hll_estimate_sql(
        f"(SELECT event_type, user_id FROM events WHERE {pred})",
        "event_type",
        "user_id",
        dialect=DUCK,
    )
    return f"""
WITH nd AS (
  SELECT event_type,
    CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
  FROM events WHERE {pred} GROUP BY event_type)
SELECT s.event_type, nd.n_days, s.hll_est
FROM ({est}) s JOIN nd ON nd.event_type = s.event_type
"""


def tdigest_rollup_grouped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile store with a GROUP dimension (operators/tdigest.py:
    tdigest_rollup_build_grouped/range_grouped): one digest row per
    (event_type, day) — "p99 per service over any trailing window", the
    per-tenant percentile continuous aggregate.  Driver-hashed claims
    (the family's stability discipline): each (group, q) estimate's
    true rank over that group's raw range values within ±0.03 (groups
    hold ~1/5 of the range's values, so rank granularity is wider than
    the ungrouped ±0.02), plus each group's exact value count from the
    STORE's weights — conservation through the group dimension."""
    import os
    import shutil
    import tempfile

    from .operators.tdigest import (
        tdigest_rollup_build_grouped,
        tdigest_rollup_range_grouped,
    )

    lo, hi = _ROLLUP_RANGE
    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_tdigest_grp_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    tdigest_rollup_build_grouped(ev, path, "event_type", "ts", "value")
    est = F.broadcast(tdigest_rollup_range_grouped(spark, path, lo, hi))
    w = (
        read_parquet(spark, path)
        .filter(F.col("day").cast("string").between(lo, hi))
        .select("grp", F.explode("weights").alias("w"))
        .groupBy("grp")
        .agg(F.sum("w").cast("long").alias("n_values"))
    )
    raw = ev.filter(
        F.to_date("ts").between(F.lit(lo).cast("date"), F.lit(hi).cast("date"))
    ).select(
        F.col("event_type").alias("grp"),
        F.col("value").cast("double").alias("v"),
    ).filter(F.col("v").isNotNull())
    ranked = raw.join(est, "grp").groupBy("grp", "q", "est").agg(
        (
            F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("rank"),
    )
    return (
        ranked.join(F.broadcast(w), "grp")
        .select(
            F.col("grp").alias("event_type"),
            "q",
            (F.abs(F.col("rank") - F.col("q")) <= 0.03).alias("ok"),
            "n_values",
        )
    )


def _tdigest_rollup_grouped_oracle() -> str:
    lo, hi = _ROLLUP_RANGE
    pred = f"CAST(ts AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'"
    return f"""
WITH cnt AS (
  SELECT event_type, CAST(COUNT(value) AS BIGINT) AS n_values
  FROM events WHERE {pred} GROUP BY event_type)
SELECT event_type, q, TRUE AS ok, n_values
FROM cnt CROSS JOIN (SELECT UNNEST([0.5, 0.9, 0.99]) AS q) _q
"""


def winnow_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance ATTRIBUTION from the persisted winnowing-fingerprint
    index (functions/text.py:winnow_index_build/probe): the corpus's
    winnow table lives as parquet, and a new batch asks not just "have
    I seen this" (the Bloom/LSH stores) but "WHICH corpus document does
    each batch document share passages with" — the plagiarism-checker
    query (MOSS stores exactly this structure).  Per batch doc: its
    fingerprint count, how many hit the store, and the best-matching
    corpus doc with the shared-fingerprint count (−1/0 when clean).
    The winnowing guarantee (any shared run of ≥ window+2 words yields
    a shared fingerprint) makes a zero-match row a real clean bill, at
    ~1/window the stored density of full shingling."""
    import os
    import shutil
    import tempfile

    from .functions import text as X

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _wi_corpus AS "
        "SELECT * FROM documents WHERE doc_id % 4 <> 3"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _wi_batch AS "
        "SELECT * FROM documents WHERE doc_id % 4 = 3"
    )
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_winnow_idx_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    X.winnow_index_build(spark, path, "_wi_corpus")
    return X.winnow_index_probe(spark, path, "_wi_batch")


def _winnow_attribution_oracle() -> str:
    from .functions import text as X

    corp = "(SELECT * FROM documents WHERE doc_id % 4 <> 3) _c"
    batch = "(SELECT * FROM documents WHERE doc_id % 4 = 3) _b"
    cf = X.winnow_fingerprint_sql(DUCK, table=corp)
    bf = X.winnow_fingerprint_sql(DUCK, table=batch)
    return f"""
WITH cf AS (SELECT * FROM ({cf}) _cf),
bf AS (SELECT * FROM ({bf}) _bf),
match AS (
  SELECT b.doc_id, c.doc_id AS cid, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM bf b JOIN cf c ON c.fp = b.fp GROUP BY b.doc_id, c.doc_id),
best AS (
  SELECT doc_id, cid, n_common, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY n_common DESC, cid ASC) AS rn
  FROM match),
nf AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM bf GROUP BY doc_id),
nm AS (
  SELECT b.doc_id, CAST(COUNT(DISTINCT b.fp) AS BIGINT) AS n_matched
  FROM bf b WHERE b.fp IN (SELECT fp FROM cf) GROUP BY b.doc_id)
SELECT nf.doc_id, nf.n_fp,
  CAST(COALESCE(nm.n_matched, 0) AS BIGINT) AS n_matched,
  CAST(COALESCE(k.cid, -1) AS BIGINT) AS best_match_id,
  CAST(COALESCE(k.n_common, 0) AS BIGINT) AS n_common
FROM nf
LEFT JOIN nm ON nm.doc_id = nf.doc_id
LEFT JOIN (SELECT doc_id, cid, n_common FROM best WHERE rn = 1) k
  ON k.doc_id = nf.doc_id
"""


def table_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of lineitem's measure columns — the
    scale form of the reference's `str`/metadata surface (bdt.str /
    rscl.ls.str report shapes per node; a 100 TB engine reports null
    rates, distinct counts and ranges per COLUMN, the stats a planner or
    a data-quality monitor feeds on).  ONE scan computes every stat as a
    single wide aggregate row; `stack` unpivots it to (column, stats)
    rows driver-side of the agg — the oracle UNIONs literal rows off the
    same one-row aggregate, same numbers.  Means are decimal-exact
    (dsum discipline); distinct counts are exact."""
    li = Tables(spark, sf_dir).lineitem
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"nn_{c}"),
            F.countDistinct(c).cast("long").alias(f"nd_{c}"),
            F.min(c).cast("double").alias(f"mn_{c}"),
            F.max(c).cast("double").alias(f"mx_{c}"),
            F.round(
                F.sum(F.col(c).cast("decimal(18,6)")).cast("double")
                / F.count(c),
                6,
            ).alias(f"av_{c}"),
        ]
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}, av_{c}" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) AS "
        "(column_name, n_nulls, n_distinct, vmin, vmax, vmean)"
    )


def _table_profile_oracle() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = ", ".join(
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_{c}, "
        f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd_{c}, "
        f"CAST(MIN({c}) AS DOUBLE) AS mn_{c}, "
        f"CAST(MAX({c}) AS DOUBLE) AS mx_{c}, "
        f"ROUND(CAST(SUM(CAST({c} AS DECIMAL(18,6))) AS DOUBLE) / COUNT({c}), 6) "
        f"AS av_{c}"
        for c in cols
    )
    rows = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, nn_{c} AS n_nulls, nd_{c} AS n_distinct, "
        f"mn_{c} AS vmin, mx_{c} AS vmax, av_{c} AS vmean FROM w"
        for c in cols
    )
    return f"WITH w AS (SELECT {aggs} FROM lineitem) {rows}"


def quality_decile_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration deciles for the cascade's quality knob
    (functions/text.py:quality_decile_curve_sql has the full story).
    The oracle ranks with one global ROW_NUMBER; this plan replaces it
    with the two-phase rank (the `training_order` scheme): in-bucket
    row_number partitioned by the score band ``floor(score·20)`` —
    band order IS score order — plus a broadcast ≤21-row offset table
    and a 1-row total.  No unpartitioned window over the corpus."""
    from pyspark.sql import Window

    from .functions import text as X

    register_views(spark, sf_dir)
    d = spark.sql(
        f"WITH {X._cascade_doc_ctes(SPARK)} "
        "SELECT doc_id, quality_score, decision FROM docdec"
    ).withColumn("bucket", F.floor(F.col("quality_score") * 20).cast("long"))
    w_in = Window.partitionBy("bucket").orderBy("quality_score", "doc_id")
    d = d.withColumn("in_rank", F.row_number().over(w_in) - 1)
    totals = d.groupBy("bucket").agg(F.count(F.lit(1)).alias("bn"))
    w_off = (
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    )  # ≤21-row band-total table — bounded by construction
    offsets = totals.select(
        "bucket", F.coalesce(F.sum("bn").over(w_off), F.lit(0)).alias("off")
    )
    n = totals.agg(F.sum("bn").alias("n"))
    ranked = (
        d.join(F.broadcast(offsets), "bucket")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "decile",
            F.floor((F.col("off") + F.col("in_rank")) * 10 / F.col("n"))
            .cast("long"),
        )
    )
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.min("quality_score"), 6).alias("min_score"),
        F.round(F.max("quality_score"), 6).alias("max_score"),
        F.round(
            F.sum(F.col("quality_score").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_score"),
        F.round(
            F.sum(
                F.when(~F.col("decision").isin("keep", "low_quality"), 1).otherwise(0)
            )
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dropped_other_share"),
    )


def packing_boundaries_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin document-boundary offsets (functions/packing.py:
    pack_boundaries) — the mask-metadata table a trainer consumes next
    to the packed bins (block-diagonal attention / boundary loss masks):
    each bin's sorted in-bin start offsets, serialized as a hash-stable
    string.  Derived from the SAME two-phase packing as
    `sequence_packing` (the exposed `prefix` column), so layout and mask
    agree by construction; offsets are always in [0, budget)."""
    from .functions.packing import pack_boundaries, pack_sequences

    docs = Tables(spark, sf_dir).documents
    return pack_boundaries(pack_sequences(docs, budget=2048), budget=2048)


def sequence_packing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document→context-window packing (2048-token budget,
    content-hash layout) via the two-phase distributed prefix sum —
    every window partitioned except the 256-row bucket-offset table
    (functions/packing.py).  Output is the per-bin report; the oracle
    computes the same layout with one global-window cumsum."""
    from .functions.packing import pack_sequences, pack_summary

    docs = Tables(spark, sf_dir).documents
    return pack_summary(pack_sequences(docs, budget=2048), budget=2048)


def _bloom_membership_builder(dialect: str) -> str:
    """Bloom-filter membership audit: build the filter over high-value
    orderkeys (o_totalprice > 400000 — ~20% of orders, so most probes
    are genuine NON-members and the false-positive rate is actually
    exercised), probe every orderkey (functions/sketches.py —
    relational ≤m-row set-bit table, Kirsch-Mitzenmacher double hashing
    on the oracle-reproducible murmur3 finalizer).  At 100 TB the
    set-bit table is ≤0.5 MB — the probe is a broadcast join, and the
    build's DISTINCT carries at most m rows per partition.  The output
    row pins the measured false-positive count against the exact
    membership computed alongside (kn/m ≈ 0.18 at sf0.01 → expected
    ~9 false positives over ~12k non-members; deterministic, so the
    driver hash covers it)."""
    from .functions import sketches as SK

    return SK.bloom_membership_sql(
        "(SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)",
        "orders",
        "o_orderkey",
        m=65536,
        k=4,
        dialect=dialect,
    )


def theta_sketch_intersection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch (KMV) set-operation cardinalities over two
    overlapping order subsets (high-value orders × pre-1998-05 orders —
    deterministic predicates with ~½ overlap, unlike the fixture's
    event-type user sets, which are all identical).  Fixes the
    documented HLL inclusion-exclusion degradation: the intersection is
    estimated directly on common samples below min(theta), so its error
    scales with |A∩B|, not |A∪B| (1.8% vs ~10% I-E at sf0.01).  At
    100 TB each sketch is its ≤k-row sample table — built by
    TakeOrderedAndProject (no global sort), merged by re-truncation;
    the DataFrame form checkpoints the tiny samples so nothing is
    recomputed (functions/sketches.py — the pure-SQL form stays the
    DuckDB oracle; Spark's CTE inlining would re-execute it 29-exchange
    wide)."""
    from .functions import sketches as SK

    o = Tables(spark, sf_dir).orders
    a = o.filter(F.col("o_totalprice") > 200000).select("o_orderkey")
    b = o.filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-05-01"))
    ).select("o_orderkey")
    return SK.theta_sketch_intersection(a, b, "o_orderkey", k=256)


def _theta_intersection_oracle() -> str:
    from .functions import sketches as SK

    return SK.theta_sketch_intersection_sql(
        "(SELECT o_orderkey FROM orders WHERE o_totalprice > 200000)",
        "(SELECT o_orderkey FROM orders WHERE o_orderdate < DATE '1998-05-01')",
        "o_orderkey",
        k=256,
        dialect=DUCK,
    )


def text_token_count_subword_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned subword tokenization (functions/subword.py): top-64
    corpus substrings as the vocabulary (one distributed weighted
    aggregation, deterministic tie-break), then greedy longest-match
    counts per document via the bounded iterative pointer-chase walk —
    per-round localCheckpoint + 1-row liveness probe, the kmeans/pq_fit
    discipline; rounds ≤ max word length.  The walk runs per word TYPE
    and joins back onto occurrences, so at 100 TB the expensive path
    scales with the vocabulary of the corpus, not its token count.  The
    oracle derives the SAME vocabulary and walks it with a recursive
    CTE — and Spark 4.1 executes that identical statement too, so the
    iterative loop is cross-checked three ways (pinned in test_round6).
    De-stubs packing's whitespace-token caveat (packing.py)."""
    from .functions import subword as SW

    register_views(spark, sf_dir)
    return SW.subword_token_counts(spark, k=64)


def _text_token_count_subword_oracle() -> str:
    from .functions import subword as SW

    return SW.subword_token_count_sql(DUCK, k=64)


def sequence_packing_subword_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing charged in LEARNED SUBWORD tokens instead of
    whitespace words — the realistic budget currency (a context window
    is a token budget).  Same two-phase distributed prefix sum as
    `sequence_packing`; only the per-document count changes
    (pack_sequences(tokens_col=...))."""
    from .functions import subword as SW
    from .functions.packing import pack_sequences, pack_summary

    register_views(spark, sf_dir)
    docs = Tables(spark, sf_dir).documents
    counts = SW.subword_token_counts(spark, k=64).select(
        "doc_id", F.col("n_tokens_subword")
    )
    packed = pack_sequences(
        docs.join(counts, "doc_id"),
        budget=2048,
        tokens_col="n_tokens_subword",
    )
    return pack_summary(packed, budget=2048)


def _sequence_packing_subword_oracle() -> str:
    from .functions import subword as SW
    from .functions.packing import pack_sequences_sql

    return pack_sequences_sql(
        2048, DUCK, tokens_cte=SW.subword_doc_tokens_cte(DUCK, k=64)
    )


def theta_overlap_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group theta sketches: the full event-type × event-type
    audience-overlap matrix from ONE ≤k-row sample table per group
    (functions/sketches.py:theta_overlap_by_group, k=64 — each type has
    ~150 distinct users at sf0.01, so the KMV estimator is genuinely
    engaged, not the exact-below-k branch).  Intersections are estimated
    DIRECTLY on common samples — the group dimension of
    `theta_sketch_intersection`, upgrading inclusion-exclusion overlap
    reports (`events_audience_overlap`) to direct estimates whose error
    scales with the intersection.  Exact overlaps computed alongside as
    the audit; the error band is pinned in test_round6."""
    from .functions import sketches as SK

    ev = Tables(spark, sf_dir).events
    return SK.theta_overlap_by_group(ev, "event_type", "user_id", k=64)


def _theta_overlap_by_source_oracle() -> str:
    from .functions import sketches as SK

    return SK.theta_overlap_by_group_sql(
        "events", "event_type", "user_id", k=64, dialect=DUCK
    )


def sequence_packing_by_lang_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sequence packing — the production setup (bins never
    mix languages; a bin feeds one tokenizer/model context).  Same
    two-phase prefix sum as `sequence_packing`, but every window is now
    partitioned by (lang, bucket) or (lang): the grouped variant has NO
    unpartitioned window at all (functions/packing.py)."""
    from .functions.packing import pack_sequences, pack_summary

    docs = Tables(spark, sf_dir).documents
    packed = pack_sequences(docs, budget=1024, by=["lang"])
    return pack_summary(packed, budget=1024, by=["lang"])


def _sequence_packing_by_lang_oracle() -> str:
    from .functions.packing import pack_sequences_sql

    return pack_sequences_sql(1024, DUCK, by=["lang"])


_ROLLUP_RANGE = ("2024-01-08", "2024-01-21")


def hll_daily_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: per-DAY HLL register
    tables (one map-side-combinable aggregation, ≤256 rows per day),
    then a 14-day range query answered by MERGING only those days'
    sketches — never rescanning the events.  This is the pattern that
    turns '90 days of distinct users' on 100 TB from a full-history
    scan into a MAX-merge over 90·256 sketch rows; by the HLL merge law
    the rolled-up estimate equals the direct estimate over the range,
    which is exactly what the oracle computes (the hash match IS the
    rollup-correctness proof).  Exact distinct computed alongside."""
    from .functions import sketches as SK

    lo, hi = _ROLLUP_RANGE
    ev = Tables(spark, sf_dir).events
    regs = SK.hll_registers(
        ev.select(F.to_date("ts").alias("day"), "user_id"), ["day"], "user_id"
    ).localCheckpoint(eager=True)  # the materialized rollup table
    in_range = regs.filter(
        F.col("day").between(F.lit(lo).cast("date"), F.lit(hi).cast("date"))
    )
    est = SK.hll_estimate_global(
        in_range.groupBy("bucket").agg(F.max("reg").alias("reg"))
    )
    n_days = in_range.select("day").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    exact = ev.filter(
        F.to_date("ts").between(F.lit(lo).cast("date"), F.lit(hi).cast("date"))
    ).agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    return n_days.crossJoin(est).crossJoin(exact)


def _hll_daily_rollup_oracle() -> str:
    from .functions import sketches as SK

    lo, hi = _ROLLUP_RANGE
    pred = f"CAST(ts AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'"
    est = SK.hll_estimate_sql(
        f"(SELECT user_id FROM events WHERE {pred})", "", "user_id", dialect=DUCK
    )
    return f"""
SELECT
  (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) FROM events
   WHERE {pred}) AS n_days,
  hll_est,
  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
   WHERE {pred}) AS exact_distinct
FROM ({est})
"""


def _stream_hll_oracle() -> str:
    from .functions import sketches as SK

    return SK.hll_estimate_sql(
        "(SELECT user_id FROM events)", "", "user_id", dialect=DUCK
    )


def hll_rolling_7day_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users from the DAILY SKETCH TABLE alone
    (functions/sketches.py:hll_rolling_merge_sql): each day's ≤256
    registers fan out to the ≤7 windows containing that day and
    MAX-merge per window — the rolling-DAU query that on 100 TB costs
    days·256 register rows instead of 7 passes over events.  The oracle
    computes each window's estimate directly from raw values; equality
    (the driver hash) is the merge-law proof for ROLLING consumption,
    complementing `hll_rollup_persisted`'s single-range proof."""
    from .functions import sketches as SK

    register_views(spark, sf_dir)
    return spark.sql(SK.hll_rolling_merge_sql("ts", "user_id", 7, dialect=SPARK))


def _hll_rolling_7day_oracle() -> str:
    from .functions import sketches as SK

    return SK.hll_rolling_direct_sql("ts", "user_id", 7, dialect=DUCK)


def _stream_bloom_seen_oracle() -> str:
    from .functions import sketches as SK

    inner = SK.bloom_membership_sql(
        "(SELECT user_id FROM events)",
        "(SELECT user_id FROM events UNION "
        " SELECT user_id + (SELECT MAX(user_id) + 1 FROM events) AS user_id"
        " FROM events)",
        "user_id",
        m=4096,
        k=4,
        dialect=DUCK,
    )
    return f"""
SELECT n_probed, n_possible, n_members, n_false_pos,
  CAST(1 AS BIGINT) AS n_files
FROM ({inner}) _b
"""


def _stream_hll_daily_oracle() -> str:
    from .functions import sketches as SK

    return SK.hll_estimate_sql(
        "(SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, user_id FROM events)",
        "day",
        "user_id",
        dialect=DUCK,
    )


def hll_rollup_persisted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily HLL rollup as a PERSISTED incremental sketch table —
    the production form of ``hll_daily_rollup_range`` (which demonstrates
    the merge law in-query): per-day register rows land in a parquet
    table partitioned by day (functions/sketches.py:hll_rollup_build /
    hll_rollup_append_day), and the 14-day range query reads ONLY the
    sketch files — the returned plan contains a partition-pruned scan of
    the rollup table and NO events scan (pinned in test_round6).  The
    oracle computes the direct estimate over the range's raw events, so
    the driver hash IS the proof that the persisted+merged rollup equals
    a full rescan.  At 100 TB: any-window distinct-user queries cost
    days·256 sketch rows; a new day appends ≤256 rows touching no prior
    files."""
    import os
    import shutil
    import tempfile

    from .functions import sketches as SK

    lo, hi = _ROLLUP_RANGE
    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_hll_rollup_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    SK.hll_rollup_build(ev, path)
    return SK.hll_rollup_range_estimate(spark, path, lo, hi)


def hll_rollup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted rollup's INCREMENTAL maintenance path exercised
    end-to-end through the catalog: build the sketch table over every
    day EXCEPT the last, then `hll_rollup_append_day` the final day
    (scanning only that day's events), then answer the full-range query
    from the (base + appended) sketch files.  Hash-matching the
    direct-estimate oracle proves append-then-merge == one-shot build ==
    full rescan — the day-N+1 backfill contract at 100 TB.  File-level
    immutability of prior days is pinned separately in test_round6."""
    import os
    import shutil
    import tempfile

    from .functions import sketches as SK

    lo, hi = _ROLLUP_RANGE
    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_hll_rollup_inc_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    last = ev.agg(F.max(day).alias("d")).collect()[0]["d"]  # 1-row metadata
    SK.hll_rollup_build(ev.filter(day < last), path)
    SK.hll_rollup_append_day(ev.filter(day == last), path, last)
    return SK.hll_rollup_range_estimate(spark, path, lo, hi)


def hll_rollup_compacted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rollup store's COMPACTION verb end-to-end (VERDICT r6 #2):
    build the per-day sketch table, REPLAY two days' appends (the
    at-least-once delivery case — safe because register MAX is
    idempotent, so a replayed append cannot corrupt the store), compact
    every multi-file day down to one file
    (functions/sketches.py:hll_rollup_compact_all), and answer the range
    query from the compacted store.  Hash-matching the direct-rescan
    oracle proves replay+compaction changed nothing; the file-count drop
    to 1/day and bit-identical pre/post estimates are pinned in
    tests/test_round7.py.  At 100 TB this is the maintenance job that
    keeps read cost proportional to DAYS, not append/batch count."""
    import os
    import shutil
    import tempfile

    from .functions import sketches as SK

    lo, hi = _ROLLUP_RANGE
    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_hll_rollup_cmp_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    SK.hll_rollup_build(ev, path)
    for replay in (lo, hi):  # at-least-once: same days appended again
        SK.hll_rollup_append_day(ev.filter(day == replay), path, replay)
    SK.hll_rollup_compact_all(spark, path)
    return SK.hll_rollup_range_estimate(spark, path, lo, hi)


def _hll_rollup_persisted_oracle() -> str:
    from .functions import sketches as SK

    lo, hi = _ROLLUP_RANGE
    pred = f"CAST(ts AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'"
    est = SK.hll_estimate_sql(
        f"(SELECT user_id FROM events WHERE {pred})", "", "user_id", dialect=DUCK
    )
    return f"""
SELECT
  (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) FROM events
   WHERE {pred}) AS n_days,
  hll_est
FROM ({est})
"""


def mg_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 users WITHOUT a full-key-space shuffle: per-partition
    Misra-Gries candidate summaries + broadcast recount of the tiny
    candidate set (functions/sketches.py).  At 100 TB this replaces a
    billions-of-keys groupBy with a broadcast filter +
    thousands-of-keys aggregate.  The oracle is the plain exact
    top-20 — the MG machinery is pure physical strategy, so the driver
    hash proves the two-pass scheme loses nothing.

    SIZING RULE (the number to copy, learned the hard way): the scheme
    is exact only while every true top-k key survives the summaries —
    guaranteed iff capacity > N / freq(k-th key).  The events fixtures
    are near-uniform (~N/|users| per user), so that bound is ~|users|:
    capacity=512 was fine at sf0.01 (150 users) but silently missed
    top keys at sf0.1 (1500 users, threshold N/512 ≈ 195 > the 20th
    count ≈ 90 — caught by the r9 sf0.1 robustness sweep).  4096
    covers every fixture SF; on a real skewed workload capacity comes
    from the same inequality with the target key's expected share."""
    from .functions import sketches as SK

    ev = Tables(spark, sf_dir).events
    return SK.mg_heavy_hitters(ev, "user_id", capacity=4096, topk=20)


_MG_TOPK_ORACLE = """
SELECT CAST(user_id AS BIGINT) AS key, CAST(COUNT(*) AS BIGINT) AS true_cnt
FROM events GROUP BY CAST(user_id AS BIGINT)
ORDER BY true_cnt DESC, key LIMIT 20
"""


def _source_mixture_weights_builder(dialect: str) -> str:
    """Temperature-weighted domain mixing — the sampling-weight table a
    training run reads to balance sources (UL2/T5-style ``count^alpha``
    reweighting, alpha=0.5): per source, docs, whitespace tokens, and
    ``mix_weight = sqrt(tokens) / SUM(sqrt(tokens))``.  Determinism
    notes: SQRT is IEEE-correctly-rounded in both engines (POWER with a
    fractional exponent is NOT — why alpha is 0.5 here); the weights are
    fixed-point-scaled with FLOOR before the exact BIGINT sum so the
    normalizing denominator is accumulation-order-independent."""
    from .functions.portable import arr_len, split_ws

    tok = arr_len(split_ws("text", dialect), dialect)
    return f"""
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM({tok}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_docs, n_tokens,
    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS sw
  FROM s)
SELECT source, n_docs, n_tokens,
  ROUND(CAST(sw AS DOUBLE) / CAST((SELECT SUM(sw) FROM w) AS DOUBLE), 6)
    AS mix_weight
FROM w
"""


def _mixture_token_plan_builder(dialect: str) -> str:
    """The mixing loop's PLANNING table: allocate a 1M-token training
    budget across sources by the temperature weights (`source_mixture_
    weights`' sqrt scheme) and report what the allocation implies —
    planned tokens per source and EPOCHS NEEDED (planned/available;
    >1 means the source repeats, the oversampling `mixture_resample_
    epochs` executes).  This is the table that justifies the epoch
    machinery before a run starts.  Exactness: the fixed-point sw
    weights and the 1M budget keep every numerator ≤ ~2e14 — inside
    double's exact-integer range — so FLOOR lands identically in both
    engines; IEEE division is correctly rounded in both."""
    from .functions.portable import arr_len, split_ws

    tok = arr_len(split_ws("text", dialect), dialect)
    budget = 1_000_000
    return f"""
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM({tok}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_docs, n_tokens,
    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS sw
  FROM s),
p AS (
  SELECT source, n_docs, n_tokens, sw,
    CAST(FLOOR(CAST(sw AS DOUBLE) * {budget}
      / CAST((SELECT SUM(sw) FROM w) AS DOUBLE)) AS BIGINT) AS planned_tokens
  FROM w)
SELECT source, n_docs, n_tokens,
  ROUND(CAST(sw AS DOUBLE) / CAST((SELECT SUM(sw) FROM w) AS DOUBLE), 6)
    AS mix_weight,
  planned_tokens,
  ROUND(CAST(planned_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
    AS epochs_needed
FROM p
"""


def _mixture_resample_builder(dialect: str) -> str:
    """Closes the mixing loop: CONSUME the temperature weights
    (`source_mixture_weights`'s sqrt scheme) as per-source document
    targets out of a 400-doc resample budget, and DRAW the sample
    deterministically — per source, the first ``target`` docs in
    (md5(text), doc_id) order, the same content-hash-order discipline
    as `sample_by_hash`/packing, so the drawn set is partitioning- and
    run-independent.  Report target vs achieved per source (achieved
    caps at the source's size — the audit surfaces under-supplied
    sources).  At 100 TB: one window rank per source + a broadcast
    20-row target table; no shuffling of the corpus beyond the rank."""
    from .functions.portable import arr_len, split_ws

    tok = arr_len(split_ws("text", dialect), dialect)
    return f"""
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM({tok}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_docs,
    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS sw
  FROM s),
t AS (
  SELECT source, n_docs,
    CAST(FLOOR(CAST(sw AS DOUBLE) / CAST((SELECT SUM(sw) FROM w) AS DOUBLE)
         * 400 + 0.5) AS BIGINT) AS target
  FROM w),
ranked AS (
  SELECT source, doc_id,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rn
  FROM documents),
pick AS (
  SELECT r.source, r.doc_id
  FROM ranked r JOIN t ON t.source = r.source
  WHERE r.rn <= t.target)
SELECT t.source, t.n_docs, t.target,
  CAST(COUNT(p.doc_id) AS BIGINT) AS n_sampled
FROM t LEFT JOIN pick p ON p.source = t.source
GROUP BY t.source, t.n_docs, t.target
"""


def tdigest_rollup_range_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted QUANTILE rollup (operators/tdigest.py:
    tdigest_rollup_build/range) — the continuous-aggregate pattern for
    percentiles, completing the store family: one compressed digest row
    per day lands in day-partitioned parquet, and the 14-day range's
    p50/p90/p99 come from merging the range's digest rows alone (days ×
    ~delta centroid doubles — never a raw rescan; digests are mergeable,
    quantiles are not, which is why the STORED unit is the digest).
    t-digest estimates are partition-order-dependent (inherent, same as
    percentile_approx), so the driver-hashed claim is the partitioning-
    stable one: each estimate's true rank over the range's raw values
    sits within ±0.02 of q (the tdigest_quantiles_grouped discipline),
    alongside the exact day count."""
    import os
    import shutil
    import tempfile

    from .operators.tdigest import tdigest_rollup_build, tdigest_rollup_range

    lo, hi = _ROLLUP_RANGE
    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_tdigest_rollup_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    tdigest_rollup_build(ev, path, "ts", "value")
    est = F.broadcast(tdigest_rollup_range(spark, path, lo, hi).select("q", "est"))
    in_range = ev.filter(
        F.to_date("ts").between(F.lit(lo).cast("date"), F.lit(hi).cast("date"))
    ).select(F.col("value").cast("double").alias("v"), F.to_date("ts").alias("d"))
    ranked = in_range.crossJoin(est).groupBy("q", "est").agg(
        (
            F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("rank"),
    )
    n_days = in_range.agg(
        F.countDistinct("d").cast("long").alias("n_days")
    )
    return ranked.crossJoin(F.broadcast(n_days)).select(
        "q",
        (F.abs(F.col("rank") - F.col("q")) <= 0.02).alias("ok"),
        "n_days",
    )


def _tdigest_rollup_oracle() -> str:
    lo, hi = _ROLLUP_RANGE
    pred = f"CAST(ts AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'"
    return f"""
SELECT q, TRUE AS ok,
  (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) FROM events
   WHERE {pred}) AS n_days
FROM (SELECT UNNEST([0.5, 0.9, 0.99]) AS q) _q
"""


def tdigest_rollup_compacted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile store's full verb cycle — build / append / COMPACT /
    range (operators/tdigest.py) — mirroring `hll_rollup_compacted` for
    the SUM-mergeable sketch family: the store is built without the
    range's last day, that day arrives as TWO disjoint per-batch appends
    (each value delivered exactly once — the additive-weight contract;
    replay is NOT safe here, unlike register MAX), every multi-file day
    is compacted to one file, and the range quantiles are answered from
    the compacted store.  Driver-hashed claims, chosen for stability
    under t-digest's merge-order dependence: each estimate's true rank
    within ±0.02 of q; `n_files_max` == 1 after compaction; and
    `total_weight` — the store's summed digest weights over the range —
    EXACTLY equals the raw row count (additive integer-valued doubles,
    exact below 2^53), proving split-append + compaction lost no mass."""
    import os
    import shutil
    import tempfile

    from .operators.tdigest import (
        tdigest_rollup_append_day,
        tdigest_rollup_build,
        tdigest_rollup_compact_all,
        tdigest_rollup_range,
    )

    lo, hi = _ROLLUP_RANGE
    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_tdigest_cmp_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    tdigest_rollup_build(ev.filter(day != hi), path, "ts", "value")
    last = ev.filter(day == hi)
    tdigest_rollup_append_day(last.filter(F.col("user_id") % 2 == 0), path, hi)
    tdigest_rollup_append_day(last.filter(F.col("user_id") % 2 == 1), path, hi)
    tdigest_rollup_compact_all(spark, path)
    n_files_max = max(
        len(
            [
                f
                for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")
            ]
        )
        for d in os.listdir(path)
        if d.startswith("day=")
    )
    est = F.broadcast(tdigest_rollup_range(spark, path, lo, hi).select("q", "est"))
    w = (
        read_parquet(spark, path)
        .filter(F.col("day").cast("string").between(lo, hi))
        .select(F.explode("weights").alias("w"))
        .agg(F.sum("w").cast("long").alias("total_weight"))
    )
    in_range = ev.filter(
        F.to_date("ts").between(F.lit(lo).cast("date"), F.lit(hi).cast("date"))
    ).select(F.col("value").cast("double").alias("v"), F.to_date("ts").alias("d"))
    ranked = in_range.crossJoin(est).groupBy("q", "est").agg(
        (
            F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("rank"),
    )
    n_days = in_range.agg(F.countDistinct("d").cast("long").alias("n_days"))
    return (
        ranked.crossJoin(F.broadcast(n_days))
        .crossJoin(F.broadcast(w))
        .select(
            "q",
            (F.abs(F.col("rank") - F.col("q")) <= 0.02).alias("ok"),
            "n_days",
            F.lit(n_files_max).cast("long").alias("n_files_max"),
            "total_weight",
        )
    )


def _tdigest_rollup_compacted_oracle() -> str:
    lo, hi = _ROLLUP_RANGE
    pred = f"CAST(ts AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'"
    return f"""
SELECT q, TRUE AS ok,
  (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) FROM events
   WHERE {pred}) AS n_days,
  CAST(1 AS BIGINT) AS n_files_max,
  (SELECT CAST(COUNT(value) AS BIGINT) FROM events WHERE {pred})
    AS total_weight
FROM (SELECT UNNEST([0.5, 0.9, 0.99]) AS q) _q
"""


def tdigest_rolling_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day p50/p90/p99 computed ENTIRELY from the persisted
    day-digest table (operators/tdigest.py:tdigest_rolling_quantiles) —
    the quantile member of the rolling-sketch family (HLL rolls distinct
    counts, theta overlap, CMS frequency): each stored day's digest fans
    out to its ≤7 windows and concat-compresses per window; raw values
    are read once, at build time.  Driver-hashed claim (stable under
    merge-order dependence, the `tdigest_rollup_range` discipline): each
    window estimate's true rank over THAT window's raw values sits
    within ±0.03 of q (wider than the single-range ±0.02 band because
    partial leading windows hold few values and rank granularity 1/n
    dominates), alongside the window's exact day count."""
    import os
    import shutil
    import tempfile

    from .operators.tdigest import tdigest_rollup_build, tdigest_rolling_quantiles

    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_tdigest_roll_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    tdigest_rollup_build(ev, path, "ts", "value")
    est = F.broadcast(tdigest_rolling_quantiles(spark, path, window_days=7))
    raw = ev.select(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_num"),
        F.col("value").cast("double").alias("v"),
    ).filter(F.col("v").isNotNull())
    windowed = raw.join(
        est,
        (F.col("day_num") >= F.col("day_end") - 6)
        & (F.col("day_num") <= F.col("day_end")),
    )
    ranked = windowed.groupBy("day_end", "q", "est").agg(
        (
            F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("rank"),
        F.countDistinct("day_num").cast("long").alias("n_days"),
    )
    return ranked.select(
        "day_end",
        "q",
        (F.abs(F.col("rank") - F.col("q")) <= 0.03).alias("ok"),
        "n_days",
    )


def _tdigest_rolling_oracle() -> str:
    from .functions.portable import days_since_epoch

    dd = days_since_epoch("ts", DUCK)
    return f"""
WITH ev AS (
  SELECT {dd} AS day_num, CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL),
days AS (SELECT DISTINCT day_num FROM ev),
wd AS (
  SELECT d.day_num AS day_end,
    CAST(COUNT(DISTINCT e.day_num) AS BIGINT) AS n_days
  FROM days d JOIN ev e
    ON e.day_num BETWEEN d.day_num - 6 AND d.day_num
  GROUP BY d.day_num)
SELECT CAST(day_end AS BIGINT) AS day_end, q, TRUE AS ok, n_days
FROM wd CROSS JOIN (SELECT UNNEST([0.5, 0.9, 0.99]) AS q) _q
"""


def training_order_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order permutation over the corpus
    (functions/packing.py:training_order): every document gets a dense
    0..n−1 position in (md5(text), doc_id) order — the reproducible
    "shuffle" a training run reads sequentially, independent of
    partitioning or cluster size.  The oracle is the naive global
    ROW_NUMBER; the Spark plan replaces that single-partition sort with
    the two-phase bucket scheme (in-bucket rank + broadcast ≤256-row
    offset table) — hash-matching proves the distributed permutation IS
    the global one."""
    from .functions.packing import training_order

    return training_order(Tables(spark, sf_dir).documents)


_TRAINING_ORDER_ORACLE = """
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (ORDER BY md5(text), doc_id) - 1 AS BIGINT) AS pos
FROM documents
"""


def bloom_index_persisted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted SEEN-KEYS Bloom index end-to-end (functions/
    sketches.py:bloom_index_build/append/compact/probe) — the O(1)
    membership prefilter a crawl frontier consults before the LSH/exact
    dedup path: corpus doc ids enter the store in three increments (the
    third REPLAYED — append replay is safe because the store is a
    position SET and DISTINCT-union is idempotent, the same at-least-once
    story as the HLL store's MAX), the store compacts to one ≤m-row
    file, and a mixed batch (unseen docs + recrawls) probes it with a
    broadcast join — the batch never shuffles.  The oracle is the
    self-contained `bloom_membership_sql` over the same build/probe
    sets: hash-matching it proves the persisted lifecycle (including
    the replay and compaction) reproduces the in-query filter's
    decisions bit-for-bit — no false negatives, and the same measured
    false-positive count."""
    import os
    import shutil
    import tempfile

    from .functions import sketches as SK

    docs = Tables(spark, sf_dir).documents
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_bloom_idx_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    did = F.col("doc_id")
    SK.bloom_index_build(docs.filter(did % 4 == 0), path, "doc_id")
    SK.bloom_index_append(docs.filter(did % 4 == 1), path, "doc_id")
    for _ in range(2):  # at-least-once: the third increment delivered twice
        SK.bloom_index_append(docs.filter(did % 4 == 2), path, "doc_id")
    n_files = SK.bloom_index_compact(spark, path)
    batch = docs.filter((did % 4 == 3) | (did % 8 == 0))  # unseen + recrawls
    probed = SK.bloom_index_probe(spark, path, batch, "doc_id")
    corpus = (
        docs.filter(did % 4 != 3)
        .select(did.cast("long").alias("v"))
        .distinct()
        .withColumn("member", F.lit(True))
    )
    return (
        probed.join(corpus, "v", "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probed"),
            F.sum(F.when(F.col("possible"), 1).otherwise(0))
            .cast("long")
            .alias("n_possible"),
            F.sum(F.when(F.col("member"), 1).otherwise(0))
            .cast("long")
            .alias("n_members"),
            F.sum(
                F.when(F.col("possible") & F.col("member").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_false_pos"),
        )
        .withColumn("n_files", F.lit(n_files).cast("long"))
    )


def _bloom_index_persisted_oracle() -> str:
    from .functions import sketches as SK

    inner = SK.bloom_membership_sql(
        "(SELECT doc_id FROM documents WHERE doc_id % 4 <> 3)",
        "(SELECT doc_id FROM documents WHERE doc_id % 4 = 3 OR doc_id % 8 = 0)",
        "doc_id",
        m=4096,
        k=4,
        dialect=DUCK,
    )
    return f"""
SELECT n_probed, n_possible, n_members, n_false_pos,
  CAST(1 AS BIGINT) AS n_files
FROM ({inner}) _b
"""


def incremental_dedup_persisted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`incremental_dedup`'s adjudication answered from a PERSISTED LSH
    index (functions/dedup.py:lsh_index_build/probe) — the storage form
    its own docstring promises: the corpus's digest set and MinHash
    band-bucket keys live as parquet, and the batch (including the
    deterministic simulated recrawls) probes the STORE with |batch|
    signature work + two membership joins.  Sharing `incremental_dedup`'s
    oracle proves store-backed adjudication == the self-contained
    formulation decision-for-decision.  (Recrawls may carry band rows
    here, unlike the self-contained form — harmless because the exact
    arms short-circuit before the near-dup arm for every recrawl by
    construction.)  At 100 TB: the index is digests + ≤4·|corpus|
    bucket keys — the corpus text is never rescanned, and
    `lsh_index_append` folds each increment's kept docs in for the next
    drop (append-then-reprobe loop pinned in tests/test_round7.py)."""
    import os
    import shutil
    import tempfile

    from .functions import dedup as D

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _idp_corpus AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _idp_batch AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3 "
        "UNION ALL SELECT doc_id + 1000000, text FROM documents "
        "WHERE doc_id % 7 = 0"
    )
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_lsh_index_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    D.lsh_index_build(spark, path, "_idp_corpus")
    return D.lsh_index_probe(spark, path, "_idp_batch")


def theta_rolling_churn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling week-over-week retention/churn from per-week theta (KMV)
    sketches (functions/sketches.py:theta_rolling_churn, k=64): each
    consecutive week pair's retained-user estimate comes from the common
    samples below min(theta) and churn is the difference — the canonical
    100 TB telemetry ask (`hll_rolling_7day` proved rolling-from-
    sketches for cardinality; this is the same discipline for OVERLAP,
    which HLL cannot answer without inclusion-exclusion blow-up).  The
    cohort is weekly PURCHASERS — the sparse high-value segment whose
    membership actually turns over week to week (the all-events weekly
    population is the same 150 users every week at fixture scale, which
    would make churn degenerately zero).  Exact audit columns ride
    along; the 3σ KMV band is pinned in tests/test_round7.py."""
    from .functions import sketches as SK

    ev = Tables(spark, sf_dir).events.filter(F.col("event_type") == "purchase")
    return SK.theta_rolling_churn(ev, "ts", "user_id", k=64)


def _theta_rolling_churn_oracle() -> str:
    from .functions import sketches as SK

    return SK.theta_rolling_churn_sql(
        "(SELECT ts, user_id FROM events WHERE event_type = 'purchase')",
        "ts",
        "user_id",
        k=64,
        dialect=DUCK,
    )


def _mixture_epochs_pick_ctes(dialect: str) -> str:
    """The epoch-resample CTE chain ending in ``pick`` ``(source,
    doc_id, e)`` — the drawn multiset, shared by the summary entry
    (`mixture_resample_epochs`) and the curriculum serving order."""
    from .functions.portable import arr_len, lateral_seq, split_ws

    tok = arr_len(split_ws("text", dialect), dialect)
    lat = lateral_seq("0", "31", "e", dialect)
    return f"""s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM({tok}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_docs,
    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS sw
  FROM s),
t AS (
  SELECT source, n_docs,
    CAST(FLOOR(CAST(sw AS DOUBLE) / CAST((SELECT SUM(sw) FROM w) AS DOUBLE)
         * (SELECT 3 * SUM(n_docs) FROM s) + 0.5) AS BIGINT) AS target
  FROM w),
epochs AS (
  SELECT source, n_docs, target, e FROM t {lat}
  WHERE e * n_docs < target),
ranked AS (
  SELECT source, doc_id,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rn
  FROM documents),
pick AS (
  SELECT ep.source, r.doc_id, ep.e
  FROM epochs ep JOIN ranked r ON r.source = ep.source
  WHERE ep.e * ep.n_docs + r.rn <= ep.target)"""


def _mixture_resample_epochs_builder(dialect: str) -> str:
    """Epoch-aware OVERSAMPLING (VERDICT r6 #3) — `mixture_resample`
    without the achieved-caps-at-size compromise: real mixture training
    repeats small sources (UL2/Pile-style epoch counting) until every
    source hits its temperature target exactly.  The budget is 3× the
    corpus, so targets EXCEED source sizes and the draw must cycle:
    epoch ``e`` re-draws the whole source in (md5(text), doc_id) order,
    and the final partial epoch takes the first ``target − e·n_docs``
    docs of that same order — the content-hash-order discipline of
    `sample_by_hash`/packing (the reference's seeded-generator
    determinism, tests-04), so the multiset of (doc, epoch) draws is
    partitioning- and run-independent.  ``n_sampled == target`` for
    every source (the no-cap law the driver hash pins), ``n_epochs ==
    ceil(target/n_docs)`` is the epochs-used audit, and
    ``n_over_grid`` pins that no source outruns the static 32-epoch
    grid (same guard pattern as the passage-dedup chunk grid).  At
    100 TB: the epoch grid is a ≤ sources×32-row broadcast against one
    rank window per source — repetition costs metadata, not rescans."""
    return f"""
WITH {_mixture_epochs_pick_ctes(dialect)}
SELECT t.source, t.n_docs, t.target,
  CAST(COUNT(p.doc_id) AS BIGINT) AS n_sampled,
  CAST(COUNT(DISTINCT p.doc_id) AS BIGINT) AS n_distinct_docs,
  CAST(MAX(p.e) + 1 AS BIGINT) AS n_epochs,
  CAST(MAX(CASE WHEN t.target > 32 * t.n_docs THEN 1 ELSE 0 END) AS BIGINT)
    AS n_over_grid
FROM t LEFT JOIN pick p ON p.source = t.source
GROUP BY t.source, t.n_docs, t.target
"""


def curriculum_serving_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING ORDER of the epoch-resampled mixture — what a data
    loader actually feeds the trainer: the `mixture_resample_epochs`
    multiset (each source drawn to its temperature target, small sources
    cycled with an epoch counter) globally shuffled in content-hash
    order, with the EPOCH inside the hash key so a doc's repeats scatter
    through the stream instead of clustering (the interleaving property
    epoch-aware loaders need).  Per (source, epoch): draw count and the
    span of serving positions — large groups span essentially the whole
    stream (a 1-draw final epoch sits wherever its hash lands, so the
    span law is per-group-size, not universal), and the driver hash
    pins every span exactly.

    Spark plan: the pick chain runs with per-source (partitioned)
    windows; the global position uses the `training_order` two-phase
    bucket rank over md5(text‖epoch) — the oracle's single ROW_NUMBER
    never appears."""
    from pyspark.sql import Window

    register_views(spark, sf_dir)
    # the pick chain carries scalar-subquery denominators that Spark's
    # CTE inlining would re-derive downstream — checkpoint the ~target-
    # sized multiset once (build-phase discipline)
    pick = spark.sql(
        f"WITH {_mixture_epochs_pick_ctes(SPARK)} "
        "SELECT source, doc_id, e FROM pick"
    ).localCheckpoint(eager=True)
    docs = spark.table("documents").select("doc_id", "text")
    draws = pick.join(docs, "doc_id").select(
        "source",
        "doc_id",
        "e",
        F.md5(F.concat(F.col("text"), F.lit(":"), F.col("e").cast("string"))).alias(
            "h"
        ),
    ).withColumn("bucket", F.substring("h", 1, 2))
    w_in = Window.partitionBy("bucket").orderBy("h", "doc_id", "e")
    d = draws.withColumn("in_rank", F.row_number().over(w_in) - 1)
    totals = d.groupBy("bucket").agg(F.count(F.lit(1)).alias("bn"))
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bucket", F.coalesce(F.sum("bn").over(w_off), F.lit(0)).alias("off")
    )
    pos = (F.col("off") + F.col("in_rank")).cast("long")
    return (
        d.join(F.broadcast(offsets), "bucket")
        .select("source", "e", pos.alias("pos"))
        .groupBy("source", "e")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_draws"),
            F.min("pos").alias("min_pos"),
            F.max("pos").alias("max_pos"),
        )
        .select(
            "source",
            F.col("e").cast("long").alias("epoch"),
            "n_draws",
            "min_pos",
            "max_pos",
        )
    )


def _curriculum_serving_order_oracle() -> str:
    return f"""
WITH {_mixture_epochs_pick_ctes(DUCK)},
draws AS (
  SELECT p.source, p.doc_id, p.e,
    md5(concat(d.text, ':', CAST(p.e AS VARCHAR))) AS h
  FROM pick p JOIN documents d ON d.doc_id = p.doc_id),
ordered AS (
  SELECT source, e,
    ROW_NUMBER() OVER (ORDER BY h, doc_id, e) - 1 AS pos
  FROM draws)
SELECT source, CAST(e AS BIGINT) AS epoch,
  CAST(COUNT(*) AS BIGINT) AS n_draws,
  CAST(MIN(pos) AS BIGINT) AS min_pos,
  CAST(MAX(pos) AS BIGINT) AS max_pos
FROM ordered GROUP BY source, e
"""


def _pii_scrub_audit_builder(dialect: str) -> str:
    """Redaction-machinery audit over the event payload column: count
    and scrub digit runs (the pattern class the fixture actually
    carries; swap in email/phone/SSN alternations for a production
    corpus — the machinery is the shared-regex-subset scrub, not the
    pattern list).  Per event_type: events, events with a match, total
    matched runs, and the payload length before/after scrubbing —
    the before/after delta is the redacted-character count, which the
    value hash pins."""
    from .functions.portable import regexp_count, regex_replace_all

    runs = regexp_count("props", "[0-9]+", dialect)
    scrub = regex_replace_all("props", "[0-9]+", "#", dialect)
    return f"""
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN {runs} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_pii,
  CAST(SUM({runs}) AS BIGINT) AS n_runs,
  CAST(SUM(LENGTH(props)) AS BIGINT) AS chars_raw,
  CAST(SUM(LENGTH({scrub})) AS BIGINT) AS chars_scrubbed
FROM events GROUP BY event_type
"""


def _dedup_chunk_passages_builder(dialect: str) -> str:
    """Chunk-level (passage) dedup — the granularity between exact-doc
    and shingle dedup: documents are cut into NON-OVERLAPPING 3-word
    chunks (static chunk-index grid, no correlated laterals) and
    repeated passages detected by md5 across the whole corpus.  Per
    source: chunks, distinct chunk texts, corpus-duplicated chunks (text
    seen in >1 chunk anywhere), and the duplication ratio.  At 100 TB
    the shuffle carries (digest, count) pairs, never passage text twice;
    this is the boilerplate/repeated-footer detector that doc-level
    dedup misses and shingle overlap over-counts.

    The static chunk grid covers documents up to 64·3 = 192 words; a
    longer document's tail chunks would fall off the grid, so the result
    carries an explicit ``n_docs_over_grid`` audit column (docs whose
    word count exceeds the grid) — 0 on every fixture, and pinned at 0
    by the driver value-hash, so a corpus outgrowing the grid surfaces
    as a visible column instead of silent truncation (mirrors the
    subword MAXLEN guard)."""
    from .functions.portable import arr_len, arr_slice_join, lateral_seq, split_ws

    arr = split_ws("text", dialect)
    lat = lateral_seq("0", "63", "ci", dialect)  # ≤ 192 words/doc at any SF
    chunk = arr_slice_join("words", "ci * 3 + 1", 3, " ", dialect)
    return f"""
WITH dw AS (
  SELECT doc_id, source, {arr} AS words,
    CAST({arr_len(arr, dialect)} AS BIGINT) AS nw
  FROM documents),
over AS (
  SELECT source, CAST(COUNT(CASE WHEN nw > 192 THEN 1 END) AS BIGINT)
    AS n_docs_over_grid
  FROM dw GROUP BY source),
chunks AS (
  SELECT doc_id, source, md5({chunk}) AS h
  FROM dw {lat}
  WHERE ci * 3 + 1 <= nw),
freq AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS cnt FROM chunks GROUP BY h)
SELECT c.source,
  CAST(COUNT(*) AS BIGINT) AS n_chunks,
  CAST(COUNT(DISTINCT c.h) AS BIGINT) AS n_distinct,
  CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicated,
  ROUND(CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS dup_ratio,
  MAX(o.n_docs_over_grid) AS n_docs_over_grid
FROM chunks c JOIN freq f ON c.h = f.h
JOIN over o ON o.source = c.source
GROUP BY c.source
"""


def _cms_by_type_builder(dialect: str) -> str:
    """Grouped Count-Min over the event stream: one d×w counter table
    per event_type (functions/sketches.py:cms_heavy_hitters_by_group_sql
    — hashes computed once over distinct user ids and joined back, so
    the group dimension adds no hash work), exact per-group top-5 probed
    and audited.  At 100 TB: per-tenant / per-surface frequency sketches
    from ONE pass, mergeable by SUM within each group."""
    from .functions import sketches as SK

    return SK.cms_heavy_hitters_by_group_sql(
        "events", "event_type", "user_id", w=1024, d=4, topk=5, dialect=dialect
    )


def cms_rolling_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 2-week heavy hitters from per-week CMS counter tables
    summed per window (functions/sketches.py:cms_rolling_heavy_hitters —
    the DataFrame form: key hashes, weekly sketches, and per-window top
    keys checkpointed once; the dual-dialect SQL form is the oracle).
    Completes the rolling-sketch triad: HLL rolls distinct counts,
    theta rolls overlap/churn, CMS rolls frequency — all from
    per-period sketch tables, never window rescans."""
    from .functions import sketches as SK

    ev = Tables(spark, sf_dir).events
    return SK.cms_rolling_heavy_hitters(
        ev, "ts", "user_id", w=1024, d=4, topk=5, window_weeks=2
    )


def _cms_rolling_builder(dialect: str) -> str:
    """Rolling 2-week heavy hitters from per-week CMS counter tables
    alone (functions/sketches.py:cms_rolling_heavy_hitters_sql): the
    window sketch is the SUM of its weeks' tables — exact merge for
    CMS — with each window's exact top-5 probed and audited.  The
    rolling arm of the sketch triad: HLL rolls distinct counts
    (`hll_rolling_7day`), theta rolls overlap (`theta_rolling_churn`),
    CMS rolls frequency."""
    from .functions import sketches as SK

    return SK.cms_rolling_heavy_hitters_sql(
        "events", "ts", "user_id", w=1024, d=4, topk=5, window_weeks=2,
        dialect=dialect,
    )


def _cms_heavy_hitters_builder(dialect: str) -> str:
    """Count-Min heavy hitters over the events user-activity stream:
    d=4 × w=1024 counter table (functions/sketches.py — built map-side,
    the sketch exchange carries ≤ d·w rows per partition; mergeable by
    SUM), probed with the exact top-20 users.  CMS never underestimates
    and the e·N/w overestimate bound is pinned in test_round5; every
    hash is deterministic, so the driver value-hash covers the measured
    overestimates themselves."""
    from .functions import sketches as SK

    return SK.cms_heavy_hitters_sql(
        "events", "user_id", w=1024, d=4, topk=20, dialect=dialect
    )
