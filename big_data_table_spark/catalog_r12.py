"""Round-12 catalog builders — the retrain/retention depth items from
the r11 VERDICT: the RE-QUANTIZE verb for the persisted ANN stores
(IVF retrain over survivors, PQ re-encode over survivors — the
semantic index's retrain discipline, similarity.py:
semantic_index_requantize, applied to the FAISS-shaped family) and
CHUNK-dimension retention for the day-partitioned grouped stores
(drop batches inside retained days — the missing axis of the
retention matrix next to ``rollup_expire``'s whole-day drops).
QuerySpec registrations live HERE (``r12_specs``, merged by
catalog.py — the chunk convention); ``DRIVER_HEAD`` stays in
catalog.py.

Reference parity note: the reference (jangorecki/big.data.table,
R/big.data.table.R:1-648) has no persisted index stores — this is
declared extension surface for the 100 TB training-data pipeline;
every entry is oracle-paired so the extensions meet the same
correctness bar as the forwarded reference surface."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog_base import register_views
from .sources.readers import Tables


# ------------------------------------------------------------------ #
# ANN IVF store: full lifecycle ending in RE-QUANTIZE (r11 VERDICT #3)
# ------------------------------------------------------------------ #

_IVF_RQ_DELETE_PRED = "vec_id % 5 = 3"  # the tombstoned stride
_IVF_RQ_SURVIVOR_SQL = " WHERE vec_id % 5 <> 3"  # oracle's v0 filter


def ann_ivf_requantize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-QUANTIZE over the persisted IVF ANN store
    (functions/clustering.py:ivf_requantize — r11 VERDICT #3, the
    semantic index's retrain verb applied to the FAISS-shaped family):
    build the index on two thirds of the embeddings (trained k-means,
    the ``ann_ivf_persisted_topk`` recipe), APPEND the last third under
    the FROZEN centroids (``ivf_append`` — broadcast assignment, no
    Lloyd), tombstone-DELETE the ``vec_id % 5 = 3`` stride — issued
    TWICE, the replay is absorbed (SET class) — then RE-QUANTIZE:
    retrain the coarse quantizer over the surviving store rows and
    re-assign them in one pass (the purge rides along; the tombstone
    table is cleared).  The search answers from the re-frozen store
    alone.

    The oracle is ``_ann_ivf_trained_oracle`` — the SAME unrolled-Lloyd
    text the in-query trained entry uses — over the SURVIVING vector
    set, so parity proves requantize == rebuild-over-survivors END TO
    END across engines: same deterministic init (smallest surviving
    ids under k), same decimal-exact means, same probe/rank.  At
    100 TB: appends stay frozen-geometry cheap between re-freezes, the
    retrain is one corpus pass OFF the query path, and the re-frozen
    inverted file keeps the cid partitioning probes prune on."""
    import os
    import shutil
    import tempfile

    from .functions.clustering import (
        ann_ivf_persisted_search,
        ivf_append,
        ivf_build,
        ivf_delete,
        ivf_requantize,
    )

    register_views(spark, sf_dir)
    e = Tables(spark, sf_dir).embeddings
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_ivf_rq_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    ivf_build(vecs.filter("vec_id % 3 != 2"), path, k=8, n_iter=2)
    ivf_append(spark, path, vecs.filter("vec_id % 3 = 2"))
    doomed = vecs.filter(_IVF_RQ_DELETE_PRED).select("vec_id")
    ivf_delete(doomed, path)
    ivf_delete(doomed, path)  # replayed delete — absorbed
    ivf_requantize(spark, path, k=8, n_iter=2)
    q = vecs.filter(f"vec_id < 5 AND NOT ({_IVF_RQ_DELETE_PRED})").select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    return ann_ivf_persisted_search(spark, path, q, n_probe=2, topk=5)


def ann_ivf_requantize_oracle() -> str:
    from .catalog_breadth import _ann_ivf_trained_oracle

    return _ann_ivf_trained_oracle(
        n_centroids=8, n_iter=2, n_probe=2, n_queries=5, k=5,
        where=_IVF_RQ_SURVIVOR_SQL,
    )


def ann_ivf_expire_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention over the persisted IVF ANN store
    (functions/clustering.py:ivf_expire — the metadata-only O(1) verb
    the LSH / setjoin / BM25 / semantic families already have, applied
    to the ANN arm): build on two thirds of the embeddings, APPEND the
    last third frozen-geometry, EXPIRE the oldest quartile of vec_ids
    (monotone marker — issued twice plus once with a lower cutoff, all
    no-ops after the first), then search.  The store read filters
    ``vec_id >= cutoff`` as a pushed-down range predicate; the frozen
    coarse quantizer is untouched (cell geometry is id-free).  The
    oracle keeps the full training (the centroids were trained before
    the expiry) and filters only the SERVED candidate side
    (``serve_where``) — parity proves read-time retention equals
    serving the rebuild-minus-expired WITHOUT retraining, exactly the
    production semantics of a cutoff that arrives between re-quantizes.
    Physical reclaim rides the next ``ivf_requantize`` (pinned in
    tests/test_round12.py)."""
    import os
    import shutil
    import tempfile

    from .functions.clustering import (
        ann_ivf_persisted_search,
        ivf_append,
        ivf_build,
        ivf_expire,
    )

    register_views(spark, sf_dir)
    e = Tables(spark, sf_dir).embeddings
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_ivf_exp_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    ivf_build(vecs.filter("vec_id % 3 != 2"), path, k=8, n_iter=2)
    ivf_append(spark, path, vecs.filter("vec_id % 3 = 2"))
    cut = spark.sql(
        "SELECT CAST(FLOOR((MAX(vec_id) + 1) / 4.0) AS BIGINT) AS cut "
        "FROM embeddings"
    ).collect()[0]["cut"]
    for _ in range(2):  # second call = the idempotence demo
        ivf_expire(path, cut)
    ivf_expire(path, cut // 2)  # lower cutoff: monotone no-op
    q = vecs.filter("vec_id < 5").select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    return ann_ivf_persisted_search(spark, path, q, n_probe=2, topk=5)


def ann_ivf_expire_retention_oracle() -> str:
    from .catalog_breadth import _ann_ivf_trained_oracle

    cut = (
        "(SELECT CAST(FLOOR((MAX(vec_id) + 1) / 4.0) AS BIGINT) "
        "FROM embeddings)"
    )
    return _ann_ivf_trained_oracle(
        n_centroids=8, n_iter=2, n_probe=2, n_queries=5, k=5,
        train_where="vec_id % 3 <> 2",  # the build subset; the append
        # lands frozen-geometry, so training never saw it
        serve_where=f"a.vec_id >= {cut}",
    )


# ------------------------------------------------------------------ #
# ANN PQ store: re-encode re-quantize (the lossy-store arm)
# ------------------------------------------------------------------ #

_PQ_RQ_DELETE_PRED = "vec_id % 7 = 3"
_PQ_RQ_SURVIVOR_SQL = " WHERE vec_id % 7 <> 3"


def ann_pq_requantize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-QUANTIZE over the persisted PQ store
    (functions/clustering.py:pq_requantize): build the codebook+codes
    store on a STALE subset (``vec_id % 4 != 3``), then retrain and
    re-encode over the CURRENT surviving corpus (``vec_id % 7 != 3`` —
    upstream deletion plus the previously-missing vectors) in one
    pass, and answer ADC top-k from the re-frozen store alone.
    Unlike IVF the PQ store is LOSSY (codes cannot reconstruct their
    subvectors), so the retrain takes the source subvector relation
    explicitly — exactly how a production PQ retrain re-reads the
    corpus to re-encode it.  Oracle = ``_ann_pq_trained_oracle`` over
    the surviving set (the same per-subspace unrolled-Lloyd text as
    the in-query trained entry), so parity proves the retrained store
    serves bit-identically to a fresh build over the survivors —
    rebuild-equivalence cross-engine, with the stale initial build
    demonstrably leaving no residue."""
    import os
    import shutil
    import tempfile

    from .functions.clustering import ann_pq_persisted_search, pq_build, pq_requantize

    dim, n_subs, n_codes = 64, 8, 16
    sub_len = dim // n_subs
    register_views(spark, sf_dir)
    e = Tables(spark, sf_dir).embeddings
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("fe"))

    def to_subs(v):
        return v.select(
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(n_subs - 1))).alias("s"),
            "fe",
        ).select(
            "vec_id",
            "s",
            F.expr(f"slice(fe, 1 + s * {sub_len}, {sub_len})").alias("e"),
        )

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_pq_rq_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    pq_build(to_subs(vecs.filter("vec_id % 4 != 3")), path, k=n_codes, n_iter=2)
    survivors = to_subs(vecs.filter(f"NOT ({_PQ_RQ_DELETE_PRED})"))
    pq_requantize(spark, path, survivors, k=n_codes, n_iter=2)
    q_lo, q_hi = n_codes, n_codes + 5
    qsubs = survivors.filter(
        (F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi)
    ).select(F.col("vec_id").alias("qid"), "s", F.col("e").alias("qe"))
    return ann_pq_persisted_search(spark, path, qsubs, topk=5)


def ann_pq_requantize_oracle() -> str:
    from .catalog_breadth import _ann_pq_trained_oracle

    return _ann_pq_trained_oracle(
        n_subs=8, sub_len=8, n_codes=16, n_iter=2, n_queries=5, k=5,
        where=_PQ_RQ_SURVIVOR_SQL,
    )


# ------------------------------------------------------------------ #
# IVF-PQ store: composed re-quantize (the residual production store)
# ------------------------------------------------------------------ #

_IVFPQ_RQ_DELETE_PRED = "vec_id % 6 = 2"
_IVFPQ_RQ_SURVIVOR_SQL = " WHERE vec_id % 6 <> 2"


def ann_ivfpq_requantize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-QUANTIZE over the persisted residual IVF-PQ store
    (functions/clustering.py:ivfpq_requantize — the composed production
    store, completing the retrain trio next to ``ann_ivf_requantize``
    and ``ann_pq_requantize``): build the three-part store (coarse
    cells + residual codebooks + codes) on a STALE subset
    (``vec_id % 4 != 1``), then retrain cells AND codebooks and
    re-encode over the CURRENT surviving corpus (``vec_id % 6 != 2``)
    in one pass — all three sub-stores staged in one dot-tmp root and
    swapped as a single rename pair, so a racing search can never pair
    a new codebook with old codes.  ADC top-k answers from the
    re-frozen store alone.  Oracle = ``_ann_ivfpq_residual_oracle``
    over the surviving set (the same unrolled coarse-Lloyd +
    per-subspace residual-Lloyd text as the in-query entry), so parity
    proves requantize == fresh build over survivors END TO END, with
    the stale initial build demonstrably leaving no residue."""
    import os
    import shutil
    import tempfile

    from .functions.clustering import ann_ivfpq_persisted_search, ivfpq_build, ivfpq_requantize

    dim, n_cent, n_subs, n_codes, n_iter, n_probe = 64, 4, 8, 16, 2, 2
    sub_len = dim // n_subs
    register_views(spark, sf_dir)
    e = Tables(spark, sf_dir).embeddings
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_ivfpq_rq_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    ivfpq_build(
        vecs.filter("vec_id % 4 != 1"), path, n_cent, n_subs, sub_len, n_codes, n_iter
    )
    survivors = vecs.filter(f"NOT ({_IVFPQ_RQ_DELETE_PRED})")
    ivfpq_requantize(
        spark, path, survivors, n_cent, n_subs, sub_len, n_codes, n_iter
    )
    q_lo = max(n_cent, n_codes)
    q_hi = q_lo + 5
    q = survivors.filter(
        (F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi)
    ).select(F.col("vec_id").alias("qid"), F.col("e").alias("qe0"))
    return ann_ivfpq_persisted_search(spark, path, q, n_subs, sub_len, n_probe, topk=5)


def ann_ivfpq_requantize_oracle() -> str:
    from .catalog_breadth import _ann_ivfpq_residual_oracle

    return _ann_ivfpq_residual_oracle(
        n_cent=4, n_probe=2, n_subs=8, sub_len=8, n_codes=16, n_iter=2,
        n_queries=5, k=5, where=_IVFPQ_RQ_SURVIVOR_SQL,
    )


# ------------------------------------------------------------------ #
# Chunk-dimension retention for the grouped day stores (VERDICT #5)
# ------------------------------------------------------------------ #

_MG_CR_RANGE = ("2024-01-08", "2024-01-21")
_MG_CR_CAP = 16


def mg_chunk_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-dimension retention over the grouped SpaceSaving day store
    (functions/mg_store.py:chunk_expire — r11 VERDICT #5, completing
    the retention matrix: ``rollup_expire`` drops whole days, this
    drops batches INSIDE retained days): three data-borne batches
    (``user_id % 3``) land as per-day chunk partitions, then batch 0 is
    forgotten — ``chunk_expire(before_chunk=1)``, issued TWICE plus
    once with a LOWER cutoff (all no-ops after the first: the marker is
    monotone and the dirs are gone) — and the per-group range top-k is
    answered from the surviving chunks.  Expiry is directory removal
    plus a monotone store-root marker the shared appender guard
    enforces (a late replay of the forgotten batch raises instead of
    resurrecting it — pinned in tests/test_round12.py).  The oracle
    re-derives the chunked grouped bound algebra from raw events WITH
    BATCH 0 EXCLUDED at the source — parity proves the post-expiry
    read equals the rebuild over the retained batches (the bound
    algebra never assumed a dense chunk sequence).  At 100 TB: no
    scan, no rewrite — O(days) directory ops, like a partition-level
    TimescaleDB drop_chunks along the batch axis."""
    import os
    import shutil
    import tempfile

    from .functions import mg_store as MG
    from .sources.readers import load_events

    register_views(spark, sf_dir)
    lo, hi = _MG_CR_RANGE
    ev = load_events(spark, sf_dir).filter(
        F.to_date("ts").cast("string").between(lo, hi)
    )
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_mg_cr_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    for b in range(3):
        MG.mg_rollup_grouped_append_batch(
            ev.filter(F.col("user_id").cast("long") % 3 == b),
            path,
            batch_id=b,
            cap=_MG_CR_CAP,
        )
    MG.chunk_expire(path, before_chunk=1)
    MG.chunk_expire(path, before_chunk=1)  # replay — no-op
    MG.chunk_expire(path, before_chunk=0)  # lower cutoff — marker monotone
    return MG.mg_rollup_grouped_chunked_range_topk(spark, path, lo, hi, topk=5)


def mg_chunk_retention_oracle() -> str:
    from .functions import mg_store as MG
    from .functions.portable import DUCK

    lo, hi = _MG_CR_RANGE
    return MG.mg_rollup_grouped_chunked_range_sql(
        "(SELECT * FROM events WHERE CAST(user_id AS BIGINT) % 3 >= 1)",
        "event_type",
        "user_id",
        lo,
        hi,
        DUCK,
        cap=_MG_CR_CAP,
        topk=5,
        chunk_sql="CAST(user_id AS BIGINT) % 3",
    )


def stream_ivf_index_store_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.events import stream_ivf_index_store

    register_views(spark, sf_dir)
    return stream_ivf_index_store(spark, sf_dir)


def stream_ivf_index_store_oracle() -> str:
    from .catalog_breadth import _ann_ivf_trained_oracle

    return _ann_ivf_trained_oracle(
        n_centroids=8, n_iter=2, n_probe=2, n_queries=5, k=5,
        train_where="vec_id % 3 = 0",
    )


_CMS_CR_RANGE = ("2024-01-10", "2024-01-12")


def cms_chunk_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-dimension retention on the ADDITIVE merge class
    (functions/sketches.py CMS store — the semantically distinct arm
    next to ``mg_chunk_retention``'s SET class): three data-borne
    batches per day land as (day, chunk) counter partitions via the
    idempotent dynamic-partition-overwrite append, batch 0 is
    forgotten (``chunk_expire(before_chunk=1)``, replayed + a lower
    cutoff — both no-ops), and the range top-k estimate is answered
    from the surviving counters.  Counter addition is exact, so the
    SUM-merged post-expiry sketch is bit-for-bit the sketch a one-shot
    pass over the RETAINED events would build — the oracle
    (``cms_heavy_hitters_sql`` with the expired batch excluded at the
    source) proves the whole estimate chain re-derives, not merely
    membership.  A late replay of the forgotten batch raises at the
    shared appender guard instead of resurrecting counts — in the
    additive class that guard has teeth: the replayed counters would
    silently DOUBLE every retained estimate (pinned in
    test_round12.py).  At 100 TB: directory removal + a marker, no
    counter rewrite."""
    import os
    import shutil
    import tempfile

    from .functions import mg_store as MG
    from .functions import sketches as SK
    from .sources.readers import load_events

    register_views(spark, sf_dir)
    lo, hi = _CMS_CR_RANGE
    day_col = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    ev = load_events(spark, sf_dir).filter(day_col.between(lo, hi))
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_cms_cr_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    days = [r[0] for r in ev.select(day_col.alias("d")).distinct().collect()]
    for d in sorted(days):
        ev_day = ev.filter(day_col == d)
        for b in range(3):
            SK.cms_rollup_append_chunk(
                ev_day.filter(F.col("user_id").cast("long") % 3 == b),
                path,
                d,
                b,
            )
    MG.chunk_expire(path, before_chunk=1)
    MG.chunk_expire(path, before_chunk=1)  # replay — no-op
    MG.chunk_expire(path, before_chunk=0)  # lower cutoff — marker monotone
    retained = ev.filter(F.col("user_id").cast("long") % 3 >= 1)
    top = (
        retained.groupBy(F.col("user_id").cast("long").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), "v")
        .limit(20)
        .localCheckpoint(eager=True)  # feeds both the probe and the audit
    )
    est = SK.cms_rollup_range_estimates(spark, path, lo, hi, top.select("v"))
    return top.join(est, "v").select(
        F.col("v").alias("key"),
        "true_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("true_cnt")).cast("long").alias("overestimate"),
    )


def cms_chunk_retention_oracle() -> str:
    from .functions import sketches as SK
    from .functions.portable import DUCK

    lo, hi = _CMS_CR_RANGE
    src = (
        f"(SELECT * FROM events "
        f"WHERE CAST(ts AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}' "
        f"AND CAST(user_id AS BIGINT) % 3 >= 1)"
    )
    return SK.cms_heavy_hitters_sql(src, "user_id", topk=20, dialect=DUCK)


def r12_specs():
    """Round-12 QuerySpec registrations, merged into the catalog by
    catalog.py (the chunk convention)."""
    from .catalog_base import QuerySpec

    return {
        "ann_ivf_requantize": QuerySpec(
            ann_ivf_requantize_q,
            ann_ivf_requantize_oracle(),
            doc="Re-quantize the persisted IVF ANN store: frozen-"
            "geometry appends + tombstone deletes, then one-pass "
            "retrain+reassign over the survivors; search == the "
            "in-query trained formulation over the surviving set "
            "(shared unrolled-Lloyd oracle).",
        ),
        "ann_pq_requantize": QuerySpec(
            ann_pq_requantize_q,
            ann_pq_requantize_oracle(),
            doc="Re-quantize the persisted PQ store (lossy — the "
            "retrain re-encodes from the source subvectors): stale "
            "build leaves no residue; ADC top-k == fresh build over "
            "the survivors (shared per-subspace Lloyd oracle).",
        ),
        "ann_ivf_expire_retention": QuerySpec(
            ann_ivf_expire_retention_q,
            ann_ivf_expire_retention_oracle(),
            doc="Retention cutoff over the persisted IVF ANN store: "
            "metadata-only monotone marker, read-time pushed-down "
            "range filter under the frozen quantizer; search == the "
            "full-trained formulation served over the retained set "
            "(serve_where oracle arm); physical reclaim rides the "
            "next re-quantize.",
        ),
        "ann_ivfpq_requantize": QuerySpec(
            ann_ivfpq_requantize_q,
            ann_ivfpq_requantize_oracle(),
            doc="Re-quantize the composed residual IVF-PQ store "
            "(cells + codebooks + codes retrained and re-encoded in "
            "one pass, swapped as one root): stale build leaves no "
            "residue; ADC top-k == fresh build over the survivors "
            "(shared residual-Lloyd oracle).",
        ),
        "mg_chunk_retention": QuerySpec(
            mg_chunk_retention_q,
            mg_chunk_retention_oracle(),
            doc="Chunk-dimension retention inside retained days of the "
            "grouped SpaceSaving store: directory-removal expiry + "
            "monotone marker the appender guard enforces; range "
            "top-k == rebuild over the retained batches.",
        ),
        "cms_chunk_retention": QuerySpec(
            cms_chunk_retention_q,
            cms_chunk_retention_oracle(),
            doc="Chunk-dimension retention on the ADDITIVE class (CMS "
            "counter store): post-expiry SUM-merged sketch is bit-"
            "identical to a one-shot pass over the retained events; "
            "the appender guard prevents the double-count a replayed "
            "forgotten batch would cause.",
        ),
        "stream_ivf_index_store": QuerySpec(
            stream_ivf_index_store_q,
            stream_ivf_index_store_oracle(),
            doc="Streaming writer for the IVF ANN store (the ANN arm "
            "of the crawl matrix): batch 0 bootstraps the trained "
            "quantizer, later batches append frozen-geometry (one "
            "deliberately replayed — the probe-side dedupe absorbs "
            "it); search == the one-shot train-on-batch-0 "
            "reconstruction (shared unrolled-Lloyd oracle, "
            "train_where arm).",
        ),
    }
