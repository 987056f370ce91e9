"""Round-11 catalog builders — the last structural depth items from
the r10 VERDICT, which together complete the store lifecycle matrix:
right-to-be-forgotten over the LSH index (ownership-row layout) and
the BM25 index (the fifth and sixth doc-id-bearing families — every
such family now has tombstone deletion), the semantic index's
re-quantize compact in BOTH arms (deterministic size-derived rule and
oracle-paired distributed Lloyd; recall-parity and
rebuild-equivalence, not bit-equality — the result SHAPE changes when
centroids re-freeze), and metadata-only expire/retention verbs for
ALL FOUR index families (setjoin / BM25 / LSH / semantic).  QuerySpec
registrations live HERE (``r11_specs``, merged by catalog.py — the
chunk convention); ``DRIVER_HEAD`` stays in catalog.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog_base import register_views
from .functions.portable import DUCK
from .sources.readers import read_parquet


# ------------------------------------------------------------------ #
# LSH-index tombstone deletion — the last right-to-be-forgotten hole
# ------------------------------------------------------------------ #

def lsh_delete_compliance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten over the persisted MinHash-LSH dedup index
    (functions/dedup.py:lsh_index_delete) — the FIFTH
    doc-id-bearing store family to gain tombstone deletion, closing the
    r10 VERDICT's last structural hole (BM25, born r10, joined as the
    sixth later this round — see ``bm25_delete_compliance``).  The r10 layout stored bare
    keys (digests + bucket keys, no doc ids), which made deletion
    impossible: a key shared by a deleted and a surviving doc must
    outlive the delete.  r11 redesigns the layout to OWNERSHIP rows
    ((h, doc_id) / (band, sig, doc_id)) — probe output over the plain
    store is bit-identical (keys are DISTINCT-projected) and the store
    grows only where docs share keys, exactly the duplicate mass the
    index exists to find.

    The cycle: build on the corpus (doc_id % 4 <> 3), DELETE every
    corpus doc with doc_id % 5 = 1 — issued TWICE, the second call is
    the idempotence demo (tombstones are a SET the scrubbed read
    DISTINCTs) — then adjudicate the batch (doc_id % 4 = 3 plus the
    standard simulated recrawls) against the scrubbed store.  The
    scrub anti-joins tombstoned owners out of BOTH store relations
    BEFORE the key projection, so a key survives iff some surviving
    doc owns it — definitionally the rebuild-over-survivors answer;
    parity with ``incremental_dedup_sql(corpus_pred=...)`` (the
    self-contained formulation with the corpus filtered to survivors)
    proves it.  Deleted recrawl SOURCES flip their recrawl's decision
    from exact_vs_corpus toward keep/neardup — the oracle covers both
    regimes.  At 100 TB: deletion is a side-table append — no store
    partition rewrites — and the physical purge end-state is a separate
    maintenance verb (``lsh_index_purge``; scrubbed-before ==
    scrubbed-after == plain-after pinned in tests/test_round11.py)."""
    import os
    import shutil
    import tempfile

    from .functions import dedup as DD

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _ldc_corpus AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _ldc_batch AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3 "
        "UNION ALL SELECT doc_id + 1000000, text FROM documents "
        "WHERE doc_id % 7 = 0"
    )
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_lsh_del_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    DD.lsh_index_build(spark, path, "_ldc_corpus")
    doomed = spark.sql(
        "SELECT doc_id FROM documents WHERE doc_id % 4 <> 3 AND doc_id % 5 = 1"
    )
    for _ in range(2):  # second delete = the idempotence demo
        DD.lsh_index_delete(doomed, path)
    return DD.lsh_index_probe(spark, path, "_ldc_batch")


def lsh_delete_compliance_oracle() -> str:
    """The self-contained incremental-dedup formulation with the CORPUS
    side restricted to deletion survivors — equal to store-backed
    scrubbed adjudication because a store key survives the scrub iff
    some surviving doc owns it.  ONE copy of the adjudication text +
    the survivor predicate."""
    from .functions import dedup as DD

    return DD.incremental_dedup_sql(DUCK, corpus_pred="doc_id % 5 <> 1")


# ------------------------------------------------------------------ #
# semantic-index re-quantize compact — the IVF retrain verb
# ------------------------------------------------------------------ #

def semantic_requantize_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-QUANTIZE compact over the persisted semantic index
    (functions/similarity.py:semantic_index_requantize — r10 VERDICT
    #3): build on two thirds of the embeddings (frozen fixture-scale
    8-centroid quantizer), append the last third under the frozen
    geometry, then RE-FREEZE — re-derive the centroid count from the
    store size (``sem_n_centroids_for``: smallest power of two k with
    k² >= n, the copy-the-rule-not-the-constant treatment of
    ``bucket_count_for``) and re-assign every row in one corpus pass,
    exactly how production IVF periodically retrains.  The result
    SHAPE changes (cells move), so the correctness statement is NOT
    bit-equality with the old store; it is (a) requantize == rebuild-
    over-survivors under the same quantizer rule — both deterministic
    functions of the vector set, pinned in tests/test_round11.py —
    and (b) this entry's RECALL REPORT: same-cell pairs found under
    the new geometry vs the brute cosine-threshold truth, with the
    oracle re-deriving k through the identical integer-pure SQL rule
    (``sem_k_rule_sql`` — no float log/sqrt at power boundaries).  At
    100 TB: appends stay geometry-frozen cheap between re-freezes; the
    re-freeze is the one corpus-pass maintenance verb and amortizes
    over every probe until the next one."""
    import os
    import shutil
    import tempfile

    from .functions import similarity as S
    from .functions.portable import SPARK as SPK
    from .functions.similarity import (
        _SEM_THRESHOLD,
        _dot_sql,
        _vecs_cte,
        semantic_pairs_sql,
    )
    from .session import register_temp_view

    register_views(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_sem_requant_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _srq_a AS "
        "SELECT * FROM embeddings WHERE vec_id % 3 != 2"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _srq_b AS "
        "SELECT * FROM embeddings WHERE vec_id % 3 = 2"
    )
    S.semantic_index_build(spark, path, "_srq_a")
    S.semantic_index_append(spark, path, "_srq_b")
    k = S.semantic_index_requantize(spark, path)
    # v feeds the brute join twice + the count — checkpoint once (Spark
    # re-inlines multi-referenced CTEs; each inline would repeat the
    # normalize-and-repartition scan)
    v = spark.sql(
        f"WITH {_vecs_cte(SPK)} SELECT vec_id, e, nrm FROM v"
    ).localCheckpoint(eager=True)
    vv = register_temp_view(v, "_srq_v")
    rows = read_parquet(spark, os.path.join(path, "rows")).distinct()
    vrows = register_temp_view(rows, "_srq_rows")
    cos = f"({_dot_sql('a.e', 'b.e', SPK)} / (a.nrm * b.nrm))"
    return spark.sql(
        f"""
WITH pairs AS ({semantic_pairs_sql(SPK, vrows)}),
brute AS (
  SELECT a.vec_id FROM {vv} a JOIN {vv} b ON a.vec_id < b.vec_id
  WHERE ROUND({cos}, 6) >= {_SEM_THRESHOLD})
SELECT CAST((SELECT COUNT(*) FROM {vv}) AS BIGINT) AS n_vecs,
  CAST({k} AS BIGINT) AS k,
  CAST((SELECT COUNT(DISTINCT cid) FROM {vrows}) AS BIGINT) AS n_cells_used,
  CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS pairs_found,
  CAST((SELECT COUNT(*) FROM brute) AS BIGINT) AS pairs_brute,
  ROUND(CAST((SELECT COUNT(*) FROM pairs) AS DOUBLE)
    / NULLIF((SELECT COUNT(*) FROM brute), 0), 6) AS recall
"""
    )


def semantic_requantize_recall_oracle() -> str:
    """One-statement reconstruction: k re-derived through the SAME
    integer-pure rule (``sem_k_rule_sql``), centroids = the k smallest
    vec_ids (rank form — LIMIT takes no subquery portably), assignment
    and pair stages the shared dialect texts, brute truth all-pairs."""
    from .functions.similarity import (
        _SEM_THRESHOLD,
        _dot_sql,
        _vecs_cte,
        sem_k_rule_sql,
        semantic_assign_under_sql,
        semantic_pairs_sql,
    )

    k_scalar = sem_k_rule_sql("SELECT COUNT(*) FROM v")
    cos = f"({_dot_sql('a.e', 'b.e', DUCK)} / (a.nrm * b.nrm))"
    return f"""
WITH {_vecs_cte(DUCK)},
kk AS MATERIALIZED (SELECT {k_scalar} AS k),
cent AS MATERIALIZED (
  SELECT vec_id AS cid, e, nrm FROM (
    SELECT vec_id, e, nrm, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM v) _r
  WHERE rn <= (SELECT k FROM kk)),
assign AS MATERIALIZED ({semantic_assign_under_sql(DUCK, "v", "cent")}),
pairs AS MATERIALIZED ({semantic_pairs_sql(DUCK, "assign")}),
brute AS MATERIALIZED (
  SELECT a.vec_id FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE ROUND({cos}, 6) >= {_SEM_THRESHOLD})
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_vecs,
  CAST((SELECT k FROM kk) AS BIGINT) AS k,
  CAST((SELECT COUNT(DISTINCT cid) FROM assign) AS BIGINT) AS n_cells_used,
  CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS pairs_found,
  CAST((SELECT COUNT(*) FROM brute) AS BIGINT) AS pairs_brute,
  ROUND(CAST((SELECT COUNT(*) FROM pairs) AS DOUBLE)
    / NULLIF((SELECT COUNT(*) FROM brute), 0), 6) AS recall
"""


def semantic_requantize_trained_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED arm of the re-quantize compact, oracle-paired —
    distributed Lloyd (``clustering.kmeans_fit``) as the quantizer
    source instead of the deterministic smallest-ids convention: build
    on two thirds of the embeddings, append the last third under the
    frozen geometry, RE-FREEZE with ``trained=True`` (k=8, 2 Lloyd
    iterations — the ``ann_ivf_trained`` training recipe: euclidean
    rounded-distance argmin, decimal-exact elementwise means, so both
    engines walk the identical IEEE sequence), then emit every
    same-cell cosine pair under the retrained cells.  The oracle
    unrolls the same two Lloyd iterations as CTEs
    (catalog_breadth._kmeans_ctes — ONE copy of the training
    formulation, shared with the ANN entries), derives centroid norms,
    and re-assigns the corpus under the shared cosine-ranking text —
    parity proves the trained retrain is a deterministic function of
    the vector set END TO END, upgrading test_round11's
    determinism-only pin to full cross-engine evidence.  At 100 TB:
    training runs on the store's own vectors OFF the probe path, and
    the retrain amortizes exactly like the deterministic arm."""
    import os
    import shutil
    import tempfile

    from .functions import similarity as S
    from .functions.similarity import semantic_pairs_sql
    from .functions.portable import SPARK as SPK
    from .session import register_temp_view

    register_views(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_sem_rqt_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _srt_a AS "
        "SELECT * FROM embeddings WHERE vec_id % 3 != 2"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _srt_b AS "
        "SELECT * FROM embeddings WHERE vec_id % 3 = 2"
    )
    S.semantic_index_build(spark, path, "_srt_a")
    S.semantic_index_append(spark, path, "_srt_b")
    S.semantic_index_requantize(spark, path, n_centroids=8, trained=True)
    rows = read_parquet(spark, os.path.join(path, "rows")).distinct()
    vrows = register_temp_view(rows, "_srt_rows")
    return spark.sql(
        f"WITH pairs AS ({semantic_pairs_sql(SPK, vrows)}) "
        "SELECT cid, id_a, id_b, cos_sim FROM pairs"
    )


def semantic_requantize_trained_oracle() -> str:
    """Unrolled 2-iteration Lloyd (the shared _kmeans_ctes text) →
    centroid norms → the shared cosine-ranking assignment → same-cell
    pairs.  The zero-norm centroid filter mirrors the verb's guard."""
    from .catalog_breadth import _kmeans_ctes
    from .functions.similarity import (
        _dot_sql,
        semantic_assign_under_sql,
        semantic_pairs_sql,
    )

    ctes, cents, _ = _kmeans_ctes(k=8, n_iter=2)
    nrm = f"sqrt({_dot_sql('c', 'c', DUCK)})"
    return (
        "WITH " + ", ".join(ctes) + ", "
        "vv AS (SELECT vec_id, e, "
        f"  sqrt({_dot_sql('e', 'e', DUCK)}) AS nrm FROM v0), "
        f"centx AS (SELECT cid, c AS e, {nrm} AS nrm FROM {cents} "
        f"  WHERE {nrm} > 0), "
        f"assign AS MATERIALIZED ({semantic_assign_under_sql(DUCK, 'vv', 'centx')}), "
        f"pairs AS ({semantic_pairs_sql(DUCK, 'assign')}) "
        "SELECT cid, id_a, id_b, cos_sim FROM pairs"
    )


# ------------------------------------------------------------------ #
# expire/retention for the two newest text indexes (r10 VERDICT #4)
# ------------------------------------------------------------------ #

# one cutoff rule for both entries and both dialects: drop the oldest
# quartile of doc ids (ingestion-ordered ids make the id cutoff the
# time cutoff); FLOOR keeps the arithmetic engine-identical
_RETENTION_CUTOFF_SQL = (
    "SELECT CAST(FLOOR((MAX(doc_id) + 1) / 4.0) AS BIGINT) AS cut FROM documents"
)


def setjoin_expire_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention over the persisted EXACT set-similarity index
    (functions/dedup.py:setjoin_index_expire — r10 VERDICT #4): build
    on the whole corpus, EXPIRE the oldest quartile of doc ids —
    issued TWICE, plus once with a LOWER cutoff (both no-ops: the
    marker is monotone) — then answer the exact Jaccard >= 1/2 join
    from the store.  Expiry is METADATA-ONLY (a store-root marker; no
    scan, no partition rewrite — O(1) at any store size, the
    ``rollup_expire`` discipline carried to a doc-keyed store); every
    read filters ``doc_id >= cutoff`` BEFORE candidate generation, so
    parquet min/max pruning skips expired row groups for free and the
    result is definitionally the rebuild over the retained docs —
    parity with the brute oracle filtered to retained sides proves it.
    Physical reclaim rides the next compact (result-neutrality pinned
    in tests/test_round11.py)."""
    import os
    import shutil
    import tempfile

    from .functions import dedup as DD

    register_views(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_setjoin_exp_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    DD.setjoin_index_build(spark, path, "documents")
    cut = spark.sql(_RETENTION_CUTOFF_SQL).collect()[0]["cut"]
    for _ in range(2):  # second call = the idempotence demo
        DD.setjoin_index_expire(path, cut)
    DD.setjoin_index_expire(path, cut // 2)  # lower cutoff: monotone no-op
    return DD.setjoin_index_pairs(spark, path)


def setjoin_expire_retention_oracle() -> str:
    """Brute exact-pairs oracle restricted to pairs whose BOTH sides
    survive the retention cutoff — the rebuild-over-retained answer,
    cutoff re-derived by the same FLOOR arithmetic."""
    from .functions.dedup import prefix_filter_jaccard_oracle_sql

    return (
        prefix_filter_jaccard_oracle_sql(DUCK)
        + f" AND doc_a >= ({_RETENTION_CUTOFF_SQL})"
        + f" AND doc_b >= ({_RETENTION_CUTOFF_SQL})"
    )


def bm25_expire_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention over the persisted BM25 inverted index
    (functions/text.py:bm25_index_expire — r10 VERDICT #4): build =
    chunk-0 append over the even doc ids, append the odd ids as chunk
    1, EXPIRE the oldest quartile (twice + a lower cutoff — monotone
    no-ops), then answer the top-20 from the store.  The cutoff is a
    METADATA-ONLY store-root marker; the read path filters
    ``doc_id >= cutoff`` on postings AND dl, so tf, dl, and the
    derived (N, avgdl, idf) corpus statistics all shrink with the
    retained corpus — retention changes SCORES, not just membership,
    and parity with the one-shot BM25 over the retained docs proves
    the whole statistic chain re-derives correctly.  Physical reclaim
    rides the next compact (result-neutrality pinned in
    tests/test_round11.py)."""
    import os
    import shutil
    import tempfile

    from .functions import text as TX

    register_views(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_bm25_exp_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    TX.bm25_index_build(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 2 = 0) _e"
    )
    TX.bm25_index_append(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 2 = 1) _o", chunk=1
    )
    cut = spark.sql(_RETENTION_CUTOFF_SQL).collect()[0]["cut"]
    for _ in range(2):  # second call = the idempotence demo
        TX.bm25_index_expire(path, cut)
    TX.bm25_index_expire(path, cut // 2)  # lower cutoff: monotone no-op
    return TX.bm25_index_topk(spark, path)


def bm25_expire_retention_oracle() -> str:
    """One-shot BM25 over ONLY the retained docs, with the STORE's
    corpus-scalar semantics (N from the indexed dl relation) — the
    rebuild-over-retained answer the store read must equal."""
    from .functions.text import (
        bm25_corpus_sql,
        bm25_dl_sql,
        bm25_score_sql,
        bm25_tok_sql,
    )

    survivors = (
        f"(SELECT * FROM documents WHERE doc_id >= ({_RETENTION_CUTOFF_SQL})) _r"
    )
    return (
        f"WITH tok AS MATERIALIZED ({bm25_tok_sql(DUCK, src=survivors)}), "
        f"dl AS MATERIALIZED ({bm25_dl_sql('tok')}), "
        f"corpus AS MATERIALIZED ({bm25_corpus_sql('dl', n_src=None)}), "
        f"scored_q AS ({bm25_score_sql('tok', 'dl', 'corpus')}) "
        "SELECT * FROM scored_q"
    )


def lsh_expire_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention over the persisted MinHash-LSH dedup index
    (functions/dedup.py:lsh_index_expire) — the verb the r11
    ownership-row layout unlocked alongside deletion, completing the
    delete × expire lifecycle matrix across every index family: build
    on the corpus (doc_id % 4 <> 3), EXPIRE the oldest quartile
    (metadata-only monotone marker; issued twice + once lower — all
    no-ops), then adjudicate the standard batch (+ recrawls).  Store
    reads filter ``doc_id >= cutoff`` BEFORE the key projection, so a
    digest/bucket key survives iff some RETAINED doc owns it; recrawls
    of expired sources correctly fall through the exact arm to near-dup
    adjudication — parity with the self-contained formulation under the
    retention corpus predicate proves both regimes."""
    import os
    import shutil
    import tempfile

    from .functions import dedup as DD

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _lxr_corpus AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _lxr_batch AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3 "
        "UNION ALL SELECT doc_id + 1000000, text FROM documents "
        "WHERE doc_id % 7 = 0"
    )
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_lsh_exp_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    DD.lsh_index_build(spark, path, "_lxr_corpus")
    cut = spark.sql(_RETENTION_CUTOFF_SQL).collect()[0]["cut"]
    for _ in range(2):  # second call = the idempotence demo
        DD.lsh_index_expire(path, cut)
    DD.lsh_index_expire(path, cut // 2)  # lower cutoff: monotone no-op
    return DD.lsh_index_probe(spark, path, "_lxr_batch")


def lsh_expire_retention_oracle() -> str:
    """The self-contained adjudication with the CORPUS side restricted
    to retained docs — the same shared text as the delete-compliance
    oracle, retention predicate instead of tombstone predicate."""
    from .functions import dedup as DD

    return DD.incremental_dedup_sql(
        DUCK, corpus_pred=f"doc_id >= ({_RETENTION_CUTOFF_SQL})"
    )


def semantic_expire_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention over the persisted semantic index
    (functions/similarity.py:semantic_index_expire): build on the
    ``vec_id % 3 = 0`` third (freezing the quantizer), append the
    ``% 3 = 1`` third, EXPIRE the oldest quartile of vec_ids
    (metadata-only monotone marker; twice + lower — no-ops), then
    probe the ``% 3 = 2`` third.  The store read filters
    ``vec_id >= cutoff`` BEFORE the cell join; the FROZEN quantizer is
    untouched — expired CENTROID vectors still define their cells,
    exactly as a trained k-means centroid is not a corpus row (the
    oracle keeps the same frozen-centroid reconstruction and filters
    only the indexed pair side).  Physical reclaim rides the next
    re-quantize, which rewrites rows/ over survivors anyway."""
    import os
    import shutil
    import tempfile

    from .functions import similarity as S

    register_views(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_sem_exp_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    S.semantic_index_build(
        spark, path, "(SELECT * FROM embeddings WHERE vec_id % 3 = 0) _b0"
    )
    S.semantic_index_append(
        spark, path, "(SELECT * FROM embeddings WHERE vec_id % 3 = 1) _b1"
    )
    cut = spark.sql(
        "SELECT CAST(FLOOR((MAX(vec_id) + 1) / 4.0) AS BIGINT) AS cut "
        "FROM embeddings"
    ).collect()[0]["cut"]
    for _ in range(2):  # second call = the idempotence demo
        S.semantic_index_expire(path, cut)
    S.semantic_index_expire(path, cut // 2)  # lower cutoff: monotone no-op
    return S.semantic_index_probe(
        spark, path, "(SELECT * FROM embeddings WHERE vec_id % 3 = 2) _p"
    )


def semantic_expire_retention_oracle() -> str:
    """Same-cell cross pairs whose INDEXED side survives the retention
    cutoff (the probe side is the arriving batch) — ONE copy of the
    shared brute formulation + the retention predicate, the
    delete-compliance oracle's exact shape."""
    from .catalog_r10 import _semantic_brute_oracle

    cut = (
        "(SELECT CAST(FLOOR((MAX(vec_id) + 1) / 4.0) AS BIGINT) "
        "FROM embeddings)"
    )
    return _semantic_brute_oracle(
        "(a.vec_id % 3 = 2) <> (b.vec_id % 3 = 2) AND "
        f"(CASE WHEN a.vec_id % 3 = 2 THEN b.vec_id ELSE a.vec_id END) >= {cut}"
    )


def bm25_delete_compliance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten over the persisted BM25 inverted index
    (functions/text.py:bm25_index_delete) — the SIXTH and final
    doc-id-bearing store family with tombstone deletion, truly closing
    the matrix (bitmap / setjoin / SimHash / semantic / LSH / BM25):
    build = chunk-0 append over the even doc ids, append the odd ids
    as chunk 1, DELETE every doc with ``doc_id % 5 = 1`` — issued
    TWICE (idempotence demo; tombstones are a SET the scrubbed read
    DISTINCTs) — then answer the top-20 from the scrubbed store.  The
    scrub anti-joins deleted docs out of postings AND dl BEFORE the
    additive merge, so tf, dl and the derived (N, avgdl, idf) all
    shrink — deletion changes SCORES exactly as a rebuild over the
    survivors would, and parity with the one-shot BM25 over the
    survivors proves the whole statistic chain re-derives.  At 100 TB:
    deletion is a tiny side-table append — no postings partition is
    rewritten — and physical reclaim rides the next compact
    (result-neutrality pinned in tests/test_round11.py)."""
    import os
    import shutil
    import tempfile

    from .functions import text as TX

    register_views(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_bm25_del_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    TX.bm25_index_build(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 2 = 0) _e"
    )
    TX.bm25_index_append(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 2 = 1) _o", chunk=1
    )
    doomed = spark.sql("SELECT doc_id FROM documents WHERE doc_id % 5 = 1")
    for _ in range(2):  # second delete = the idempotence demo
        TX.bm25_index_delete(doomed, path)
    return TX.bm25_index_topk(spark, path)


def bm25_delete_compliance_oracle() -> str:
    """One-shot BM25 over ONLY the surviving docs, with the STORE's
    corpus-scalar semantics (N from the indexed dl relation) — the
    rebuild-over-survivors answer the scrubbed store read must equal."""
    from .functions.text import (
        bm25_corpus_sql,
        bm25_dl_sql,
        bm25_score_sql,
        bm25_tok_sql,
    )

    survivors = "(SELECT * FROM documents WHERE doc_id % 5 <> 1) _s"
    return (
        f"WITH tok AS MATERIALIZED ({bm25_tok_sql(DUCK, src=survivors)}), "
        f"dl AS MATERIALIZED ({bm25_dl_sql('tok')}), "
        f"corpus AS MATERIALIZED ({bm25_corpus_sql('dl', n_src=None)}), "
        f"scored_q AS ({bm25_score_sql('tok', 'dl', 'corpus')}) "
        "SELECT * FROM scored_q"
    )


def r11_specs():
    """Round-11 QuerySpec registrations, merged into the catalog by
    catalog.py (the chunk convention)."""
    from .catalog_base import QuerySpec

    return {
        "lsh_delete_compliance": QuerySpec(
            lsh_delete_compliance_q,
            lsh_delete_compliance_oracle(),
            doc="Tombstone deletion over the persisted MinHash-LSH "
            "dedup index (r11 ownership-row layout): deleted owners "
            "anti-joined out of both store relations before the key "
            "projection; scrubbed probe == adjudication vs the "
            "surviving corpus.",
        ),
        "semantic_requantize_recall": QuerySpec(
            semantic_requantize_recall_q,
            semantic_requantize_recall_oracle(),
            doc="Re-quantize compact over the semantic index: re-freeze "
            "a size-derived centroid count over the whole store and "
            "re-assign in one corpus pass (the IVF retrain verb); "
            "recall report vs the brute cosine truth, k re-derived by "
            "the identical integer-pure SQL rule.",
        ),
        "setjoin_expire_retention": QuerySpec(
            setjoin_expire_retention_q,
            setjoin_expire_retention_oracle(),
            doc="Metadata-only retention cutoff over the set-similarity "
            "index: reads filter doc_id >= cutoff before candidate "
            "generation; exact pairs == rebuild over retained docs.",
        ),
        "bm25_expire_retention": QuerySpec(
            bm25_expire_retention_q,
            bm25_expire_retention_oracle(),
            doc="Metadata-only retention cutoff over the BM25 index: tf, "
            "dl and the derived (N, avgdl, idf) all shrink with the "
            "retained corpus; top-k == rebuild over retained docs.",
        ),
        "lsh_expire_retention": QuerySpec(
            lsh_expire_retention_q,
            lsh_expire_retention_oracle(),
            doc="Metadata-only retention cutoff over the LSH dedup index "
            "(ownership rows): a key survives iff a retained doc owns "
            "it; adjudication == the self-contained formulation under "
            "the retention corpus predicate.",
        ),
        "semantic_expire_retention": QuerySpec(
            semantic_expire_retention_q,
            semantic_expire_retention_oracle(),
            doc="Metadata-only retention cutoff over the semantic index: "
            "store read filters vec_id >= cutoff before the cell join; "
            "frozen quantizer untouched (cell geometry is id-free).",
        ),
        "bm25_delete_compliance": QuerySpec(
            bm25_delete_compliance_q,
            bm25_delete_compliance_oracle(),
            doc="Tombstone deletion over the BM25 inverted index (the "
            "sixth and final doc-id-bearing family): deleted docs "
            "anti-joined out of postings AND dl before the additive "
            "merge, so tf/dl/(N, avgdl, idf) all re-derive; top-k == "
            "rebuild over survivors.",
        ),
        "semantic_requantize_trained": QuerySpec(
            semantic_requantize_trained_q,
            semantic_requantize_trained_oracle(),
            doc="The trained (distributed-Lloyd) arm of the semantic "
            "re-quantize compact, oracle-paired: the oracle unrolls "
            "the same 2 Lloyd iterations, derives centroid norms and "
            "re-assigns under the shared cosine-ranking text — full "
            "cross-engine evidence that the retrain is a deterministic "
            "function of the vector set.",
        ),
    }
