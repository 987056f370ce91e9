"""Round-10 catalog builders — depth entries closing real store-matrix
gaps (r9 VERDICT #7): the persisted EXACT set-similarity index's full
verb cycle (+ tombstone deletion), the grouped SpaceSaving store's
streaming edge, the SimHash/semantic/BM25 index families and their
crawl/streaming arms, SemDeDup, and two-stage hybrid retrieval.
QuerySpec registrations live HERE too (``r10_specs``, merged by
catalog.py — the chunk convention, extended to the spec dict when
catalog.py approached its own 2.5k module budget); ``DRIVER_HEAD``
stays in catalog.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog_base import register_views
from .functions.portable import DUCK, SPARK


# ------------------------------------------------------------------ #
# persisted set-similarity (prefix-filter) index — full verb cycle
# ------------------------------------------------------------------ #

def setjoin_index_persisted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted EXACT set-similarity index, full verb cycle
    (functions/dedup.py:setjoin_index_*): build on two thirds of the
    corpus (freezing the global-rarity prefix order at build time),
    append the remaining third ranked under the FROZEN order — with the
    append REPLAYED (deterministic rows; the DISTINCT reads absorb
    them) — then COMPACT (re-freeze: recompute df over the whole store
    and rebuild every prefix), and answer the exact Jaccard >= 1/2 join
    from the store alone.  Parity with the brute shared-shingle oracle
    over ALL documents proves three things at once: the frozen-order
    increment rule is lossless, replays are invisible, and compaction's
    re-freeze is result-neutral (losslessness holds under ANY single
    total order — the store's merge-law analogue).  At 100 TB: appends
    shingle only the increment, candidates join prefix rows (each doc's
    RAREST shingles — the inverse of boilerplate skew), verify joins
    candidate pairs only; the corpus text is never rescanned by the
    read path."""
    import os
    import shutil
    import tempfile

    from .functions import dedup as DD

    register_views(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_setjoin_index_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    DD.setjoin_index_build(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 3 != 2) _b"
    )
    for _ in range(2):  # second run = the replay; DISTINCT reads absorb
        DD.setjoin_index_append(
            spark, path, "(SELECT * FROM documents WHERE doc_id % 3 = 2) _a"
        )
    DD.setjoin_index_compact(spark, path)
    return DD.setjoin_index_pairs(spark, path)


def setjoin_index_persisted_oracle() -> str:
    from .functions import dedup as DD

    return DD.prefix_filter_jaccard_oracle_sql(DUCK)


def setjoin_index_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-before-append: the index is built on two thirds of the
    corpus, then the remaining third arrives as a NEW batch and is
    adjudicated against the store WITHOUT mutating it
    (functions/dedup.py:setjoin_index_probe) — exactly the crawl-loop
    step where a keep/drop decision must precede the append.  The
    batch ranks its prefixes under the store's FROZEN order, so the
    candidate rule stays lossless across the two sides; parity with
    the brute cross-pair oracle (every corpus×batch pair with exact
    J >= 1/2) proves it.  Batch work is |batch|-sized; the corpus text
    is never rescanned."""
    import os
    import shutil
    import tempfile

    from .functions import dedup as DD

    register_views(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_setjoin_probe_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    DD.setjoin_index_build(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 3 != 2) _b"
    )
    return DD.setjoin_index_probe(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 3 = 2) _a"
    )


def setjoin_index_probe_oracle() -> str:
    """Brute cross-pair oracle: exact J >= 1/2 pairs with exactly one
    side in the probe batch (doc_id % 3 = 2) — the losslessness proof
    for the frozen-order cross-side candidate rule.  ONE copy of the
    brute formulation (functions/dedup.py) + the side predicate."""
    from .functions.dedup import prefix_filter_jaccard_oracle_sql

    return (
        prefix_filter_jaccard_oracle_sql(DUCK)
        + " AND (doc_a % 3 = 2) <> (doc_b % 3 = 2)"
    )


def stream_setjoin_crawl_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.events import stream_setjoin_crawl

    register_views(spark, sf_dir)
    return stream_setjoin_crawl(spark, sf_dir)


def stream_setjoin_crawl_oracle() -> str:
    """Brute cross-BATCH oracle: every exact J >= 1/2 pair whose sides
    land in different ``doc_id % 3`` batches — exactly the union of the
    per-trigger probe results, whatever order the stream delivered.
    ONE copy of the brute formulation + the batch predicate."""
    from .functions.dedup import prefix_filter_jaccard_oracle_sql

    return prefix_filter_jaccard_oracle_sql(DUCK) + " AND doc_a % 3 <> doc_b % 3"


def bitmap_delete_compliance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten over the EXACT bitmap presence store
    (functions/bitmap_store.py tombstone verbs): build the day store,
    DELETE every user with ``user_id % 7 = 3`` — issued TWICE, the
    second call is the idempotence demo (tombstones merge by BIT_OR,
    so re-deleting absorbs) — then answer per-day DAU and the
    range-wide distinct count EXCLUDING the deleted ids from the store
    + the tiny tombstone side table alone.  The scrub is bitwise
    ``bm & ~mask`` before the popcounts, so exactness is inherited:
    scrubbed word bitmaps ARE the presence bitmaps of the survivors.
    No store partition is rewritten — deletion is a side-table append
    that applies retroactively to every opted-in range read; at 100 TB
    that is the compliance story (mask rows ≤ ceil(max_id/62),
    broadcast).  The oracle is the plain distinct count over events
    minus the deleted users — oracle simplicity is the exactness
    proof, as for the store itself."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .functions import bitmap_store as B
    from .sources.readers import Tables

    lo, hi = _MG_GRP_RANGE
    ev = Tables(spark, sf_dir).events
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_bitmap_del_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    B.bitmap_rollup_build(ev, path)
    doomed = ev.filter(F.col("user_id") % 7 == 3).select("user_id")
    for _ in range(2):  # second delete = the idempotence demo
        B.bitmap_rollup_delete(doomed, path)
    return B.bitmap_rollup_range_daily_scrubbed(spark, path, lo, hi)


def bitmap_delete_compliance_oracle() -> str:
    lo, hi = _MG_GRP_RANGE
    return f"""
WITH act AS (
  SELECT CAST(CAST(ts AS DATE) AS STRING) AS day,
    CAST(user_id AS BIGINT) AS u
  FROM events
  WHERE CAST(CAST(ts AS DATE) AS STRING) BETWEEN '{lo}' AND '{hi}'
    AND user_id % 7 <> 3)
SELECT day, CAST(COUNT(DISTINCT u) AS BIGINT) AS dau,
  (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) FROM act) AS range_distinct
FROM act GROUP BY day
"""


def simhash_index_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted SimHash signature index, completing the dedup-index
    matrix (MinHash-LSH buckets / EXACT prefix-filter / SimHash
    hamming): build on the ``doc_id % 3 = 0`` third, append the
    ``% 3 = 1`` third with the append REPLAYED (signatures are
    deterministic; the probe's DISTINCT read absorbs the duplicate
    rows), then probe the ``% 3 = 2`` third WITHOUT mutating the store:
    every cross pair agreeing on >= 1 of the 4 signature quarters AND
    within hamming 1 — lossless candidates by pigeonhole (1 flip over
    4 quarters leaves three untouched), and at 32 bits an accidental
    collision is ~1e-8 per pair, so a hit means a real near-duplicate
    and the output stays pair-bounded as the corpus grows.  Index rows are 32
    chars per doc; probe work is candidate-bounded; the corpus text is
    never rescanned by the probe."""
    import os
    import shutil
    import tempfile

    from .functions import dedup as DD

    register_views(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_simhash_idx_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    DD.simhash_index_build(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 3 = 0) _b0"
    )
    for _ in range(2):  # second run = the replay; DISTINCT read absorbs
        DD.simhash_index_append(
            spark, path, "(SELECT * FROM documents WHERE doc_id % 3 = 1) _b1"
        )
    return DD.simhash_index_probe(
        spark,
        path,
        "(SELECT * FROM documents WHERE doc_id % 3 = 2) _p",
        max_hamming=1,
    )


def _simhash_brute_oracle(side_pred: str) -> str:
    """One-shot reconstruction of a SimHash-index read: signatures over
    ALL documents, quarter bands, candidate pairs restricted by
    ``side_pred`` (the data-borne batch/side membership), exact
    hamming <= 1 — ONE copy of the brute formulation shared by the
    probe and crawl oracles; any store evolution must equal it."""
    from .functions.dedup import simhash_sql

    nbits, nbands = 32, 4
    width = nbits // nbands
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"substr(simhash, {b * width + 1}, {width}) AS bs FROM sigs"
        for b in range(nbands)
    )
    ham = " + ".join(
        f"CASE WHEN substr(sa, {p + 1}, 1) <> substr(sb2, {p + 1}, 1) "
        "THEN 1 ELSE 0 END"
        for p in range(nbits)
    )
    return f"""
WITH sigs AS ({simhash_sql(DUCK, nbits)}),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa,
    b.doc_id AS doc_b, b.simhash AS sb2
  FROM bands a JOIN bands b
  ON a.band = b.band AND a.bs = b.bs AND a.doc_id < b.doc_id
  WHERE {side_pred}),
ver AS (SELECT doc_a, doc_b, {ham} AS hamming FROM cand)
SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
FROM ver WHERE hamming <= 1
"""


def simhash_index_probe_oracle() -> str:
    """Cross pairs with exactly one side in the probe batch
    (``doc_id % 3 = 2``) vs the indexed sides."""
    return _simhash_brute_oracle("(a.doc_id % 3 = 2) <> (b.doc_id % 3 = 2)")


def simhash_delete_compliance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten over the persisted SimHash signature index
    (functions/dedup.py:simhash_index_delete) — the third tombstone
    family beside the bitmap and setjoin stores (the LSH bucket index
    is the one family where doc-level tombstones cannot apply: it
    stores no doc ids).  Build on the ``% 3 = 0`` third, append the
    ``% 3 = 1`` third, DELETE every doc with ``doc_id % 5 = 1`` —
    issued TWICE (idempotence demo; the tombstone set is DISTINCT'd) —
    then probe the ``% 3 = 2`` third: the store read anti-joins the
    deleted docs out BEFORE banding, so deleted docs generate no
    candidates at all and the scrubbed probe is definitionally the
    rebuild-over-survivors answer (law-pinned in test_round10).  At
    100 TB deletion is a tiny side-table append — no signature
    partition is rewritten."""
    import os
    import shutil
    import tempfile

    from .functions import dedup as DD

    register_views(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_simhash_del_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    DD.simhash_index_build(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 3 = 0) _b0"
    )
    DD.simhash_index_append(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 3 = 1) _b1"
    )
    doomed = spark.sql("SELECT doc_id FROM documents WHERE doc_id % 5 = 1")
    for _ in range(2):  # second delete = the idempotence demo
        DD.simhash_index_delete(doomed, path)
    return DD.simhash_index_probe(
        spark,
        path,
        "(SELECT * FROM documents WHERE doc_id % 3 = 2) _p",
        max_hamming=1,
    )


def simhash_delete_compliance_oracle() -> str:
    """Cross pairs whose INDEXED side survives the deletion (the probe
    side is the arriving batch — tombstones scrub only the store read,
    so a batch doc with ``doc_id % 5 = 1`` still probes normally).
    ONE copy of the brute formulation + the survivor predicate."""
    return _simhash_brute_oracle(
        "(a.doc_id % 3 = 2) <> (b.doc_id % 3 = 2) AND "
        "(CASE WHEN a.doc_id % 3 = 2 THEN b.doc_id ELSE a.doc_id END) "
        "% 5 <> 1"
    )


def stream_simhash_crawl_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.events import stream_simhash_crawl

    register_views(spark, sf_dir)
    return stream_simhash_crawl(spark, sf_dir)


def stream_simhash_crawl_oracle() -> str:
    """Every hamming <= 1 pair whose sides land in DIFFERENT
    ``doc_id % 3`` micro-batches — the union of the per-trigger probe
    results, whatever order the stream delivered."""
    return _simhash_brute_oracle("a.doc_id % 3 <> b.doc_id % 3")


def setjoin_delete_compliance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten over the persisted EXACT set-similarity
    index (functions/dedup.py tombstone verbs) — the text-index sibling
    of ``bitmap_delete_compliance``: build on two thirds of the corpus,
    append the last third, DELETE every doc with ``doc_id % 5 = 1`` —
    issued TWICE, the second call is the idempotence demo (tombstones
    are a SET the scrubbed read DISTINCTs) — then answer the exact
    Jaccard >= 1/2 join EXCLUDING the deleted docs from the store + the
    tiny tombstone side table alone.  The scrub anti-joins deleted ids
    out of BOTH store relations BEFORE candidate generation, so the
    result is definitionally the rebuild-over-survivors answer (a
    pair's candidates and verify touch only its two docs' rows); parity
    with the brute oracle filtered to surviving sides proves it.  At
    100 TB: deletion is a side-table append — no store rewrites — and
    the physical purge end-state is a separate maintenance verb
    (``setjoin_index_purge``; scrubbed-before == scrubbed-after ==
    plain-after pinned in tests/test_round10.py)."""
    import os
    import shutil
    import tempfile

    from .functions import dedup as DD

    register_views(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_setjoin_del_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    DD.setjoin_index_build(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 3 != 2) _b"
    )
    DD.setjoin_index_append(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 3 = 2) _a"
    )
    doomed = spark.sql("SELECT doc_id FROM documents WHERE doc_id % 5 = 1")
    for _ in range(2):  # second delete = the idempotence demo
        DD.setjoin_index_delete(doomed, path)
    return DD.setjoin_index_pairs_scrubbed(spark, path)


def setjoin_delete_compliance_oracle() -> str:
    """Brute exact-pairs oracle restricted to pairs whose BOTH sides
    survive the deletion — equal to the rebuild over survivors because
    every pair statistic (i, n_a, n_b) is pair-local.  ONE copy of the
    brute formulation + the survivor predicate."""
    from .functions.dedup import prefix_filter_jaccard_oracle_sql

    return (
        prefix_filter_jaccard_oracle_sql(DUCK)
        + " AND doc_a % 5 <> 1 AND doc_b % 5 <> 1"
    )


def bm25_topk_retrieval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 retrieval over the corpus for a fixed keyword
    query (functions/text.py:bm25_score_sql) — the retrieval primitive
    the text family was missing (TF-IDF fingerprints existed; scored
    ranked retrieval did not).  The token stream, per-doc lengths and
    the 1-row (N, avgdl) scalar are checkpointed once (Spark re-inlines
    multi-referenced CTEs — tok feeds qtok AND dl; at 100 TB dl/corpus
    ARE the precomputed index statistics a BM25 deployment reuses
    across queries); the scoring SQL text is stage-identical to the
    oracle's one-statement composition, so the algorithm is shared by
    construction."""
    from .functions.text import bm25_corpus_sql, bm25_dl_sql, bm25_score_sql, bm25_tok_sql
    from .session import register_temp_view

    register_views(spark, sf_dir)
    tok = spark.sql(bm25_tok_sql(SPARK)).localCheckpoint(eager=True)
    vtok = register_temp_view(tok, "_bm25_tok")
    dl = spark.sql(bm25_dl_sql(vtok)).localCheckpoint(eager=True)
    vdl = register_temp_view(dl, "_bm25_dl")
    corpus = spark.sql(bm25_corpus_sql(vdl)).localCheckpoint(eager=True)
    vcorpus = register_temp_view(corpus, "_bm25_corpus")
    return spark.sql(bm25_score_sql(vtok, vdl, vcorpus))


def bm25_topk_retrieval_oracle() -> str:
    from .functions.text import bm25_topk_sql

    return bm25_topk_sql(DUCK)


def hybrid_retrieval_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage HYBRID retrieval — the deployment topology behind
    RAG/decontamination lookups: stage 1 recalls the BM25 top-20
    (checkpointed; ~20 rows), stage 2 reranks ONLY those candidates by
    embedding cosine against one fixed query vector and emits the
    top-10 with the lexical score carried through.  The rerank's
    ROW_NUMBER window is bounded by construction (its input is stage
    1's top-k, never the corpus); at 100 TB stage 2 costs |candidates|
    dot products — the entire point of staging."""
    from .functions.similarity import hybrid_rerank_sql
    from .session import register_temp_view

    register_views(spark, sf_dir)
    bm25 = bm25_topk_retrieval_q(spark, sf_dir).localCheckpoint(eager=True)
    vb = register_temp_view(bm25, "_hyb_bm25")
    out = spark.sql(hybrid_rerank_sql(SPARK, vb))
    # r10 ADVICE: the rerank hard-codes query_vec_id=100 and
    # inner-joins candidates to embeddings — a fixture change could
    # silently shrink/empty the result and the dual-dialect parity
    # would pass vacuously.  Fail LOUDLY instead: the query vector must
    # exist and the rerank must keep a real candidate set.  The guard
    # count runs on the side; the RETURNED frame stays the lazy plan so
    # the exchange-budget gate and PLANS.md keep seeing the real shape
    # (an eager checkpoint here collapsed both to `Scan ExistingRDD`).
    # r11 ADVICE: probe through LIMIT 5, not a full count — plan-only
    # consumers (budget gate, PLANS generation) and the drivers, which
    # execute the returned frame themselves, should not pay a second
    # full rerank at build time (stage 1 is already paid once via the
    # eager checkpoint above; the probe reranks only the <= 20
    # checkpointed candidates and short-circuits at 5 rows).
    n = out.limit(5).count()
    if n < 5:
        raise AssertionError(
            f"hybrid rerank returned {n} rows (< 5): the fixture lost "
            "query_vec_id=100 or the BM25 candidates lost their "
            "embeddings — parity would be vacuous"
        )
    return out


def hybrid_retrieval_rerank_oracle() -> str:
    """Same stage texts, one statement: the BM25 composition
    MATERIALIZED as the candidate relation feeding the rerank."""
    from .functions.similarity import hybrid_rerank_sql
    from .functions.text import bm25_topk_sql

    rerank = hybrid_rerank_sql(DUCK, "bm25_cand")
    # splice the candidate CTE in front of the rerank's WITH chain
    return rerank.replace(
        "WITH ",
        f"WITH bm25_cand AS MATERIALIZED ({bm25_topk_sql(DUCK)}), ",
        1,
    )


def bm25_index_persisted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted BM25 (inverted) index — the text-retrieval member of
    the store matrix (functions/text.py:bm25_index_*): build = the
    chunk-0 append over two thirds of the corpus (the store is born
    additive; idf/avgdl derive at read time, so increments never go
    stale), append the last third as chunk 1 — REPLAYED, absorbed by
    the per-chunk dynamic partition overwrite (the CMS additive-class
    contract) — then answer the SAME top-20 query from the store alone:
    term-pruned postings scan (predicate pushdown, plan-pinned) +
    SUM-merge across chunks + the shared scoring text.  Parity with the
    one-shot corpus BM25 proves the additive read algebra exact."""
    import os
    import shutil
    import tempfile

    from .functions import text as TX

    register_views(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_bm25_index_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    TX.bm25_index_build(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 3 != 2) _b"
    )
    for _ in range(2):  # second run = the replay; chunk overwrite absorbs
        TX.bm25_index_append(
            spark, path, "(SELECT * FROM documents WHERE doc_id % 3 = 2) _a",
            chunk=1,
        )
    return TX.bm25_index_topk(spark, path)


def bm25_index_persisted_oracle() -> str:
    """One-shot corpus BM25 with the STORE's corpus-scalar semantics
    (N counted from the indexed dl relation, not the documents table —
    the store's read path never touches documents); tf/dl over chunked
    batches SUM to the whole-corpus counts because every doc lives in
    exactly one chunk."""
    from .functions.text import (
        bm25_corpus_sql,
        bm25_dl_sql,
        bm25_score_sql,
        bm25_tok_sql,
    )

    return (
        f"WITH tok AS MATERIALIZED ({bm25_tok_sql(DUCK)}), "
        f"dl AS MATERIALIZED ({bm25_dl_sql('tok')}), "
        f"corpus AS MATERIALIZED ({bm25_corpus_sql('dl', n_src=None)}), "
        f"scored_q AS ({bm25_score_sql('tok', 'dl', 'corpus')}) "
        "SELECT * FROM scored_q"
    )


def stream_bm25_index_store_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.events import stream_bm25_index_store

    register_views(spark, sf_dir)
    return stream_bm25_index_store(spark, sf_dir)


def stream_semantic_crawl_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.events import stream_semantic_crawl

    register_views(spark, sf_dir)
    return stream_semantic_crawl(spark, sf_dir)


def _semantic_brute_oracle(side_pred: str) -> str:
    """One-shot reconstruction of a semantic-index read: freeze the
    quantizer as batch 0's 8 smallest vec_ids, assign the WHOLE corpus
    under it (ONE copy of the assignment formulation —
    functions/similarity.py:semantic_assign_under_sql), and keep
    same-cell cosine pairs restricted by ``side_pred`` (the data-borne
    batch/side membership) — shared by the crawl and delete oracles."""
    from .functions.similarity import (
        _SEM_N_CENTROIDS,
        _SEM_THRESHOLD,
        _dot_sql,
        _vecs_cte,
        semantic_assign_under_sql,
    )

    cos = f"({_dot_sql('a.e', 'b.e', DUCK)} / (a.nrm * b.nrm))"
    return f"""
WITH {_vecs_cte(DUCK)},
cent AS MATERIALIZED (SELECT vec_id AS cid, e, nrm FROM v
  WHERE vec_id % 3 = 0 ORDER BY vec_id LIMIT {_SEM_N_CENTROIDS}),
assign AS MATERIALIZED ({semantic_assign_under_sql(DUCK, "v", "cent")}),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({cos}, 6) AS cos_sim
  FROM assign a JOIN assign b
  ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {side_pred})
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= {_SEM_THRESHOLD}
"""


def stream_semantic_crawl_oracle() -> str:
    """Same-cell pairs whose sides land in DIFFERENT ``vec_id % 3``
    batches — the union of the per-trigger probe results, whatever
    order the stream delivered."""
    return _semantic_brute_oracle("a.vec_id % 3 <> b.vec_id % 3")


def semantic_delete_compliance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten over the persisted semantic index
    (functions/similarity.py:semantic_index_delete) — the fourth and
    last tombstone family (bitmap / setjoin / SimHash / semantic; the
    LSH bucket index is the documented design exception, it stores no
    doc ids).  Build on the ``vec_id % 3 = 0`` third (freezing the
    quantizer), append the ``% 3 = 1`` third, DELETE every vector with
    ``vec_id % 5 = 1`` — issued TWICE (idempotence demo) — then probe
    the ``% 3 = 2`` third: the store read anti-joins deleted vectors
    out BEFORE the cell join, so the scrubbed probe is definitionally
    the rebuild-over-survivors answer.  At 100 TB deletion is a tiny
    side-table append — no assignment partition is rewritten, and the
    frozen quantizer is untouched (cell geometry is id-free)."""
    import os
    import shutil
    import tempfile

    from .functions import similarity as S

    register_views(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdt_semantic_del_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    shutil.rmtree(path, ignore_errors=True)
    S.semantic_index_build(
        spark, path, "(SELECT * FROM embeddings WHERE vec_id % 3 = 0) _b0"
    )
    S.semantic_index_append(
        spark, path, "(SELECT * FROM embeddings WHERE vec_id % 3 = 1) _b1"
    )
    doomed = spark.sql("SELECT vec_id FROM embeddings WHERE vec_id % 5 = 1")
    for _ in range(2):  # second delete = the idempotence demo
        S.semantic_index_delete(doomed, path)
    return S.semantic_index_probe(
        spark, path, "(SELECT * FROM embeddings WHERE vec_id % 3 = 2) _p"
    )


def semantic_delete_compliance_oracle() -> str:
    """Same-cell cross pairs whose INDEXED side survives the deletion
    (the probe side is the arriving batch — tombstones scrub only the
    store read).  ONE copy of the brute formulation + the survivor
    predicate."""
    return _semantic_brute_oracle(
        "(a.vec_id % 3 = 2) <> (b.vec_id % 3 = 2) AND "
        "(CASE WHEN a.vec_id % 3 = 2 THEN b.vec_id ELSE a.vec_id END) "
        "% 5 <> 1"
    )


def semantic_dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-scoped SEMANTIC dedup (SemDeDup, Abbas et al. 2023,
    arXiv:2303.09540) — the embedding-space member of the dedup family
    (exact hash / MinHash / SimHash / exact set-join / now semantic):
    assign every embedding to its nearest coarse centroid, compare
    cosine ONLY within a cell, and drop every vector dominated by a
    smaller-id cell-mate within the threshold (keep-earliest — one
    survivor per near-dup group, no extra clustering pass).  Per-cell
    report (n_vecs, n_dup_pairs, n_dropped, n_kept).  The assignment
    and pair stages are checkpointed (each feeds two consumers; Spark
    re-inlines CTEs) — at 100 TB the assignment IS the persisted IVF
    index the ANN entries already maintain, and the pair stage is
    sum-of-cell-size² work, never corpus-quadratic (centroid count
    scales with the corpus, so cells stay bounded)."""
    from .functions.similarity import (
        semantic_assign_sql,
        semantic_pairs_sql,
        semantic_report_sql,
    )
    from .session import register_temp_view

    register_views(spark, sf_dir)
    assign = spark.sql(semantic_assign_sql(SPARK)).localCheckpoint(eager=True)
    va = register_temp_view(assign, "_sd_assign")
    pairs = spark.sql(semantic_pairs_sql(SPARK, va)).localCheckpoint(eager=True)
    vp = register_temp_view(pairs, "_sd_pairs")
    return spark.sql(semantic_report_sql(va, vp))


def semantic_dedup_clusters_oracle() -> str:
    from .functions.similarity import semantic_dedup_sql

    return semantic_dedup_sql(DUCK)


# ------------------------------------------------------------------ #
# grouped SpaceSaving store — streaming edge
# ------------------------------------------------------------------ #

_MG_GRP_RANGE = ("2024-01-08", "2024-01-21")
_MG_GRP_CAP = 16


def stream_mg_grouped_store_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.events import stream_mg_grouped_store

    register_views(spark, sf_dir)
    return stream_mg_grouped_store(spark, sf_dir)


def stream_mg_grouped_store_oracle() -> str:
    """Oracle for the grouped MG streaming writer: the chunked grouped
    range-read algebra with ``chunk_sql = user_id % 3`` modeling the
    three micro-batches (batch membership is data-borne); the replayed
    batch-2 append adds byte-identical rows the DISTINCT read absorbs,
    so it does not appear in the oracle at all."""
    from .functions import sketches as SK

    lo, hi = _MG_GRP_RANGE
    store = SK.mg_rollup_grouped_chunked_range_sql(
        "events",
        "event_type",
        "user_id",
        lo,
        hi,
        DUCK,
        cap=_MG_GRP_CAP,
        topk=5,
        chunk_sql="CAST(user_id AS BIGINT) % 3",
    )
    return f"""
WITH exact AS (
  SELECT CAST(event_type AS STRING) AS g, CAST(user_id AS BIGINT) AS key,
    CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM events
  WHERE CAST(CAST(ts AS DATE) AS STRING) BETWEEN '{lo}' AND '{hi}'
  GROUP BY 1, 2)
SELECT s.g, s.key, s.lower_cnt, s.upper_cnt, e.true_cnt,
  (e.true_cnt BETWEEN s.lower_cnt AND s.upper_cnt) AS in_bounds
FROM ({store}) s JOIN exact e ON e.g = s.g AND e.key = s.key
"""


def r10_specs():
    """Round-10 QuerySpec registrations, merged into the catalog by
    catalog.py (the chunk convention, extended to the spec dict itself
    when catalog.py approached its own 2.5k module budget)."""
    from .catalog_base import QuerySpec

    return {
        "setjoin_index_persisted": QuerySpec(
            setjoin_index_persisted_q,
            setjoin_index_persisted_oracle(),
            doc="Persisted EXACT set-similarity (prefix-filter) index: "
            "build (frozen rarity order) / append under the frozen "
            "order (replayed) / compact (re-freeze) / exact J>=1/2 "
            "pairs from the store alone — parity vs the brute "
            "shared-shingle oracle proves lossless increments.",
        ),
        "setjoin_index_probe": QuerySpec(
            setjoin_index_probe_q,
            setjoin_index_probe_oracle(),
            doc="Probe-before-append against the persisted set-"
            "similarity index: a new batch adjudicated under the "
            "frozen order without mutating the store; oracle = brute "
            "cross-pair exact join.",
        ),
        "stream_setjoin_crawl": QuerySpec(
            stream_setjoin_crawl_q,
            stream_setjoin_crawl_oracle(),
            doc="Crawl loop over the EXACT set-similarity index: "
            "per-micro-batch probe-then-append under the batch-0 "
            "frozen order; oracle = brute cross-batch exact pairs.",
        ),
        "bitmap_delete_compliance": QuerySpec(
            bitmap_delete_compliance_q,
            bitmap_delete_compliance_oracle(),
            doc="Tombstone deletion over the exact bitmap store: "
            "BIT_OR-idempotent delete masks ANDed out at read time; "
            "per-day + range distinct excluding deleted users.",
        ),
        "simhash_index_probe": QuerySpec(
            simhash_index_probe_q,
            simhash_index_probe_oracle(),
            doc="Persisted 32-bit SimHash signature index: build/append "
            "(replayed)/probe; quarter-band candidates (lossless for "
            "hamming<=1 by pigeonhole) + exact hamming verify.",
        ),
        "stream_mg_grouped_store": QuerySpec(
            stream_mg_grouped_store_q,
            stream_mg_grouped_store_oracle(),
            doc="Streaming writer into the GROUPED SpaceSaving store "
            "(chunk=<batch_id> partitions, batch-2 replay absorbed); "
            "per-type range top-5 with provable bounds, exact-audited.",
        ),
        "setjoin_delete_compliance": QuerySpec(
            setjoin_delete_compliance_q,
            setjoin_delete_compliance_oracle(),
            doc="Tombstone deletion over the persisted EXACT set-"
            "similarity index: deleted doc_ids anti-joined out of both "
            "store relations before candidate generation (idempotent "
            "side-table append; physical purge law pinned); exact "
            "J>=1/2 pairs over the survivors.",
        ),
        "stream_simhash_crawl": QuerySpec(
            stream_simhash_crawl_q,
            stream_simhash_crawl_oracle(),
            doc="Crawl loop over the persisted SimHash signature index "
            "(the hamming member of the crawl trio): per-micro-batch "
            "probe-then-append, one checkpointed signature relation "
            "per trigger; oracle = one-shot signatures filtered to "
            "cross-batch hamming<=1 pairs.",
        ),
        "bm25_topk_retrieval": QuerySpec(
            bm25_topk_retrieval_q,
            bm25_topk_retrieval_oracle(),
            doc="Okapi BM25 top-20 keyword retrieval (idf rounded "
            "before arithmetic, DECIMAL-exact contribution sum, "
            "TakeOrderedAndProject top-k; tf computed only for the "
            "query terms — the inverted-index posting shape).",
        ),
        "semantic_dedup_clusters": QuerySpec(
            semantic_dedup_clusters_q,
            semantic_dedup_clusters_oracle(),
            doc="Cluster-scoped semantic dedup (SemDeDup): nearest-"
            "centroid cells, within-cell cosine pairs only, keep-"
            "earliest survivor per near-dup group; per-cell report.",
        ),
        "hybrid_retrieval_rerank": QuerySpec(
            hybrid_retrieval_rerank_q,
            hybrid_retrieval_rerank_oracle(),
            doc="Two-stage hybrid retrieval: BM25 top-20 recall, then "
            "embedding-cosine rerank of ONLY those candidates to a "
            "top-10 (rerank window bounded by construction).",
        ),
        "stream_semantic_crawl": QuerySpec(
            stream_semantic_crawl_q,
            stream_semantic_crawl_oracle(),
            doc="Crawl loop over the persisted SEMANTIC index (frozen "
            "coarse quantizer, nearest-centroid cells): per-micro-"
            "batch assign-once → probe (same-cell cosine) → append; "
            "oracle = one-shot assignment filtered to cross-batch "
            "pairs.",
        ),
        "bm25_index_persisted": QuerySpec(
            bm25_index_persisted_q,
            bm25_index_persisted_oracle(),
            doc="Persisted BM25 inverted index (postings + dl under "
            "chunk partitions, ADDITIVE class, replayed append "
            "absorbed by per-chunk overwrite); top-20 answered from "
            "the term-pruned store alone, documents never rescanned.",
        ),
        "semantic_delete_compliance": QuerySpec(
            semantic_delete_compliance_q,
            semantic_delete_compliance_oracle(),
            doc="Tombstone deletion over the persisted semantic index: "
            "deleted vec_ids anti-joined out of the store read before "
            "the cell join (idempotent side-table append; rebuild-"
            "equivalence law pinned); same-cell cosine probe over the "
            "survivors.",
        ),
        "simhash_delete_compliance": QuerySpec(
            simhash_delete_compliance_q,
            simhash_delete_compliance_oracle(),
            doc="Tombstone deletion over the persisted SimHash index: "
            "deleted doc_ids anti-joined out of the store read before "
            "banding (idempotent side-table append; rebuild-"
            "equivalence law pinned); hamming<=1 probe over the "
            "survivors.",
        ),
        "stream_bm25_index_store": QuerySpec(
            stream_bm25_index_store_q,
            # oracle shared VERBATIM with the batch verb-cycle entry:
            # however the stream batched the corpus, SUM-merged
            # postings equal the one-shot counts exactly
            bm25_index_persisted_oracle(),
            doc="Streaming writer into the persisted BM25 index "
            "(chunk=<batch_id> appends, batch-1 replay absorbed by "
            "the per-chunk overwrite, compacted to chunk=-1); top-20 "
            "from the compacted store.",
        ),
    }
