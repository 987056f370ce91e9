"""Deduplication operators over the ``documents`` table — the
training-data-pipeline extensions (BASELINE.json north-star; beyond the
reference's surface, whose only dedup is ``unique(x, by=)``,
as.big.data.table.R:110).

Every operator is a *dual-dialect SQL builder*: ``sql(dialect)`` returns the
Spark SQL text and the DuckDB oracle text from the same code path, so the
algorithm (shingling, hashing, banding) is shared by construction — see
``portable.py``.

Scale design (100 TB of documents):

* exact dedup — one hash-aggregate on ``md5(text)``; map-side partial
  aggregation makes this a single shuffle of (hash, partial-count) pairs,
  not of document text.
* MinHash/LSH — signatures are per-document aggregates (shuffle keyed by
  doc_id, balanced); candidate generation joins on (band, band-signature),
  i.e. only documents sharing a band bucket meet — the classic
  sub-quadratic LSH join.  Hot buckets (boilerplate docs) are the skew
  risk; AQE skew-join splitting handles moderate cases, and the band
  signature includes r=3 hashes so bucket sizes stay small.
* SimHash — 16 bit-majority aggregates per doc from ONE md5 per token
  (each hex nibble's high bit is one hyperplane side), then band-join on
  signature quarters for hamming-adjacent candidates.
* n-gram Jaccard — exact verification join on shared shingles; intended
  as the *verify* stage after LSH candidates at scale (here also exposed
  standalone with a language blocking key).
"""

from __future__ import annotations

from .portable import (
    DUCK,
    SPARK,
    arr_el,
    arr_len,
    arr_slice_join,
    epoch_s,
    lateral_arr,
    lateral_seq,
    split_ws,
)
from .store_layout import (
    _read_int_marker,
    _write_int_marker_monotone,
    parallel_store_writes,
    staged_swap,
    write_store_relation,
)
from ..sources.readers import read_parquet

# MinHash parameters: 12 hash functions in 4 bands × 3 rows.
N_HASHES = 12
N_BANDS = 4
ROWS_PER_BAND = 3


def _words_cte(dialect: str, table: str = "documents") -> str:
    # The REPARTITION hint spreads the (single-file, hence single-partition)
    # documents scan across the cluster before the expensive shingle
    # explode; DuckDB parses the hint as a plain comment.
    w = split_ws("lower(text)", dialect)
    return (
        f"words AS (SELECT /*+ REPARTITION(32) */ doc_id, {w} AS w FROM {table}), "
        f"docs AS (SELECT doc_id, w FROM words WHERE {arr_len('w', dialect)} >= 3)"
    )


def _shingles_cte(dialect: str, distinct: bool = True) -> str:
    """Word-3-gram shingles per document.  ``distinct=True`` gives set
    semantics (needed for Jaccard); MinHash uses the raw multiset — the
    per-seed MIN is identical over duplicates, and skipping DISTINCT
    removes an entire shuffle from the signature pipeline."""
    el = lambda i: arr_el("w", i, dialect)  # noqa: E731
    lat = lateral_seq("1", f"{arr_len('w', dialect)} - 2", "i", dialect)
    d = "DISTINCT " if distinct else ""
    return (
        f"shingles AS (SELECT {d}doc_id, sh FROM ("
        f"SELECT doc_id, concat({el('i')}, ' ', {el('i + 1')}, ' ', {el('i + 2')}) AS sh "
        f"FROM docs {lat}) _s)"
    )


def _minhash_expr(k: int) -> str:
    """Hash-family member k: one seeded md5 yields FOUR independent
    members (non-overlapping 8-hex windows of the 32-hex digest) — md5
    is the dominant cost of the signature pipeline, so 12 members cost 3
    digests per shingle instead of 12.  32-bit members are ample for a
    min over per-document shingle sets.  Identical SQL in both dialects."""
    seed, quarter = divmod(k, 4)
    return f"substr(md5(concat('{seed}|', sh)), {1 + 8 * quarter}, 8)"


def _min_cols(dialect: str) -> str:
    """The N_HASHES per-seed signature minima as a select list.

    Spark (r16, guide §2.3): MIN over the 32-bit INTEGER value of each
    8-hex window instead of over the hex string.  The two orders are
    isomorphic on fixed-width lowercase hex (char order 0-9a-f follows
    digit value), and a bigint MIN has a mutable aggregation buffer, so
    Spark plans a map-side-partial HashAggregate instead of the
    Sort + SortAggregate pair a string MIN forces — the sort of every
    shingle row disappears from the signature pipeline.  The hex
    spelling is restored byte-identically with lower(lpad(hex(v), 8,
    '0')) (md5 windows are lowercase, zero-padded, width 8).

    DuckDB (the oracle) keeps the direct string MIN — results are equal
    by the isomorphism, and every minhash entry is oracle-hash-checked."""
    if dialect == SPARK:
        return ", ".join(
            "lower(lpad(hex(MIN(CAST(conv("
            f"{_minhash_expr(k)}, 16, 10) AS BIGINT))), 8, '0')) AS h{k}"
            for k in range(N_HASHES)
        )
    return ", ".join(f"MIN({_minhash_expr(k)}) AS h{k}" for k in range(N_HASHES))


def exact_dedup_sql(dialect: str) -> str:
    """Exact duplicate groups by content hash: one row per distinct text,
    keeper = min doc_id.  ``unique(x, by=)`` lifted to content identity."""
    return (
        "SELECT md5(text) AS content_hash, "
        "CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id, "
        "CAST(COUNT(*) AS BIGINT) AS n_copies "
        "FROM documents GROUP BY md5(text)"
    )


def minhash_signature_sql(dialect: str) -> str:
    """Per-document MinHash signature (N_HASHES seeded-md5 minima over the
    shingle set).  The minimum order is the 8-hex window's value — taken
    as a string min in DuckDB and as the isomorphic integer min in Spark
    (see :func:`_min_cols`); both engines emit the identical hex text."""
    mins = _min_cols(dialect)
    return (
        f"WITH {_words_cte(dialect)}, {_shingles_cte(dialect, distinct=False)} "
        f"SELECT doc_id, {mins} FROM shingles GROUP BY doc_id"
    )


def minhash_lsh_pairs_sql(dialect: str) -> str:
    """LSH candidate pairs: documents agreeing on ≥1 of N_BANDS bands
    (each band = concat of ROWS_PER_BAND signature rows).  Output is the
    deduplicated (doc_a < doc_b) candidate set."""
    mins = _min_cols(dialect)
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat({cols}) AS sig FROM minh".format(
            b=b,
            cols=", ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
        )
        for b in range(N_BANDS)
    )
    return (
        f"WITH {_words_cte(dialect)}, {_shingles_cte(dialect, distinct=False)}, "
        f"minh AS (SELECT doc_id, {mins} FROM shingles GROUP BY doc_id), "
        f"bands AS ({band_selects}) "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig "
        "AND a.doc_id < b.doc_id"
    )


def minhash_bands_sql(dialect: str, src: str = "documents") -> str:
    """(doc_id, band, sig) band table in a SINGLE pass over the signature
    pipeline.  Spark SQL inlines CTEs, so the UNION-ALL formulation of
    ``minhash_lsh_pairs_sql`` recomputes the whole shingle→signature chain
    once per band; exploding an array of (band, sig) structs keeps it at
    one evaluation.  (The DuckDB side keeps UNION ALL — the oracle's
    runtime is irrelevant and duck's optimizer materializes CTEs.)
    ``src`` is any (doc_id, text) relation — the persisted-index verbs
    point it at corpus/batch views."""
    mins = _min_cols(dialect)
    base = (
        f"WITH {_words_cte(dialect, src)}, {_shingles_cte(dialect, distinct=False)}, "
        f"minh AS (SELECT doc_id, {mins} FROM shingles GROUP BY doc_id)"
    )
    band_cols = {
        b: ", ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        for b in range(N_BANDS)
    }
    if dialect == SPARK:
        structs = ", ".join(
            f"named_struct('band', {b}, 'sig', concat({cols}))"
            for b, cols in band_cols.items()
        )
        return (
            f"{base} SELECT doc_id, _bs.band AS band, _bs.sig AS sig "
            f"FROM minh LATERAL VIEW explode(array({structs})) _t AS _bs"
        )
    selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat({cols}) AS sig FROM minh"
        for b, cols in band_cols.items()
    )
    return f"{base} {selects}"


def simhash_sql(dialect: str, nbits: int = 16, src: str = "documents") -> str:
    """Per-document SimHash: one md5 per token occurrence; hex nibble k's
    high bit (nibble in 8..f) is hyperplane k's side; bit k of the
    signature is the sign of the ±1 majority vote.  Ties (sum == 0) break
    to '1' deterministically.  ``src`` is any (doc_id, text) relation —
    the persisted-index verbs point it at corpus/batch views."""
    tok = lateral_arr("w", "tok", dialect)
    bits = ", ".join(
        "CASE WHEN SUM(CASE WHEN substr(h, {p}, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) >= 0 "
        "THEN '1' ELSE '0' END".format(p=p + 1)
        for p in range(nbits)
    )
    return (
        f"WITH {_words_cte(dialect, src)}, "
        f"tokens AS (SELECT doc_id, tok FROM docs {tok}), "
        "hashed AS (SELECT doc_id, md5(tok) AS h FROM tokens) "
        f"SELECT doc_id, concat({bits}) AS simhash FROM hashed GROUP BY doc_id"
    )


def simhash_candidates_sql(dialect: str, nbits: int = 16, nbands: int = 4) -> str:
    """Hamming-adjacent candidates: pairs agreeing on ≥1 of ``nbands``
    signature quarters (≥1 band equal ⇒ hamming distance ≤ nbits·(nbands-1)/nbands
    is *possible*; it is the standard recall-oriented blocking step)."""
    width = nbits // nbands
    sig = simhash_sql(dialect, nbits)
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, substr(simhash, {b * width + 1}, {width}) AS bs FROM sigs"
        for b in range(nbands)
    )
    return (
        f"WITH sigs AS ({sig}), bands AS ({band_selects}) "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b ON a.band = b.band AND a.bs = b.bs "
        "AND a.doc_id < b.doc_id"
    )


def ngram_jaccard_pairs_sql(dialect: str, threshold: float = 0.5, max_df: int = 50) -> str:
    """Exact word-3-gram Jaccard similarity for same-language pairs sharing
    ≥1 shingle; emits pairs with similarity ≥ threshold.  The
    shared-shingle join is the exact-verification stage of the LSH
    pipeline; language is the blocking key.

    Stop-shingle removal (``max_df``): shingles appearing in more than
    ``max_df`` documents are dropped before the pair join — the skew
    guard that keeps one boilerplate phrase from fanning the join out to
    |docs|² at 100 TB.  Jaccard is then over the filtered sets (the
    standard formulation; mirrored in the oracle)."""
    return (
        f"WITH {_words_cte(dialect)}, {_shingles_cte(dialect)}, "
        "keep AS (SELECT sh FROM shingles GROUP BY sh "
        f"  HAVING COUNT(*) <= {max_df}), "
        "sf AS (SELECT s.doc_id, s.sh FROM shingles s JOIN keep ON s.sh = keep.sh), "
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sf GROUP BY doc_id), "
        "langs AS (SELECT doc_id, lang FROM documents), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i "
        "  FROM sf a JOIN sf b ON a.sh = b.sh AND a.doc_id < b.doc_id "
        "  JOIN langs la ON la.doc_id = a.doc_id JOIN langs lb ON lb.doc_id = b.doc_id "
        "  AND la.lang = lb.lang "
        "  GROUP BY a.doc_id, b.doc_id) "
        "SELECT doc_a, doc_b, "
        "ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = doc_a "
        "JOIN sizes sb ON sb.doc_id = doc_b "
        # filter on the SAME rounded expression that is emitted, so a
        # boundary pair can never display a jaccard below the threshold
        f"WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {threshold}"
    )


def ngram_filtered_shingles(spark, max_df: int = 50):
    """The verifier's filtered-shingle set as a CHECKPOINTED DataFrame:
    distinct (doc_id, shingle) with the ``max_df`` stop-shingle cut
    applied.  The flat SQL references this frame three times (sizes +
    both pair-join sides) and its shingle chain twice more (the keep
    aggregate), so Spark's CTE inlining re-runs the explode ~5x per
    evaluation; computing it once is the source_overlap_matrix
    treatment applied to the verifier itself."""
    df = spark.sql(
        f"WITH {_words_cte(SPARK)}, {_shingles_cte(SPARK)}, "
        "keep AS (SELECT sh FROM shingles GROUP BY sh "
        f"  HAVING COUNT(*) <= {max_df}) "
        "SELECT s.doc_id, s.sh FROM shingles s JOIN keep ON s.sh = keep.sh"
    )
    return df.localCheckpoint(eager=True)


def ngram_jaccard_pairs(spark, threshold: float = 0.5, max_df: int = 50):
    """DataFrame form of :func:`ngram_jaccard_pairs_sql` — identical
    result, but the filtered-shingle set comes from
    :func:`ngram_filtered_shingles` (checkpointed once) so the pair
    join, the sizes aggregate and the language block all reuse one
    materialization instead of re-running the shingle explode per
    reference (measured 32 exchanges flat vs 5 here on the
    neardup_source_matrix plan).  The SQL text remains the oracle."""
    from ..session import register_temp_view

    sf = ngram_filtered_shingles(spark, max_df)
    v = register_temp_view(sf, "_ngram_sf")
    return spark.sql(
        f"WITH sizes AS (SELECT doc_id, COUNT(*) AS n FROM {v} "
        "  GROUP BY doc_id), "
        "langs AS (SELECT doc_id, lang FROM documents), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i "
        f"  FROM {v} a JOIN {v} b "
        "  ON a.sh = b.sh AND a.doc_id < b.doc_id "
        "  JOIN langs la ON la.doc_id = a.doc_id "
        "  JOIN langs lb ON lb.doc_id = b.doc_id AND la.lang = lb.lang "
        "  GROUP BY a.doc_id, b.doc_id) "
        "SELECT doc_a, doc_b, "
        "ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = doc_a "
        "JOIN sizes sb ON sb.doc_id = doc_b "
        f"WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {threshold}"
    )


def crosslingual_lsh_pairs_sql(dialect: str) -> str:
    """MinHash-LSH candidate pairs with LANGUAGE as an extra blocking
    key: the self-join key is (pred_lang, band, sig), so candidates only
    meet inside their language partition — the cross-lingual corpus
    pattern.  At 100 TB the language key buys two things for free: (1)
    bucket fan-out shrinks by the language distribution (a band bucket
    shared by an en and a de document can never produce a true near-dup,
    so those comparisons are pure waste without the key), and (2) the
    pipeline parallelizes per language with no extra shuffle — lang rides
    along the existing (band, sig) exchange.  Skewed languages (one
    dominant lang ≈ no blocking) fall back to the band-bucket bound, the
    same guarantee as :func:`minhash_lsh_pairs_sql`.

    Output: (doc_a, doc_b, lang).  The Spark catalog entry persists the
    banded-signature table once before the self-join (CTE-inlining
    countermeasure, catalog.py:_crosslingual_pairs_fn); this single-
    statement form is the shared-algorithm oracle."""
    from .text import lang_select_sql

    mins = _min_cols(dialect)
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat({cols}) AS sig FROM minh".format(
            b=b,
            cols=", ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
        )
        for b in range(N_BANDS)
    )
    return (
        f"WITH {_words_cte(dialect)}, {_shingles_cte(dialect, distinct=False)}, "
        f"minh AS (SELECT doc_id, {mins} FROM shingles GROUP BY doc_id), "
        f"bands AS ({band_selects}), "
        f"langs AS (SELECT doc_id, pred_lang FROM ({lang_select_sql(dialect)}) _l), "
        "lbands AS (SELECT bands.doc_id, langs.pred_lang, band, sig "
        "FROM bands JOIN langs ON bands.doc_id = langs.doc_id) "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pred_lang AS lang "
        "FROM lbands a JOIN lbands b ON a.pred_lang = b.pred_lang "
        "AND a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id"
    )


def dedup_rate_trend_sql(dialect: str) -> str:
    """Per-(source, crawl-day) exact-duplication rate trend — the
    monitoring table a continuous-crawl pipeline watches to catch a
    source going stale (rising dup rate = re-crawling the same pages).

    Documents carry no crawl time in the fixtures, so each doc borrows
    its event's timestamp (doc_id = event_id — the deterministic
    metadata join; in production this is the crawl-log join).  Dedup
    keepers are MIN(doc_id) per md5(text): the shuffle carries
    (digest, id) pairs, never text, and the trend aggregation is one
    further map-side-combinable pass over those pairs — at 100 TB this
    whole report touches no document bodies."""
    day = "date_trunc('day', e.ts)"
    return (
        "WITH crawled AS ("
        f"  SELECT d.doc_id, d.source, md5(d.text) AS digest, {day} AS day"
        "   FROM documents d JOIN events e ON d.doc_id = e.event_id), "
        "keepers AS ("
        "  SELECT digest, MIN(doc_id) AS keeper FROM crawled GROUP BY digest) "
        f"SELECT source, {epoch_s('day', dialect)} AS day_s, "
        "CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(CASE WHEN c.doc_id <> k.keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dups, "
        "ROUND(CAST(SUM(CASE WHEN c.doc_id <> k.keeper THEN 1 ELSE 0 END) AS DOUBLE)"
        " / COUNT(*), 6) AS dup_rate "
        "FROM crawled c JOIN keepers k ON c.digest = k.digest "
        f"GROUP BY source, {epoch_s('day', dialect)}"
    )


def decontamination_sql(
    dialect: str, eval_source: str = "src0", flag_threshold: float = 0.5
) -> str:
    """Benchmark-decontamination report: for every training document,
    the fraction of its distinct word-3-gram shingles that also appear
    in the held-out evaluation set (here: every doc from
    ``eval_source``, the fixture stand-in for a benchmark corpus), plus
    a flag at ``flag_threshold`` — the standard n-gram-overlap
    decontamination pass a training pipeline runs before a data drop.

    Scale shape: the eval shingle set is DISTINCT and small relative to
    the corpus (benchmarks are), so the contamination probe is a
    broadcast-able semi-structured LEFT JOIN keyed on the shingle —
    training text itself never shuffles, only (doc_id, shingle-hash)
    pairs; the per-doc aggregate is map-side combinable.  The flag is
    computed on the SAME rounded expression that is emitted (the
    jaccard boundary rule)."""
    frac = "ROUND(CAST(n_hit AS DOUBLE) / n_sh, 6)"
    return (
        f"WITH {_words_cte(dialect)}, {_shingles_cte(dialect)}, "
        "ds AS (SELECT s.doc_id, s.sh, d.source FROM shingles s "
        "  JOIN documents d ON s.doc_id = d.doc_id), "
        f"eval_sh AS (SELECT DISTINCT sh FROM ds WHERE source = '{eval_source}'), "
        "hits AS (SELECT t.doc_id, COUNT(*) AS n_sh, "
        "  SUM(CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END) AS n_hit "
        f"  FROM (SELECT doc_id, sh FROM ds WHERE source <> '{eval_source}') t "
        "  LEFT JOIN eval_sh e ON t.sh = e.sh GROUP BY t.doc_id) "
        "SELECT doc_id, CAST(n_sh AS BIGINT) AS n_shingles, "
        "CAST(n_hit AS BIGINT) AS n_contaminated, "
        f"{frac} AS contamination, "
        f"{frac} >= {flag_threshold} AS flagged "
        "FROM hits"
    )


def incremental_dedup_sql(dialect: str, corpus_pred: str = "TRUE") -> str:
    """Incremental (cross-run) dedup: adjudicate every NEW-batch document
    against the existing corpus and its own batch, with a reason —
    the decision table a continuous-ingestion pipeline writes before
    appending a crawl drop to the training corpus.

    The fixture split is deterministic: ``doc_id % 4 = 3`` is the new
    batch (25%), the rest is corpus.  Decision priority:
    ``exact_vs_corpus`` (content hash already in corpus) >
    ``exact_in_batch`` (not the batch's first copy) >
    ``neardup_vs_corpus`` (shares a MinHash-LSH band signature with a
    corpus doc — CANDIDATE grain; production runs the jaccard verify
    stage on these) > ``keep``.

    Scale shape: exact checks join on md5 digests (text never
    shuffles); the near-dup probe joins the batch's band table against
    the corpus's on (band, sig) — in production the corpus band table
    is a PERSISTED index maintained across runs, so an increment costs
    |batch| signatures + one bucket join, never a corpus rescan.  Here
    both sides derive from the same fixture table to stay
    self-contained.  The fixture has no exact duplicates, so the batch
    is augmented with deterministic SIMULATED RECRAWLS (every
    ``doc_id % 7 = 0`` text re-ingested under id+1000000) — exercising
    the exact arms; recrawls carry no band signatures because the
    exact-dup short-circuit precedes signature computation in the
    pipeline.

    ``corpus_pred`` (a doc_id predicate, default TRUE) restricts the
    CORPUS side to survivors — the oracle arm of the LSH-index
    tombstone-deletion entry (``lsh_delete_compliance``): adjudication
    against a store whose deleted owners are scrubbed equals this
    formulation with the corpus filtered to the survivors, because
    every corpus-side key survives iff some surviving doc owns it.
    Under a deletion predicate the band table must range over the
    AUGMENTED set (recrawls included): a recrawl whose corpus source
    was deleted no longer short-circuits on the exact arm, so its
    near-dup adjudication becomes decision-relevant — the store-backed
    probe computes batch signatures for every batch doc, recrawls
    included.  (With the default TRUE the recrawl band rows are
    unreachable behind the exact short-circuit, so the leaner
    documents-only band table keeps the legacy entries' plans.)"""
    # under a predicate the band table ranges over the adjacent aug CTE
    # (ONE copy of the recrawl rule; the nested WITH sees the outer CTE
    # — the predicate branch runs only in the DuckDB oracle arm).  The
    # default-TRUE branch keeps the leaner documents-only band table
    # for the legacy dual-dialect entries' plans.
    bands_src = "documents" if corpus_pred == "TRUE" else "aug"
    return (
        "WITH aug AS (SELECT doc_id, text, doc_id % 4 = 3 AS is_new "
        "  FROM documents "
        "  UNION ALL SELECT doc_id + 1000000, text, TRUE "
        "  FROM documents WHERE doc_id % 7 = 0), "
        "flags AS (SELECT doc_id, md5(text) AS h, is_new FROM aug), "
        f"bands AS ({minhash_bands_sql(dialect, src=bands_src)}), "
        "corpus_ids AS (SELECT doc_id, h FROM flags "
        f"  WHERE NOT is_new AND ({corpus_pred})), "
        "corpus_h AS (SELECT DISTINCT h FROM corpus_ids), "
        "batch_min AS (SELECT h, MIN(doc_id) AS first_id FROM flags "
        "  WHERE is_new GROUP BY h), "
        "corpus_bands AS (SELECT DISTINCT band, sig FROM bands b "
        "  JOIN corpus_ids f ON b.doc_id = f.doc_id), "
        "nd AS (SELECT DISTINCT b.doc_id FROM bands b "
        "  JOIN flags f ON b.doc_id = f.doc_id AND f.is_new "
        "  JOIN corpus_bands c ON b.band = c.band AND b.sig = c.sig) "
        "SELECT d.doc_id, "
        "CASE WHEN ch.h IS NOT NULL THEN 'exact_vs_corpus' "
        "     WHEN d.doc_id <> bm.first_id THEN 'exact_in_batch' "
        "     WHEN nd.doc_id IS NOT NULL THEN 'neardup_vs_corpus' "
        "     ELSE 'keep' END AS decision "
        "FROM (SELECT doc_id, h FROM flags WHERE is_new) d "
        "LEFT JOIN corpus_h ch ON d.h = ch.h "
        "JOIN batch_min bm ON d.h = bm.h "
        "LEFT JOIN nd ON nd.doc_id = d.doc_id"
    )


# --------------------------------------------------------------------- #
# Persisted LSH dedup index — the storage form of incremental_dedup's
# "in production the corpus band table is a PERSISTED index" note: the
# corpus's exact-digest set and MinHash band table live as parquet and a
# new crawl drop is adjudicated against the STORE (|batch| signature
# work + two digest/bucket joins), never against a corpus rescan.  The
# same build/append/probe verb triad as the HLL rollup store
# (sketches.py): build once, probe every increment, append the kept
# docs so the next increment sees them — the continuous-ingestion loop.
# r11: the store keeps OWNERSHIP rows ((h, doc_id) / (band, sig,
# doc_id)) instead of bare keys, which makes tombstone deletion
# expressible (lsh_index_delete/purge — the last store family to gain
# right-to-be-forgotten); probes DISTINCT-project the keys, so probe
# output is bit-identical to the keys-only layout.
# --------------------------------------------------------------------- #


def lsh_index_build(spark, path: str, src: str) -> None:
    """Materialize the dedup index for the ``src`` (doc_id, text)
    relation: ``digests`` ((h, doc_id) md5 content-hash ownership rows —
    the exact arm) and ``bands`` ((band, sig, doc_id) MinHash-LSH bucket
    ownership rows — the near-dup arm), both parquet, bands partitioned
    by band.  r11 layout change: rows carry the OWNING doc_id so the
    family supports right-to-be-forgotten (the r10 layout kept bare
    keys, which made tombstones impossible — a key shared by a deleted
    and a surviving doc must outlive the delete, and only ownership
    rows can express that).  Probes project DISTINCT keys, so probe
    output is bit-identical to the keys-only layout; the store grows
    only where docs SHARE keys — exactly the duplicate mass the index
    exists to find.  The build clears the whole store dir first: a
    store is BORN fresh, so stale side state from a prior life
    (tombstones, a retention marker) must not leak into it (r11
    review)."""
    import os
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    digests = spark.sql(f"SELECT DISTINCT md5(text) AS h, doc_id FROM {src}")
    bands = spark.sql(minhash_bands_sql(SPARK, src=src)).select(
        "band", "sig", "doc_id"
    ).distinct()
    # independent output relations — overlap the writes (guide §2.6)
    parallel_store_writes(
        lambda: digests.write.mode("overwrite").parquet(
            os.path.join(path, "digests")
        ),
        lambda: bands.write.mode("overwrite")
        .partitionBy("band")
        .parquet(os.path.join(path, "bands")),
    )


def lsh_index_append(spark, path: str, src: str) -> None:
    """Incremental maintenance: add ``src``'s digest and band ownership
    rows to the store (the post-adjudication step that makes the NEXT
    increment see this batch's kept docs).  Plain appends — duplicate
    rows are harmless because probes are set-membership joins against
    DISTINCT'd reads, the same idempotence-under-replay the HLL store
    gets from register MAX; compaction = re-DISTINCT, left to a
    maintenance pass."""
    import os

    parallel_store_writes(
        lambda: spark.sql(f"SELECT DISTINCT md5(text) AS h, doc_id FROM {src}")
        .write.mode("append")
        .parquet(os.path.join(path, "digests")),
        lambda: spark.sql(minhash_bands_sql(SPARK, src=src))
        .select("band", "sig", "doc_id")
        .distinct()
        .write.mode("append")
        .partitionBy("band")
        .parquet(os.path.join(path, "bands")),
    )


def lsh_index_compact(spark, path: str, target_file_bytes: int = 256 << 20) -> None:
    """Maintenance pass: re-DISTINCT both stores and rewrite them —
    collapses the duplicate rows that replayed/overlapping appends
    accumulate, exactly as the HLL store's compaction re-MAX-merges
    register files.  Probes are unchanged before/after (they already
    read with set semantics); what compaction buys is the store's SIZE
    and the probe-side join input going back to one row per key.  The digests
    relation is CORPUS cardinality, so it rewrites with a size-derived
    file count hash-partitioned on doc_id (``store_layout``; r11
    VERDICT's coalesce(1) straggler fix) — 1 file at fixture scale,
    never one task for a TB store."""
    import os

    from pyspark.sql import functions as F

    def _compact_one(sub, part, tmp):
        raw = read_parquet(spark, os.path.join(path, sub))
        df = _lsh_retained(spark, path, raw).distinct()
        if part:
            df = df.select(
                F.col(part).cast("int").alias(part),
                *[c for c in df.columns if c != part],
            )
            df.repartition(part).write.mode("overwrite").partitionBy(part).parquet(tmp)
        else:
            write_store_relation(
                df, tmp, "doc_id", sized_on=raw, target_file_bytes=target_file_bytes
            )

    # independent sub-relations: write both tmp dirs concurrently
    # (guide §2.6), swap sequentially (renames are instant)
    with staged_swap(os.path.join(path, "digests"), os.path.join(path, "bands")) as (
        t_digests,
        t_bands,
    ):
        parallel_store_writes(
            lambda: _compact_one("digests", None, t_digests),
            lambda: _compact_one("bands", "band", t_bands),
        )


def lsh_index_probe(spark, path: str, src: str, exclude=None):
    """Adjudicate the ``src`` batch against the persisted index:
    ``(doc_id, decision)`` with incremental_dedup's decision priority —
    exact_vs_corpus > exact_in_batch > neardup_vs_corpus > keep.  The
    corpus never rescans: the exact arm joins |batch| digests against
    the digest store, the near-dup arm joins the batch's band table
    against the bucket store on (band, sig).  Both index sides are
    DISTINCT'd on read so replayed appends don't multiply rows.

    Two ownership-row scrubs compose into the store read BEFORE the
    key projection (both anti-joins against broadcast id sets):
    tombstoned docs (``lsh_index_delete``) are always excluded, and
    ``exclude`` (a doc_id DataFrame) drops the listed owners for this
    probe only — the crawl loops pass the current batch's ids so a
    replayed trigger whose append committed but whose checkpoint did
    not re-adjudicates against the store AS IT WAS, making the probe
    itself replay-idempotent."""
    import os

    from pyspark.sql import functions as F

    flags = spark.sql(f"SELECT doc_id, md5(text) AS h FROM {src}")
    batch_bands = spark.sql(minhash_bands_sql(SPARK, src=src))

    tomb = _lsh_tombstones(spark, path)

    def _scrub(df):
        out = _lsh_retained(spark, path, df)
        if tomb is not None:
            out = out.join(F.broadcast(tomb), "doc_id", "left_anti")
        if exclude is not None:
            out = out.join(
                F.broadcast(exclude.select("doc_id").distinct()),
                "doc_id",
                "left_anti",
            )
        return out

    corpus_h = (
        _scrub(read_parquet(spark, os.path.join(path, "digests")))
        .select("h")
        .distinct()
    )
    corpus_bands = (
        _scrub(
            read_parquet(spark, os.path.join(path, "bands")).select(
                F.col("band").cast("int").alias("band"), "sig", "doc_id"
            )
        )
        .select("band", "sig")
        .distinct()
    )
    batch_min = flags.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    nd = (
        batch_bands.join(corpus_bands, ["band", "sig"])
        .select("doc_id")
        .distinct()
        .withColumn("_nd", F.lit(1))
    )
    return (
        flags.join(corpus_h.withColumn("_ch", F.lit(1)), "h", "left")
        .join(batch_min, "h")
        .join(nd, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_ch").isNotNull(), F.lit("exact_vs_corpus"))
            .when(F.col("doc_id") != F.col("first_id"), F.lit("exact_in_batch"))
            .when(F.col("_nd").isNotNull(), F.lit("neardup_vs_corpus"))
            .otherwise(F.lit("keep"))
            .alias("decision"),
        )
    )


_LSH_TOMBSTONE_DIR = ".tombstones"
_LSH_RETENTION_FILE = ".retention"


def lsh_index_expire(path: str, before_doc_id: int) -> None:
    """Retention cutoff for the LSH index — drop every doc with
    ``doc_id < before_doc_id`` from adjudication, METADATA-ONLY (a
    monotone store-root marker; no scan, no partition rewrite — the
    same O(1) verb as ``setjoin_index_expire``/``bm25_index_expire``,
    possible here only since the r11 ownership-row layout).  Probe
    store reads filter ``doc_id >= cutoff`` BEFORE the key projection,
    so a key survives iff some RETAINED doc owns it — the rebuild-over-
    retained semantics; physical reclaim rides ``lsh_index_purge`` or
    the next compact.  With delete + expire, every text/embedding index
    family now carries the full lifecycle verb set."""
    _write_int_marker_monotone(path, _LSH_RETENTION_FILE, before_doc_id)


def _lsh_retained(spark, path: str, df):
    """Apply the retention cutoff (if any) to a store-side relation."""
    cut = _read_int_marker(path, _LSH_RETENTION_FILE)
    if cut is not None:
        from pyspark.sql import functions as F

        df = df.filter(F.col("doc_id") >= cut)
    return df


def _lsh_tombstones(spark, path: str):
    """The DISTINCT tombstoned doc_ids for an LSH index, or None when
    the store was never deleted from (or was purged) — callers skip
    the anti-join entirely for None, keeping the never-deleted probe's
    plan identical to the pre-tombstone era's."""
    import os

    tomb = os.path.join(path, _LSH_TOMBSTONE_DIR)
    if os.path.isdir(tomb) and any(f.endswith(".parquet") for f in os.listdir(tomb)):
        return read_parquet(spark, tomb).distinct()
    return None


def lsh_index_delete(ids, path: str) -> None:
    """Tombstone every ``doc_id`` in ``ids`` — right-to-be-forgotten
    over the LSH index (the fifth store family to gain it; BM25 joined
    as the sixth), the verb the r10 keys-only layout could not
    support (VERDICT r10 #2: a bare bucket key shared by a deleted and
    a surviving doc must outlive the delete; only the r11 ownership
    rows can express that).  A side-table append — no store partition
    is rewritten, the delete applies retroactively to every scrubbed
    read, and replays are idempotent (SET class): probes anti-join the
    DISTINCT tombstone set out of the ownership rows BEFORE projecting
    keys, so a key survives iff some SURVIVING doc owns it — exactly
    the rebuild-over-survivors semantics."""
    import os

    from pyspark.sql import functions as F

    ids.select(F.col("doc_id").cast("long").alias("doc_id")).distinct().write.mode(
        "append"
    ).parquet(os.path.join(path, _LSH_TOMBSTONE_DIR))


def lsh_index_purge(spark, path: str, target_file_bytes: int = 256 << 20) -> int:
    """PHYSICAL purge: drop every tombstoned doc's ownership rows from
    digests/ and bands/ and DROP the tombstone table — the compliance
    end-state (the deleted docs' digests and bucket keys no longer
    exist on disk, not merely masked at read time).  Result-neutral:
    scrubbed-before == scrubbed-after == plain-after (pinned in
    tests/test_round11.py).  The digests rewrite is CORPUS cardinality
    — size-derived file count hash-partitioned on doc_id
    (``store_layout``), never one task.  Returns the tombstoned id
    count purged."""
    import os
    import shutil

    from pyspark.sql import functions as F

    tomb = _lsh_tombstones(spark, path)
    if tomb is None:
        tomb = spark.createDataFrame([], "doc_id long")
    tomb = tomb.localCheckpoint(eager=True)
    n = tomb.count()
    for sub, part in (("digests", None), ("bands", "band")):
        cur = os.path.join(path, sub)
        with staged_swap(cur) as (tmp,):
            raw = read_parquet(spark, cur)
            kept = (
                _lsh_retained(spark, path, raw)
                .distinct()
                .join(F.broadcast(tomb), "doc_id", "left_anti")
            )
            if part:
                kept = kept.select(
                    F.col(part).cast("int").alias(part),
                    *[c for c in kept.columns if c != part],
                ).localCheckpoint(eager=True)  # fully read before the swap
                kept.repartition(part).write.mode("overwrite").partitionBy(
                    part
                ).parquet(tmp)
            else:
                write_store_relation(
                    kept.localCheckpoint(eager=True),
                    tmp,
                    "doc_id",
                    sized_on=raw,
                    target_file_bytes=target_file_bytes,
                )
    shutil.rmtree(os.path.join(path, _LSH_TOMBSTONE_DIR), ignore_errors=True)
    return n


def substring_perdoc_ctes(dialect: str, w: int = 8) -> str:
    """The substring-duplication PER-DOC chain, ending in ``sperdoc
    (doc_id, source, n_words, dup_words)`` — shared by the per-source
    audit (:func:`substring_dedup_sql`) and the dedup cascade's
    substring stage, so every consumer measures identical coverage.
    CTE names are ``s``-prefixed to compose into statements that carry
    their own ``words`` table."""
    lat = lateral_seq("1", f"{arr_len('w', dialect)} - {w - 1}", "pos", dialect)
    gram = arr_slice_join("w", "pos", w, " ", dialect)
    ws = split_ws("lower(text)", dialect)
    return f"""swords AS (SELECT /*+ REPARTITION(32) */ doc_id, source, {ws} AS w FROM documents),
sdoclen AS (SELECT doc_id, source, CAST({arr_len('w', dialect)} AS BIGINT) AS n_words FROM swords),
sgdocs AS (SELECT doc_id, w FROM swords WHERE {arr_len('w', dialect)} >= {w}),
sgrams AS (SELECT doc_id, pos, substr(md5({gram}), 1, 16) AS h FROM sgdocs {lat}),
sshared AS (SELECT h FROM sgrams GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
shits AS (SELECT g.doc_id, g.pos FROM sgrams g JOIN sshared s ON g.h = s.h),
sruns AS (SELECT doc_id, pos, LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM shits),
sperdup AS (SELECT doc_id,
  CAST(SUM(CASE WHEN prev IS NULL THEN {w} ELSE LEAST({w}, pos - prev) END) AS BIGINT) AS dup_words
  FROM sruns GROUP BY doc_id),
sperdoc AS (SELECT d.doc_id, d.source, d.n_words,
  COALESCE(p.dup_words, 0) AS dup_words
  FROM sdoclen d LEFT JOIN sperdup p ON d.doc_id = p.doc_id)"""


def substring_dedup_sql(dialect: str, w: int = 8) -> str:
    """Substring-LEVEL duplication audit — the distributed, bounded-window
    form of suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a word position is
    DUPLICATED when some ``w``-word window covering it appears verbatim in
    at least one OTHER document.  Exact suffix arrays are inherently
    sequential; the fixed-window form distributes: hash every w-gram (one
    explode), find grams present in ≥2 distinct docs (a digest-only
    shuffle — text never travels twice), keep the sparse shared START
    positions, and turn starts into covered-position counts with a
    per-doc interval union — all windows have width ``w`` and starts come
    sorted, so the union is ``SUM(LEAST(w, pos − LAG(pos)))`` with the
    first run charging ``w``: no per-position table is ever materialized,
    the only full-width frame is the gram explode itself.  Per-source
    report: duplicated-token fraction, docs affected, docs majority-
    duplicated — the numbers that decide whether substring dedup (vs
    doc-level) is worth running on a corpus.

    Complements `dedup_chunk_passages` (disjoint 3-word chunks: cheap,
    alignment-sensitive) with the sliding form that catches duplication
    at ANY offset, at w× the gram count."""
    return f"""
WITH {substring_perdoc_ctes(dialect, w)}
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_words) AS BIGINT) AS n_words,
  CAST(SUM(dup_words) AS BIGINT) AS dup_words,
  ROUND(CAST(SUM(dup_words) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE), 6) AS dup_frac,
  CAST(SUM(CASE WHEN dup_words > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
  CAST(SUM(CASE WHEN dup_words * 2 > n_words THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_majority
FROM sperdoc GROUP BY source
"""


def substring_scrub_sql(dialect: str, w: int = 8) -> str:
    """The ACTIONABLE form of :func:`substring_dedup_sql` — not just the
    audit but the transform: rewrite each affected document with its
    duplicated positions removed, keeping ONE canonical occurrence of
    every shared span (per shared gram the smallest doc_id is the owner
    and keeps its text; only non-owner occurrences are scrubbed) —
    all-but-one removal, what Lee et al.'s substring dedup DOES to a
    corpus rather than reports about it, and the same keep-one
    discipline as `dedup_keep_best_quality`.  Output per AFFECTED doc:
    word counts and the md5 fingerprint of the scrubbed text — the
    fingerprint proves both engines reconstruct the identical
    post-scrub document, word order included.

    Reconstruction needs per-position coverage, so this op pays the
    corpus-width position explode the audit avoids (audit: sparse
    interval union; scrub: dense rebuild — run the audit first, scrub
    only when the dup fraction warrants it).  Coverage spreads from the
    sparse shared starts with one per-doc windowed MAX; the ordered
    rebuild is ``string_agg(word ORDER BY pos)`` on DuckDB and a
    collect-sort-transform on Spark (identical strings by
    construction)."""
    lat_g = lateral_seq("1", f"{arr_len('w', dialect)} - {w - 1}", "pos", dialect)
    lat_all = lateral_seq("1", arr_len("w", dialect), "pos", dialect)
    gram = arr_slice_join("w", "pos", w, " ", dialect)
    word = arr_el("w", "pos", dialect)
    ws = split_ws("lower(text)", dialect)
    if dialect == SPARK:
        rebuild = (
            "concat_ws(' ', transform(array_sort(collect_list("
            "named_struct('pos', pos, 'kw', word)) "
            "FILTER (WHERE covered = 0)), s -> s.kw))"
        )
    else:
        rebuild = "string_agg(word, ' ' ORDER BY pos) FILTER (WHERE covered = 0)"
    return f"""
WITH words AS (SELECT /*+ REPARTITION(32) */ doc_id, {ws} AS w FROM documents),
gdocs AS (SELECT doc_id, w FROM words WHERE {arr_len('w', dialect)} >= {w}),
grams AS (SELECT doc_id, pos, substr(md5({gram}), 1, 16) AS h FROM gdocs {lat_g}),
shared AS (
  SELECT h, CAST(MIN(doc_id) AS BIGINT) AS owner
  FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
hits AS (
  SELECT g.doc_id, g.pos, 1 AS f
  FROM grams g JOIN shared s ON g.h = s.h WHERE g.doc_id <> s.owner),
positions AS (SELECT doc_id, pos, {word} AS word FROM words {lat_all}),
cov AS (
  SELECT p.doc_id, p.pos, p.word,
    MAX(COALESCE(hh.f, 0)) OVER (PARTITION BY p.doc_id ORDER BY p.pos
      ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS covered
  FROM positions p LEFT JOIN hits hh ON hh.doc_id = p.doc_id AND hh.pos = p.pos),
perdoc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
    CAST(SUM(covered) AS BIGINT) AS n_removed,
    md5(COALESCE({rebuild}, '')) AS scrubbed_fp
  FROM cov GROUP BY doc_id)
SELECT doc_id, n_words, n_removed, scrubbed_fp
FROM perdoc WHERE n_removed > 0
"""


__all__ = [
    "exact_dedup_sql",
    "substring_dedup_sql",
    "substring_perdoc_ctes",
    "substring_scrub_sql",
    "incremental_dedup_sql",
    "lsh_index_build",
    "lsh_index_append",
    "lsh_index_compact",
    "lsh_index_probe",
    "decontamination_sql",
    "dedup_rate_trend_sql",
    "minhash_signature_sql",
    "minhash_lsh_pairs_sql",
    "crosslingual_lsh_pairs_sql",
    "simhash_sql",
    "simhash_candidates_sql",
    "ngram_jaccard_pairs_sql",
    "source_overlap_matrix_sql",
    "source_overlap_matrix",
    "N_HASHES",
    "N_BANDS",
    "ROWS_PER_BAND",
    "SPARK",
    "DUCK",
]


def source_overlap_matrix_sql(dialect: str) -> str:
    """Pairwise cross-SOURCE contamination matrix — `decontamination_sql`
    generalized from one held-out source to every source pair: distinct
    word-3-gram shingle sets per source, pairwise intersection sizes, and
    Jaccard — the grid a curation run reads to find which corpora leak
    into which (common-crawl snapshots sharing boilerplate, an eval set
    contaminating multiple training sources).  At 100 TB the shuffles
    carry (source, shingle-digest) pairs — |sources|·|distinct shingles|
    rows, never text — and the shingle self-join is source-blocked by
    the ``a.source < b.source`` triangle; a hot-shingle ``max_df`` cap
    (the `minhash_lsh_pairs_sql` guard) applies unchanged if a corpus
    has degenerate boilerplate shingles.  Jaccard here is exact — the
    MinHash entries ESTIMATE this same quantity per doc pair; the matrix
    is small enough (|sources|²) to afford exactness."""
    return (
        f"WITH {_words_cte(dialect)}, {_shingles_cte(dialect)}, "
        "ss AS (SELECT DISTINCT d.source, s.sh "
        "  FROM shingles s JOIN documents d ON d.doc_id = s.doc_id), "
        "sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n "
        "  FROM ss GROUP BY source), "
        "inter AS (SELECT a.source AS source_a, b.source AS source_b, "
        "  CAST(COUNT(*) AS BIGINT) AS n_common "
        "  FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source "
        "  GROUP BY a.source, b.source) "
        "SELECT i.source_a, i.source_b, sa.n AS n_a, sb.n AS n_b, i.n_common, "
        "ROUND(i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE), 6) "
        "  AS jaccard "
        "FROM inter i "
        "JOIN sizes sa ON sa.source = i.source_a "
        "JOIN sizes sb ON sb.source = i.source_b"
    )


def _source_shingles_sql(dialect: str) -> str:
    """``SELECT DISTINCT source, sh`` — the shared per-source shingle
    set both the matrix SQL and its DataFrame form build on."""
    return (
        f"WITH {_words_cte(dialect)}, {_shingles_cte(dialect)} "
        "SELECT DISTINCT d.source, s.sh "
        "FROM shingles s JOIN documents d ON d.doc_id = s.doc_id"
    )


def source_overlap_matrix(spark):
    """DataFrame form of :func:`source_overlap_matrix_sql` — identical
    result, but the distinct (source, shingle) set is eagerly
    checkpointed ONCE and reused by the sizes aggregate and both sides
    of the triangle self-join.  Spark inlines SQL CTEs, so the text form
    recomputes the whole shingle chain for each of its three references
    (measured 19 exchanges vs 4 here) — the same trap documented on
    `theta_sketch_intersection`; the SQL text remains the oracle."""
    from pyspark.sql import functions as F

    ss = spark.sql(_source_shingles_sql(SPARK)).localCheckpoint(eager=True)
    sizes = ss.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = ss.select(F.col("source").alias("source_a"), "sh")
    b = ss.select(F.col("source").alias("source_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------- #
# exact set-similarity join via prefix filtering (AllPairs / PPJoin)
# --------------------------------------------------------------------- #

def prefix_filter_jaccard_oracle_sql(dialect: str) -> str:
    """Brute-force EXACT word-3-gram Jaccard >= 1/2 pairs: every pair of
    documents sharing at least one shingle, verified against the integer
    threshold form ``3*i >= na + nb`` (J >= 1/2  <=>  2i >= na+nb-i).
    No stop-shingle cut and no language block — the full exact-join
    semantics that :func:`prefix_filter_jaccard_pairs` must reproduce
    losslessly.  This text is the ORACLE; it is the formulation whose
    shared-shingle fan-out the prefix filter exists to avoid at scale."""
    return (
        f"WITH {_words_cte(dialect)}, {_shingles_cte(dialect)}, "
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "    CAST(COUNT(*) AS BIGINT) AS i "
        "  FROM shingles a JOIN shingles b "
        "  ON a.sh = b.sh AND a.doc_id < b.doc_id "
        "  GROUP BY a.doc_id, b.doc_id) "
        "SELECT doc_a, doc_b, i, "
        "  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b, "
        "  ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = doc_a "
        "JOIN sizes sb ON sb.doc_id = doc_b "
        "WHERE 3 * i >= sa.n + sb.n"
    )


def prefix_filter_candidate_ctes(sh_view: str) -> str:
    """The prefix-filter candidate-generation CTE chain over a
    (doc_id, sh) relation ``sh_view`` — sizes, global-rarity ordering,
    per-doc prefixes, and the prefix-to-prefix candidate join with the
    length filter, ending at a CTE named ``cand`` (doc_a, doc_b, n_a,
    n_b).  ONE copy of the candidate rule: the pairs operator composes
    it with the exact verify; the pruning pin in test_round9b counts
    ``cand`` through the same text, so a change to the prefix rule
    cannot silently diverge from what the pin covers."""
    return f"""sizes AS (SELECT doc_id, COUNT(*) AS n FROM {sh_view} GROUP BY doc_id),
df AS (SELECT sh, COUNT(*) AS df FROM {sh_view} GROUP BY sh),
ordered AS (
  SELECT s.doc_id, s.sh, z.n,
    ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.sh) AS rn
  FROM {sh_view} s JOIN df d ON d.sh = s.sh JOIN sizes z ON z.doc_id = s.doc_id),
prefix AS (
  SELECT doc_id, sh, n FROM ordered
  WHERE rn <= n - CAST(CEIL(n / 2.0) AS BIGINT) + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    a.n AS n_a, b.n AS n_b
  FROM prefix a JOIN prefix b
  ON a.sh = b.sh AND a.doc_id < b.doc_id
  WHERE GREATEST(a.n, b.n) <= 2 * LEAST(a.n, b.n))"""


def prefix_filter_jaccard_pairs(spark):
    """EXACT Jaccard >= 1/2 similarity join via PREFIX FILTERING (the
    AllPairs/PPJoin candidate rule; Bayardo et al., WWW'07; Xiao et al.,
    WWW'08) — the scalable exact alternative to both the approximate
    MinHash-LSH candidates and the oracle's brute shared-shingle join:

    1. order each document's shingles by GLOBAL rarity (ascending
       document frequency, shingle as tie-break) — one deterministic
       total order shared by all documents;
    2. keep each document's PREFIX: the first ``n - ceil(n/2) + 1``
       shingles.  Any pair with J >= 1/2 has overlap >= ceil(n/2) on
       its smaller side, so both prefixes must contain a common shingle
       (the standard lossless guarantee) — candidates are generated by
       a prefix-to-prefix self-join, never the full sets;
    3. length filter: J >= 1/2 forces max(na, nb) <= 2 * min(na, nb);
    4. verify candidates EXACTLY against the full shingle sets with the
       integer threshold ``3*i >= na + nb`` (no float boundary).

    Scale shape: prefixes are built from each document's RAREST
    shingles, so the self-join key distribution is the inverse of the
    boilerplate skew that blows up the brute join — a shingle shared by
    every document lands in nobody's prefix.  The per-document ordering
    window is bounded by document size; the verify join touches
    candidate pairs only.  The shingle table feeds four consumers
    (sizes, df, both join sides, verify) so it is checkpointed once
    (Spark re-inlines CTEs).  Identical output to the brute oracle by
    the losslessness of steps 2-3."""
    from ..session import register_temp_view

    sh = spark.sql(
        f"WITH {_words_cte(SPARK)}, {_shingles_cte(SPARK)} "
        "SELECT doc_id, sh FROM shingles"
    ).localCheckpoint(eager=True)
    v = register_temp_view(sh, "_pfx_sh")
    cand = spark.sql(
        f"WITH {prefix_filter_candidate_ctes(v)} "
        "SELECT doc_a, doc_b, n_a, n_b FROM cand"
    )
    # exact verify via per-doc set arrays (one array_intersect per
    # candidate, no candidate×shingle expansion join) — shared with the
    # persisted store's reads, see _setjoin_verify_exact
    sets = _setjoin_doc_sets(sh).localCheckpoint(eager=True)
    return _setjoin_verify_exact(cand, sets, sets)


# --------------------------------------------------------------------- #
# Persisted EXACT set-similarity (prefix-filter) index — r10.  The LSH
# index above answers "probably similar" from MinHash bucket keys; this
# store answers the EXACT Jaccard >= 1/2 join incrementally, the way
# the AllPairs/PPJoin family is deployed in production dedup loops:
#
#   shingles/  (doc_id, sh)      full shingle SETS (the verify side)
#   order/     (sh, df)          the FROZEN global-rarity order
#   prefix/    (doc_id, sh, n)   each doc's prefix under that order
#
# Losslessness under increments: the prefix guarantee only needs ALL
# documents' prefixes built under ONE total order.  Build freezes the
# order at (df_at_build, sh); appended docs rank their shingles under
# the SAME frozen table with COALESCE(df, 0) for unseen shingles —
# a total order that RESTRICTS to the build order on old shingles, so
# old prefixes remain valid verbatim and the candidate rule stays
# lossless across any append sequence.  Compaction re-freezes: it
# recomputes df over the whole store and rebuilds every prefix — the
# PAIRS RESULT IS BIT-IDENTICAL before and after (losslessness does
# not depend on WHICH total order, only on consistency), the store's
# merge-law analogue.  All verbs are deterministic functions of their
# slice, so replayed appends write byte-identical rows absorbed by the
# DISTINCT reads (SET class).  At 100 TB: appends shingle only the
# increment; pairs/probe joins touch prefix rows (rarest shingles —
# the inverse of boilerplate skew) and candidate pairs, never the
# corpus text.
# --------------------------------------------------------------------- #


def _shingle_rel(spark, table_expr: str):
    """(doc_id, sh) DISTINCT word-3-gram shingle sets of ``table_expr``
    (a table name or an aliased subquery), eagerly checkpointed — every
    index verb fans it into several consumers."""
    return spark.sql(
        f"WITH {_words_cte(SPARK, table=table_expr)}, {_shingles_cte(SPARK)} "
        "SELECT doc_id, sh FROM shingles"
    ).localCheckpoint(eager=True)


def _prefix_under_order(sh, order):
    """Per-doc prefixes of the (doc_id, sh) relation ``sh`` under the
    frozen (df, sh) order table ``order``: (doc_id, sh, n) rows, prefix
    length n - ceil(n/2) + 1 (the J >= 1/2 rule).  The rank window is
    per-document — bounded by document size, never corpus size."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    keyed = sh.join(order, "sh", "left").select(
        "doc_id", "sh", F.coalesce("df", F.lit(0)).alias("k")
    )
    n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("doc_id").orderBy("k", "sh")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .join(n, "doc_id")
        .filter(F.col("rn") <= F.col("n") - F.ceil(F.col("n") / 2) + 1)
        .select("doc_id", "sh", "n")
    )


def setjoin_index_build(spark, path: str, table_expr: str) -> None:
    """Materialize the index for ``table_expr``: shingle sets, the
    frozen rarity order (df at build time), and every doc's prefix
    under it.  Clears the whole store dir first — a store is BORN
    fresh, so stale side state from a prior life (tombstones, a
    retention marker) must not leak into it (r11 review)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    shutil.rmtree(path, ignore_errors=True)
    sh = _shingle_rel(spark, table_expr)
    order = sh.groupBy("sh").agg(F.count(F.lit(1)).cast("long").alias("df"))
    order.write.mode("overwrite").parquet(os.path.join(path, "order"))
    order = read_parquet(spark, os.path.join(path, "order"))
    # r17 (VERDICT #3): the verify-side doc-set arrays are STORE STATE —
    # maintained here and by append/compact — so the pairs read joins
    # pre-built sets instead of re-grouping the corpus shingles per read.
    # All three writes read the ONE checkpointed shingle relation (order
    # is already on disk) — run them concurrently (guide §2.6), so the
    # extra sets/ write rides the other writes' tails instead of adding
    # a serial action.
    parallel_store_writes(
        lambda: sh.write.mode("overwrite").parquet(os.path.join(path, "shingles")),
        lambda: _prefix_under_order(sh, order)
        .write.mode("overwrite")
        .parquet(os.path.join(path, "prefix")),
        lambda: _setjoin_doc_sets(sh)
        .write.mode("overwrite")
        .parquet(os.path.join(path, "sets")),
    )


def setjoin_index_append(spark, path: str, table_expr: str, sh=None) -> None:
    """Incremental maintenance: shingle ONLY the increment, rank it
    under the FROZEN order (unseen shingles get df 0 — still one
    consistent total order, see module comment), and append shingle +
    prefix rows.  Deterministic => replay-safe under the DISTINCT
    reads.  ``sh`` lets a probe-then-append loop reuse ONE checkpointed
    shingle relation instead of re-exploding the batch per verb."""
    import os

    if sh is None:
        sh = _shingle_rel(spark, table_expr)
    order = read_parquet(spark, os.path.join(path, "order"))
    writes = [lambda: sh.write.mode("append").parquet(os.path.join(path, "shingles"))]
    # increment-sized set rows; replays write duplicate rows the read's
    # union-merge absorbs.  Only maintained when the store HAS a sets/
    # relation — appending increments into a legacy store without one
    # would leave it incomplete and silently wrong on read.
    if _setjoin_has_sets(path):
        writes.append(
            lambda: _setjoin_doc_sets(sh)
            .write.mode("append")
            .parquet(os.path.join(path, "sets"))
        )
    # the verify-side writes overlap (guide §2.6); prefix/ — the only
    # candidate-generating relation — lands only after both succeeded,
    # so a failed append can never leave candidates whose verify rows
    # are missing (they would be dropped silently until a replay)
    parallel_store_writes(*writes)
    _prefix_under_order(sh, order).write.mode("append").parquet(
        os.path.join(path, "prefix")
    )


def setjoin_index_compact(spark, path: str) -> None:
    """Maintenance pass: re-DISTINCT the shingle store, RE-FREEZE the
    order (df over the whole corpus) and rebuild every prefix under it.
    The pairs result is bit-identical before/after — the prefix rule is
    lossless under ANY single total order — while candidate counts may
    shrink (fresh df concentrates rarity better than frozen-df-0 for
    append-era shingles)."""
    import os

    from pyspark.sql import functions as F

    subs = ("shingles", "order", "prefix", "sets")
    with staged_swap(*[os.path.join(path, sub) for sub in subs]) as tmps:
        sh = _setjoin_retained(
            spark, path, read_parquet(spark, os.path.join(path, "shingles"))
        ).distinct()
        sh = sh.localCheckpoint(eager=True)
        order = sh.groupBy("sh").agg(F.count(F.lit(1)).cast("long").alias("df"))
        order = order.localCheckpoint(eager=True)
        rels = (
            sh,
            order,
            _prefix_under_order(sh, order),
            # re-freeze also collapses sets/ back to one row per doc (and
            # heals a legacy store that never had the relation)
            _setjoin_doc_sets(sh),
        )
        # every tmp write reads only the two checkpointed relations —
        # write them concurrently (guide §2.6), then swap sequentially
        # (renames are instant; readers see each sub-relation absent
        # only between its own two renames)
        parallel_store_writes(
            *[
                lambda d=df, t=tmp: d.write.mode("overwrite").parquet(t)
                for df, tmp in zip(rels, tmps)
            ]
        )


def _setjoin_doc_sets(sh):
    """(doc_id, shs) — each document's DISTINCT shingle set packed into
    one array row, the verify-side relation for the exact-intersection
    check.  Bounded by document size, never corpus size.  ``collect_set``
    dedups INSIDE the aggregation, so callers need no upstream DISTINCT
    (one exchange instead of two) — replayed store appends still absorb."""
    from pyspark.sql import functions as F

    return sh.groupBy("doc_id").agg(F.collect_set("sh").alias("shs"))


def _setjoin_merge_sets(sets):
    """Union-merge persisted per-doc set rows to ONE set per doc:
    ``array_distinct(flatten(collect_list(shs)))`` — a replayed append's
    duplicate row and a doc whose shingles arrived across several
    appends both collapse to exactly the set ``collect_set`` over the
    doc's shingle rows would build (set union is set union), so reads
    from the persisted ``sets/`` relation are value-identical to the
    shingle-grouping formulation (pinned by the store laws)."""
    from pyspark.sql import functions as F

    return sets.groupBy("doc_id").agg(
        F.array_distinct(F.flatten(F.collect_list("shs"))).alias("shs")
    )


def _setjoin_has_sets(path: str) -> bool:
    """True when the store has a ``sets/`` relation holding data files —
    the ONE predicate both the append (maintain it?) and the reads
    (serve from it?) use, so they can never disagree on it."""
    import os

    d = os.path.join(path, "sets")
    return os.path.isdir(d) and any(f.endswith(".parquet") for f in os.listdir(d))


def _setjoin_sets_raw(spark, path: str):
    """The persisted (doc_id, shs) set rows (retention-filtered), or
    ``None`` for a store without a ``sets/`` relation — the reads then
    fall back to grouping the shingle rows, so a pre-r17 store stays
    fully served (and the next compact/purge heals it by rebuilding
    ``sets/`` from the shingle relation)."""
    import os

    if not _setjoin_has_sets(path):
        return None
    return _setjoin_retained(spark, path, read_parquet(spark, os.path.join(path, "sets")))


def _setjoin_verify_exact(cand, sets_a, sets_b, broadcast_sets=False):
    """EXACT verification of (doc_a, doc_b, n_a, n_b) candidate pairs
    against per-document shingle-set arrays: i = |A ∩ B| via one
    ``array_intersect`` per pair, thresholded with the integer rule
    ``3*i >= n_a + n_b``.  One copy of the verify step, shared by the
    one-shot join, the store pairs/scrubbed reads and the probe.

    r16: replaces the candidate×shingle expansion join (every pair was
    re-joined against both docs' full shingle rows and re-aggregated —
    a |cand|·|set| intermediate).  The array form does the same exact
    intersection per candidate with no expansion, no re-aggregation:
    verify work is candidate-bounded on both paths, but without the
    16M-row shuffle the old shape paid at sf0.1 (measured 1.7× faster;
    identical output — set intersection is set intersection).

    ``broadcast_sets``: the probe passes candidate-bounded set
    relations (semi-joined to the candidate doc ids first), small by
    construction — broadcast them so the verify join never shuffles."""
    from pyspark.sql import functions as F

    hint = F.broadcast if broadcast_sets else (lambda d: d)
    return (
        cand.join(hint(sets_a.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shs", "_sa")), "doc_a")
        .join(hint(sets_b.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shs", "_sb")), "doc_b")
        .withColumn("i", F.size(F.array_intersect("_sa", "_sb")).cast("long"))
        .filter(3 * F.col("i") >= F.col("n_a") + F.col("n_b"))
        .select(
            "doc_a",
            "doc_b",
            "i",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("i").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("i")), 6
            ).alias("jaccard"),
        )
    )


def _setjoin_pairs_from(spark, sh, pref, sets=None):
    """The EXACT Jaccard >= 1/2 join from a (doc_id, sh) shingle relation
    and a (doc_id, sh, n) prefix relation (both already deduplicated):
    prefix-to-prefix candidates (+ length filter), verified against the
    full shingle sets — ONE copy of the store's read SQL, shared by the
    plain and tombstone-scrubbed reads.  ``sets`` (r17): pre-merged
    per-doc set arrays from the persisted ``sets/`` relation; when given,
    the shingle relation is not touched (``sh`` may be None)."""
    from pyspark.sql import functions as F

    from ..session import register_temp_view

    # the doc-set relation feeds BOTH verify sides — checkpoint it once
    if sets is None:
        sets = _setjoin_doc_sets(sh)
    sets = sets.localCheckpoint(eager=True)
    vp = register_temp_view(pref, "_sjx_pref")
    cand = spark.sql(
        f"""
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
  a.n AS n_a, b.n AS n_b
FROM {vp} a JOIN {vp} b
ON a.sh = b.sh AND a.doc_id < b.doc_id
WHERE GREATEST(a.n, b.n) <= 2 * LEAST(a.n, b.n)
"""
    )
    return _setjoin_verify_exact(cand, sets, sets)


def setjoin_index_pairs(spark, path: str):
    """The EXACT Jaccard >= 1/2 join answered from the store alone —
    (doc_a, doc_b, i, n_a, n_b, jaccard), identical to the one-shot
    ``prefix_filter_jaccard_pairs`` and to the brute shared-shingle
    oracle, whatever build/append/replay sequence produced the store.
    Both store sides read with replay absorption (prefix DISTINCT; the
    set side union-merges the persisted per-doc set rows — r17: the
    verify sets come from the store's ``sets/`` relation, so the read
    no longer re-groups the corpus-scale shingle relation; a legacy
    store without ``sets/`` falls back to it); the corpus text is never
    rescanned."""
    import os

    pref = _setjoin_retained(
        spark, path, read_parquet(spark, os.path.join(path, "prefix"))
    ).distinct()
    raw_sets = _setjoin_sets_raw(spark, path)
    if raw_sets is not None:
        return _setjoin_pairs_from(
            spark, None, pref, sets=_setjoin_merge_sets(raw_sets)
        )
    sh = _setjoin_retained(
        spark, path, read_parquet(spark, os.path.join(path, "shingles"))
    )
    return _setjoin_pairs_from(spark, sh, pref)


# Broadcast guard for the probe verify (r16 VERDICT #6): the
# candidate-bounded set relations are "small by construction" only while
# a probe batch matches a bounded slice of the store — a batch of
# common-shingle docs can pull a large store fraction through prefix
# blocking, and a FORCED broadcast then OOMs the driver/executors.  The
# probe therefore sums the candidate docs' set sizes (exact, one tiny
# action on the checkpointed candidate relation — the pair-level sum
# overcounts hub docs ~75x at sf0.1, so the distinct-doc sum is the
# usable signal) and only hints broadcast under this many shingles
# (~250 MB at ~60 B/shingle — guide §3.1's comfortable broadcast zone;
# the sf0.1 fixture probe measures ~258k).  Above it the hints drop and
# AQE picks the strategy from the semi-join's runtime stats.
_SETJOIN_PROBE_BROADCAST_SHINGLES = 4_000_000


def setjoin_index_probe(spark, path: str, table_expr: str, sh=None, exclude=None):
    """Adjudicate a NEW batch against the index WITHOUT mutating it —
    the exact-join analogue of ``lsh_index_probe`` (probe first, append
    after the keep decision): every (corpus_doc, batch_doc) pair with
    exact Jaccard >= 1/2, canonicalized to (doc_a < doc_b).  The batch
    ranks its prefixes under the store's FROZEN order (one consistent
    total order across both sides — the losslessness precondition),
    candidates come from the batch-prefix × store-prefix join, and the
    verify joins batch shingles against store shingles for candidate
    pairs only.  Corpus set sizes are read from the prefix rows'
    carried ``n`` (no store-side recount); the corpus text is never
    rescanned.  Batch work is |batch|-sized: at 100 TB the probe costs
    the increment, not the corpus.

    ``exclude`` (a doc_id DataFrame) drops the listed docs from BOTH
    store relations for this probe only — the crawl loop passes the
    current batch's ids so a replayed trigger whose append committed
    but whose streaming checkpoint did not re-adjudicates against the
    store AS IT WAS (probe-level replay idempotence; r10 ADVICE)."""
    import os

    from pyspark.sql import functions as F

    from ..session import register_temp_view

    # bsh feeds TWO consumers (the prefix build and the verify join) —
    # checkpointed by _shingle_rel.  bpref/spref/ssh are each consumed
    # ONCE: they stay lazy so the store scans prune to candidate work
    # instead of materializing corpus-scale relations per probe (r10
    # review finding).
    bsh = sh if sh is not None else _shingle_rel(spark, table_expr)
    order = read_parquet(spark, os.path.join(path, "order"))
    bpref = _prefix_under_order(bsh, order)
    spref = _setjoin_retained(
        spark, path, read_parquet(spark, os.path.join(path, "prefix"))
    ).distinct()
    # store verify side (r17): the persisted sets/ rows when the store
    # has them — the probe then never scans the corpus-scale shingle
    # relation; union-merge after the candidate semi-join keeps replay
    # absorption.  Legacy fallback: group the shingle rows (no
    # .distinct(): collect_set dedups inside the aggregation).
    raw_sets = _setjoin_sets_raw(spark, path)
    ssh = (
        None
        if raw_sets is not None
        else _setjoin_retained(
            spark, path, read_parquet(spark, os.path.join(path, "shingles"))
        )
    )
    if exclude is not None:
        exc = exclude.select("doc_id").distinct()
        spref = spref.join(F.broadcast(exc), "doc_id", "left_anti")
        if raw_sets is not None:
            raw_sets = raw_sets.join(F.broadcast(exc), "doc_id", "left_anti")
        else:
            ssh = ssh.join(F.broadcast(exc), "doc_id", "left_anti")
    vbp = register_temp_view(bpref, "_sjp_bpref")
    vsp = register_temp_view(spref, "_sjp_spref")
    # three consumers (two id sides + the verify join) and bounded by
    # the prefix blocking — checkpoint the candidate pairs once
    cand = spark.sql(
        f"""
SELECT DISTINCT s.doc_id AS cdoc, b.doc_id AS bdoc,
  s.n AS n_c, b.n AS n_b
FROM {vsp} s JOIN {vbp} b ON s.sh = b.sh
WHERE GREATEST(s.n, b.n) <= 2 * LEAST(s.n, b.n)
"""
    ).localCheckpoint(eager=True)
    # broadcast guard (r16 VERDICT #6): exact candidate-doc set-size sum
    # over the checkpointed candidates — cheap, and the safe direction
    # is a fallback to AQE-planned joins, never a forced huge broadcast.
    # Grouped per side: a batch doc that shares a store doc's id is a
    # second set, so it must add its own size
    est = (
        cand.selectExpr("0 AS side", "cdoc AS d", "n_c AS n")
        .union(cand.selectExpr("1 AS side", "bdoc AS d", "n_b AS n"))
        .groupBy("side", "d")
        .agg(F.max("n").alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    ) or 0
    small = est <= _SETJOIN_PROBE_BROADCAST_SHINGLES
    hint = F.broadcast if small else (lambda d: d)
    # exact verify on candidate pairs via per-doc set arrays — built for
    # CANDIDATE docs only (broadcast semi-join first), so the store's
    # shingle relation is never grouped corpus-wide per probe: probe
    # verify work stays |batch|-bounded however large the store
    # no .distinct() on the id sides: a broadcast semi-join build side
    # dedups in the hashed relation for free
    cand_cdocs = cand.select(F.col("cdoc").alias("doc_id"))
    if raw_sets is not None:
        sets_s = _setjoin_merge_sets(
            raw_sets.join(hint(cand_cdocs), "doc_id", "left_semi")
        )
    else:
        sets_s = _setjoin_doc_sets(
            ssh.join(hint(cand_cdocs), "doc_id", "left_semi")
        )
    sets_b = _setjoin_doc_sets(
        bsh.join(
            hint(cand.select(F.col("bdoc").alias("doc_id"))),
            "doc_id",
            "left_semi",
        )
    )
    verified = _setjoin_verify_exact(
        cand.select(
            F.col("cdoc").alias("doc_a"),
            F.col("bdoc").alias("doc_b"),
            F.col("n_c").alias("n_a"),
            F.col("n_b"),
        ),
        sets_s,
        sets_b,
        broadcast_sets=small,
    )
    return verified.select(
        F.least("doc_a", "doc_b").alias("_da"),
        F.greatest("doc_a", "doc_b").alias("_db"),
        "i",
        F.when(F.col("doc_a") < F.col("doc_b"), F.col("n_a"))
        .otherwise(F.col("n_b"))
        .alias("_na"),
        F.when(F.col("doc_a") < F.col("doc_b"), F.col("n_b"))
        .otherwise(F.col("n_a"))
        .alias("_nb"),
        "jaccard",
    ).select(
        F.col("_da").alias("doc_a"),
        F.col("_db").alias("doc_b"),
        "i",
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        "jaccard",
    )


# --------------------------------------------------------------------- #
# setjoin tombstone deletion (r10) — right-to-be-forgotten for the TEXT
# index, the exact-join sibling of the bitmap store's tombstone verbs
# (bitmap_store.py).  Deleted doc_ids are appended under the dot-prefixed
# ``.tombstones`` side dir (invisible to partition discovery, the same
# rule the compaction staging dirs rely on) and anti-joined out of BOTH
# store relations BEFORE candidate generation, so the scrubbed read is
# definitionally the rebuild-over-survivors answer: a pair's candidates
# and verify touch only its two docs' rows, so deleting a doc cannot
# perturb surviving pairs.  SET merge class: the tombstone read is
# DISTINCT, so replayed or overlapping delete batches absorb, and
# deleting a doc the store never saw is a no-op.  The physical purge
# drops the tombstoned rows from shingles/ and prefix/ and removes the
# tombstone table — the frozen order/ is untouched (losslessness needs
# only ONE consistent total order; re-freezing is compaction's job).
# --------------------------------------------------------------------- #

_SETJOIN_TOMBSTONE_DIR = ".tombstones"


_SETJOIN_RETENTION_FILE = ".retention"


def setjoin_index_expire(path: str, before_doc_id: int) -> None:
    """Retention cutoff for the set-similarity index — drop every doc
    with ``doc_id < before_doc_id`` (ids are ingestion-ordered, so an
    id cutoff IS the time cutoff), METADATA-ONLY: writes a monotone
    store-root marker, no scan, no partition rewrite — O(1) however
    large the store, exactly like the day-partitioned stores' directory
    expiry (``rollup_expire``).  Every read (pairs / scrubbed pairs /
    probe / compact) filters ``doc_id >= cutoff`` BEFORE candidate
    generation — parquet min/max pruning skips whole expired row groups
    for free — so expired docs generate no candidates and the result
    equals the rebuild over the retained docs (pinned in
    tests/test_round11.py).  Physical reclaim rides the next COMPACT
    (which re-freezes over survivors only); the marker persists so a
    late append of pre-cutoff docs stays excluded — retention is a
    policy, not a one-shot delete."""
    _write_int_marker_monotone(path, _SETJOIN_RETENTION_FILE, before_doc_id)


def _setjoin_retained(spark, path: str, df):
    """Apply the retention cutoff (if any) to a store-side relation."""
    cut = _read_int_marker(path, _SETJOIN_RETENTION_FILE)
    if cut is not None:
        from pyspark.sql import functions as F

        df = df.filter(F.col("doc_id") >= cut)
    return df


def setjoin_index_delete(ids, path: str) -> None:
    """Tombstone every ``doc_id`` in ``ids``: a side-table append — no
    store partition is rewritten, and the deletion applies retroactively
    to every scrubbed read.  Idempotent under replay (SET class)."""
    import os

    from pyspark.sql import functions as F

    ids.select(F.col("doc_id").cast("long").alias("doc_id")).distinct().write.mode(
        "append"
    ).parquet(os.path.join(path, _SETJOIN_TOMBSTONE_DIR))


def _setjoin_tombstones(spark, path: str):
    """The DISTINCT tombstoned doc_ids, or an empty relation when the
    store was never deleted from (or was purged)."""
    import os

    tomb = os.path.join(path, _SETJOIN_TOMBSTONE_DIR)
    if os.path.isdir(tomb) and any(
        f.endswith(".parquet") for f in os.listdir(tomb)
    ):
        return read_parquet(spark, tomb).distinct()
    return spark.createDataFrame([], "doc_id long")


def setjoin_index_pairs_scrubbed(spark, path: str):
    """:func:`setjoin_index_pairs` EXCLUDING every tombstoned doc: both
    store relations are anti-joined against the broadcast tombstone set
    BEFORE the candidate join, so deleted docs generate no candidates at
    all (not merely filtered from the output) and the result equals the
    rebuild over the surviving corpus exactly.  Plans read pruned store
    files + the tiny tombstone side table; never the corpus text."""
    import os

    from pyspark.sql import functions as F

    # TWO consumers (both anti-joins) — checkpoint the tiny DISTINCT
    # once instead of re-shuffling it per join side
    tomb = _setjoin_tombstones(spark, path).localCheckpoint(eager=True)
    pref = (
        _setjoin_retained(spark, path, read_parquet(spark, os.path.join(path, "prefix")))
        .distinct()
        .join(F.broadcast(tomb), "doc_id", "left_anti")
    )
    raw_sets = _setjoin_sets_raw(spark, path)
    if raw_sets is not None:
        scrubbed = raw_sets.join(F.broadcast(tomb), "doc_id", "left_anti")
        return _setjoin_pairs_from(
            spark, None, pref, sets=_setjoin_merge_sets(scrubbed)
        )
    sh = (
        _setjoin_retained(spark, path, read_parquet(spark, os.path.join(path, "shingles")))
        .join(F.broadcast(tomb), "doc_id", "left_anti")
    )
    return _setjoin_pairs_from(spark, sh, pref)


def setjoin_index_purge(spark, path: str) -> int:
    """PHYSICAL purge: drop every tombstoned doc's rows from shingles/
    and prefix/ and DROP the tombstone table — the compliance end-state
    (the deleted docs' shingles no longer exist on disk, not merely
    masked at read time).  Result-neutral: scrubbed-before ==
    scrubbed-after == plain-after (pinned in tests/test_round10.py).
    The frozen order/ keeps its stale df weights — any ONE total order
    preserves losslessness, and compaction is the verb that re-freezes.
    Returns the tombstoned id count purged."""
    import os
    import shutil

    from pyspark.sql import functions as F

    tomb = _setjoin_tombstones(spark, path).localCheckpoint(eager=True)
    n = tomb.count()
    for sub in ("shingles", "prefix"):
        with staged_swap(os.path.join(path, sub)) as (tmp,):
            (
                _setjoin_retained(
                    spark, path, read_parquet(spark, os.path.join(path, sub))
                )
                .distinct()
                .join(F.broadcast(tomb), "doc_id", "left_anti")
                .localCheckpoint(eager=True)  # fully read before the swap
                .write.mode("overwrite")
                .parquet(tmp)
            )
    # sets/ is rebuilt from the purged shingle relation (one row per
    # surviving doc — also heals a legacy store without the relation):
    # replayed set rows need not be byte-identical (collect_set array
    # order), so a row-level DISTINCT cannot collapse them like the
    # row-relations above
    with staged_swap(os.path.join(path, "sets")) as (tmp,):
        _setjoin_doc_sets(
            _setjoin_retained(
                spark, path, read_parquet(spark, os.path.join(path, "shingles"))
            )
        ).localCheckpoint(eager=True).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(os.path.join(path, _SETJOIN_TOMBSTONE_DIR), ignore_errors=True)
    return n


# --------------------------------------------------------------------- #
# Persisted SimHash signature index — r10, completing the dedup-index
# matrix: MinHash-LSH buckets (approximate Jaccard), the prefix-filter
# store (EXACT Jaccard), and now SimHash signatures (hamming-bounded
# near-dup).  A signature is 32 chars — the index is tiny relative to
# the corpus — and is a DETERMINISTIC function of the document, so
# appends are replay-safe under the DISTINCT reads (SET class).  The
# probe joins batch signatures against stored signatures on ANY shared
# quarter (the standard recall-oriented blocking), then verifies the
# exact hamming distance with 32 CASE terms — candidate-bounded work,
# the corpus text is never rescanned.
# --------------------------------------------------------------------- #

# 32 bits for the INDEX (the 16-bit size the calibration entries use
# collides quadratically as the corpus outgrows the signature space —
# measured 207k hamming<=1 pairs at sf0.1; at 32 bits an accidental
# h<=1 collision is ~1e-8 per pair, so surviving pairs are REAL
# near-dups and the output stays pair-bounded at scale)
_SIMHASH_NBITS = 32
_SIMHASH_NBANDS = 4


def _simhash_band_geometry(max_hamming: int) -> tuple[int, int]:
    """(nbands, band width) for a probe's hamming budget: pigeonhole
    needs only ``max_hamming + 1`` bands (h flips damage <= h of them),
    so h <= 1 probes use 2 SIXTEEN-bit halves — 256x more selective
    buckets than the 4 eight-bit quarters, at identical recall."""
    nbands = 2 if max_hamming <= 1 else _SIMHASH_NBANDS
    return nbands, _SIMHASH_NBITS // nbands


def _simhash_rel(spark, table_expr: str):
    """(doc_id, simhash) signature relation of ``table_expr``."""
    return spark.sql(simhash_sql(SPARK, _SIMHASH_NBITS, src=table_expr))


def simhash_index_build(spark, path: str, table_expr: str) -> None:
    """Materialize the signature index for ``table_expr``."""
    _simhash_rel(spark, table_expr).write.mode("overwrite").parquet(path)


def simhash_index_append(spark, path: str, table_expr: str, sig=None) -> None:
    """Incremental maintenance: signature ONLY the increment and append.
    Signatures are deterministic, so replayed appends write
    byte-identical rows the probe's DISTINCT read absorbs.  ``sig``
    lets a probe-then-append loop reuse ONE checkpointed signature
    relation instead of re-hashing the batch text per verb."""
    (sig if sig is not None else _simhash_rel(spark, table_expr)).write.mode(
        "append"
    ).parquet(path)


def simhash_index_delete(ids, path: str) -> None:
    """Tombstone every ``doc_id`` in ``ids`` — the SimHash sibling of
    ``setjoin_index_delete`` (the index stores per-doc signature rows,
    so doc-level deletion is the same dot-prefixed SET-class side
    table; the LSH bucket index, which stores NO doc ids, is the one
    family where this pattern does not apply).  Idempotent under
    replay; unseen ids are a no-op."""
    import os

    from pyspark.sql import functions as F

    ids.select(F.col("doc_id").cast("long").alias("doc_id")).distinct().write.mode(
        "append"
    ).parquet(os.path.join(path, _SETJOIN_TOMBSTONE_DIR))


def _simhash_store_rows(spark, path: str):
    """The DISTINCT store signatures with tombstoned docs anti-joined
    out BEFORE banding — deleted docs generate no candidates at all,
    so the scrubbed probe equals the rebuild over survivors."""
    import os

    from pyspark.sql import functions as F

    rows = read_parquet(spark, path).distinct()
    tomb = os.path.join(path, _SETJOIN_TOMBSTONE_DIR)
    if os.path.isdir(tomb) and any(
        f.endswith(".parquet") for f in os.listdir(tomb)
    ):
        doomed = read_parquet(spark, tomb).distinct()
        rows = rows.join(F.broadcast(doomed), "doc_id", "left_anti")
    return rows


def simhash_index_probe(
    spark, path: str, table_expr: str, max_hamming: int = 3, sig=None, exclude=None
):
    """Adjudicate a NEW batch against the signature index WITHOUT
    mutating it: every (corpus_doc, batch_doc) pair agreeing on >= 1 of
    the 4 signature quarters AND within ``max_hamming`` bit flips —
    ``(doc_a, doc_b, hamming)`` canonicalized to doc_a < doc_b.  The
    quarter join is the recall-oriented blocking step (by pigeonhole a
    pair within nbits/nbands - 1 flips ALWAYS shares a quarter, so for
    max_hamming <= 3 with 16/4 the candidates are lossless).

    Hamming is verified per DISTINCT SIGNATURE PAIR, never per doc
    pair: the distance depends only on the two signatures, and
    signature CONCENTRATION (the boilerplate regime that makes
    doc-level band candidates explode quadratically — a hot quarter
    shared by half the corpus) is exactly when distinct-signature
    pairs are FEW.  The band join and the 32-term exact verify run
    over unique signatures; surviving (sig_a, sig_b) pairs fan back
    out to documents by two equi-joins — so verify cost is bounded by
    signature diversity while the output stays the full doc-pair set.
    The band count ADAPTS to the hamming budget: by pigeonhole,
    ``max_hamming`` flips leave >= 1 of ``max_hamming + 1`` bands
    intact, so h <= 1 probes join on 2 SIXTEEN-bit halves instead of 4
    eight-bit quarters — 256x more selective buckets at identical
    recall.  (Both together measured at sf0.1 on the concentrated
    fixture corpus: 23 s -> ~3 s probe; at 100 TB this is the
    difference between a bounded verify and a hot-bucket quadratic.)

    ``exclude`` (a doc_id DataFrame) drops the listed docs from the
    STORE side for this probe only — the crawl loop passes the current
    batch's ids so a replayed trigger whose append committed but whose
    streaming checkpoint did not re-adjudicates against the store AS
    IT WAS (probe-level replay idempotence; r10 ADVICE)."""
    import os

    from pyspark.sql import functions as F

    from ..session import register_temp_view

    nbands, width = _simhash_band_geometry(max_hamming)
    bsig = (
        sig
        if sig is not None
        else _simhash_rel(spark, table_expr).localCheckpoint(eager=True)
    )
    # TWO consumers (the unique-sig band side and the doc fan-out join)
    # — checkpoint the scrubbed store read once
    ssig = _simhash_store_rows(spark, path)
    if exclude is not None:
        ssig = ssig.join(
            F.broadcast(exclude.select("doc_id").distinct()), "doc_id", "left_anti"
        )
    ssig = ssig.localCheckpoint(eager=True)
    vb = register_temp_view(bsig, "_shx_b")
    vs = register_temp_view(ssig, "_shx_s")
    bands = lambda rel: " UNION ALL ".join(  # noqa: E731
        f"SELECT simhash, {b} AS band, "
        f"substr(simhash, {b * width + 1}, {width}) AS bs FROM {rel}"
        for b in range(nbands)
    )
    ham = " + ".join(
        f"CASE WHEN substr(sa, {p + 1}, 1) <> "
        f"substr(sbv, {p + 1}, 1) THEN 1 ELSE 0 END"
        for p in range(_SIMHASH_NBITS)
    )
    return spark.sql(
        f"""
WITH su AS (SELECT DISTINCT simhash FROM {vs}),
bu AS (SELECT DISTINCT simhash FROM {vb}),
sb AS ({bands("su")}),
bb AS ({bands("bu")}),
cand AS (
  SELECT DISTINCT sb.simhash AS sa, bb.simhash AS sbv
  FROM sb JOIN bb ON sb.band = bb.band AND sb.bs = bb.bs),
ver AS (
  SELECT sa, sbv, hamming FROM (
    SELECT sa, sbv, {ham} AS hamming FROM cand) _v
  WHERE hamming <= {max_hamming})
SELECT LEAST(s.doc_id, b.doc_id) AS doc_a,
  GREATEST(s.doc_id, b.doc_id) AS doc_b,
  CAST(ver.hamming AS INT) AS hamming
FROM ver
JOIN {vs} s ON s.simhash = ver.sa
JOIN {vb} b ON b.simhash = ver.sbv
WHERE s.doc_id <> b.doc_id
"""
    )
