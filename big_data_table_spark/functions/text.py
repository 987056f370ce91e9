"""Text-analysis operators over ``documents`` — language ID, quality
scoring, token counting, fingerprinting (training-data-pipeline
extensions; the reference has no string function library of its own,
SURVEY.md §2 "Scalar functions").

All dual-dialect SQL (see ``portable.py``): regex patterns are restricted
to the Java-regex ∩ RE2 subset, arithmetic is int-ratio → double (IEEE
deterministic), and outputs are rounded where composed from multiple float
ops.

Scale: each operator is a narrow per-row projection — no shuffle at all;
at 100 TB these run as a single map stage fused into the parquet scan by
whole-stage codegen (regexp on the JVM, no Python).
"""

from __future__ import annotations

from .portable import DUCK, SPARK, arr_el, lateral_arr, lateral_seq, regexp_count, split_ws, arr_len
from .store_layout import (
    _check_append_chunk,
    _data_file_count,
    _mark_compacted_chunks,
    _read_int_marker,
    _write_int_marker_monotone,
    parallel_store_writes,
    staged_swap,
    write_store_relation,
)
from . import dedup as _dedup
from ..sources.readers import read_parquet

# marker stopwords per language for the n-gram/stopword heuristic
_LANG_MARKERS = {
    "en": r"\\b(the|and|of|to|in|is|that|for|with|was)\\b",
    "de": r"\\b(der|die|das|und|ist|nicht|mit|ein|eine|zu)\\b",
    "fr": r"\\b(le|la|les|et|est|une|des|que|pour|dans)\\b",
    "es": r"\\b(el|la|los|las|es|una|que|por|para|con)\\b",
}

_STOPWORDS = r"\\b(the|a|an|and|or|of|to|in|is|it|that|for)\\b"
# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation marks
_BPE_TOKEN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def _pat(p: str, dialect: str) -> str:
    """Spark SQL string literals need ``\\\\b``; DuckDB needs ``\\b``."""
    return p if dialect == SPARK else p.replace("\\\\", "\\")


def token_count_sql(dialect: str) -> str:
    """Whitespace token count + BPE-ish subword-piece count per doc."""
    ws = arr_len(split_ws("text", dialect), dialect)
    bpe = regexp_count("text", _pat(_BPE_TOKEN, dialect), dialect)
    return (
        f"SELECT doc_id, CAST({ws} AS BIGINT) AS n_ws_tokens, "
        f"CAST({bpe} AS BIGINT) AS n_bpe_tokens FROM documents"
    )


def lang_select_sql(dialect: str, table: str = "documents") -> str:
    """Embeddable (no WITH) language-ID query: ``SELECT doc_id,
    pred_lang, best FROM …`` — nested subqueries only, so other builders
    can use it as a CTE body (cross-lingual dedup blocking)."""
    scores = {
        lang: regexp_count("lower(text)", _pat(pat, dialect), dialect)
        for lang, pat in _LANG_MARKERS.items()
    }
    score_cols = ", ".join(f"{expr} AS s_{lang}" for lang, expr in scores.items())
    langs = list(_LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    cases = " ".join(f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs)
    return (
        f"SELECT doc_id, CASE WHEN best = 0 THEN 'und' {cases} END AS pred_lang, "
        f"best FROM (SELECT *, {best} AS best FROM "
        f"(SELECT doc_id, {score_cols} FROM {table}) scored) m"
    )


def lang_id_sql(dialect: str) -> str:
    """Marker-stopword language ID: per-language marker hit counts,
    argmax with deterministic precedence (en > de > fr > es), 'und'
    (undetermined) when no marker hits at all."""
    return (
        f"SELECT doc_id, pred_lang, CAST(best AS BIGINT) AS marker_hits "
        f"FROM ({lang_select_sql(dialect)}) lng"
    )


def repetition_ratio_sql(dialect: str) -> str:
    """Intra-document repetition: fraction of word-3-gram occurrences
    that are repeats (1 − distinct/total) — the Gopher-style repetition
    filter (high ratio = boilerplate/spam, a standard LLM-corpus drop
    rule).  Pure per-document aggregate over the shingle explode: one
    shuffle keyed by doc_id, no joins.  Docs with <3 words are skipped
    (no 3-grams), matching the dedup pipeline's shingle domain."""
    from .dedup import _shingles_cte, _words_cte

    return (
        f"WITH {_words_cte(dialect)}, {_shingles_cte(dialect, distinct=False)}, "
        "counts AS (SELECT doc_id, COUNT(*) AS total, COUNT(DISTINCT sh) AS uniq "
        "FROM shingles GROUP BY doc_id) "
        "SELECT doc_id, CAST(total AS BIGINT) AS n_grams, "
        # all-DOUBLE arithmetic: a bare 1.0 literal types as DECIMAL in
        # Spark SQL and the whole expression (and output schema) goes
        # decimal with it — the oracle side stays double and the driver
        # hash would diverge
        "ROUND(CAST(1 AS DOUBLE) - uniq / CAST(total AS DOUBLE), 6) AS rep_ratio "
        "FROM counts"
    )


def lang_id_confusion_sql(dialect: str) -> str:
    """Language-ID evaluation against the fixture's gold ``lang`` column:
    (gold, predicted) confusion counts — the accuracy report a pipeline
    runs after any classifier change.  The prediction subquery is the
    same embeddable ``lang_select_sql`` the cross-lingual dedup blocker
    uses, so eval and production share the classifier by construction."""
    return (
        f"WITH pred AS ({lang_select_sql(dialect)}) "
        "SELECT d.lang AS gold, p.pred_lang AS pred, "
        "CAST(COUNT(*) AS BIGINT) AS n "
        "FROM documents d JOIN pred p ON d.doc_id = p.doc_id "
        "GROUP BY d.lang, p.pred_lang"
    )


def tfidf_top_terms_sql(dialect: str, k: int = 5) -> str:
    """Top-k TF-IDF terms per source — the vocabulary fingerprint report
    for a data card (what distinguishes this source's language use).

    tfidf = tf(source, term) · ln(N_docs / df(term)); the score is
    ROUNDED to 6 dp BEFORE ranking so last-ulp ln() differences between
    engines cannot flip ranks, and rank ties break on the term itself
    (total order).  Shuffles carry (term, count) pairs only; df and the
    N scalar are broadcast-scale sides of the scoring join.

    Tokenization is LOCAL (every non-empty doc contributes), not the
    shingle pipeline's ≥3-word ``docs`` stage — N counts all documents,
    so df/tf must too, or IDF skews on short-doc corpora."""
    w = split_ws("lower(text)", dialect)
    return (
        f"WITH words AS (SELECT /*+ REPARTITION(32) */ doc_id, {w} AS w "
        "  FROM documents), "
        f"docs AS (SELECT doc_id, w FROM words WHERE {arr_len('w', dialect)} >= 1), "
        f"tok AS (SELECT doc_id, tk FROM docs {lateral_arr('w', 'tk', dialect)}), "
        "n_docs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents), "
        "df AS (SELECT tk, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df "
        "  FROM tok GROUP BY tk), "
        "tf AS (SELECT d.source, t.tk, COUNT(*) AS tf FROM tok t "
        "  JOIN documents d ON t.doc_id = d.doc_id GROUP BY d.source, t.tk), "
        "scored AS (SELECT source, tf.tk, ROUND(tf * ln(n / df), 6) AS tfidf "
        "  FROM tf JOIN df ON tf.tk = df.tk CROSS JOIN n_docs), "
        "ranked AS (SELECT source, tk, tfidf, "
        "  ROW_NUMBER() OVER (PARTITION BY source ORDER BY tfidf DESC, tk) AS rk "
        "  FROM scored) "
        f"SELECT source, CAST(rk AS BIGINT) AS rk, tk AS term, tfidf "
        f"FROM ranked WHERE rk <= {k}"
    )


_BM25_QUERY_TERMS = ("spark", "merge", "window", "stream")
_K1 = "CAST(1.2 AS DOUBLE)"   # bare 1.2 would type DECIMAL in Spark SQL
_B = "CAST(0.75 AS DOUBLE)"


def bm25_tok_sql(dialect: str, src: str = "documents") -> str:
    """Per-occurrence token stream (doc_id, tk) — BM25's tf needs
    occurrence counts, not the shingle pipeline's DISTINCT sets.
    ``src`` generalizes to a batch subquery (the index store verbs
    tokenize only the increment)."""
    w = split_ws("lower(text)", dialect)
    return (
        "SELECT /*+ REPARTITION(32) */ doc_id, tk "
        f"FROM (SELECT doc_id, {w} AS w FROM {src}) _w "
        f"{lateral_arr('w', 'tk', dialect)}"
    )


def bm25_dl_sql(tok: str) -> str:
    """Per-doc token length over the token relation ``tok`` — the
    corpus statistic a production BM25 index precomputes once and
    reuses across every query."""
    return (
        f"SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM {tok} "
        "GROUP BY doc_id"
    )


def bm25_corpus_sql(dl: str, n_src: str | None = "documents") -> str:
    """The 1-row (N, avgdl) scalar over the doc-length relation.  With
    ``n_src``, N and avgdl BOTH derive from the SAME joined relation —
    every ``n_src`` doc left-joined to its dl row, missing dl counted
    as 0 — so N covers every doc and zero-token docs drag avgdl down:
    one internally consistent corpus statistic (r10 ADVICE: the old
    form counted N over all docs but averaged dl only over
    token-bearing ones, an inconsistency dual-dialect parity could
    never catch because both arms shared the text).  ``n_src=None``
    derives both from the dl relation alone — the index store's
    definition (N = indexed docs; the store's read path never touches
    the documents table)."""
    if n_src:
        return (
            "SELECT CAST(COUNT(*) AS DOUBLE) AS n, "
            "CAST(SUM(COALESCE(d.dl, 0)) AS DOUBLE) / "
            "CAST(COUNT(*) AS DOUBLE) AS avgdl "
            f"FROM (SELECT doc_id FROM {n_src}) _s "
            f"LEFT JOIN {dl} d ON _s.doc_id = d.doc_id"
        )
    return (
        "SELECT CAST(COUNT(*) AS DOUBLE) AS n, "
        f"CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM {dl}"
    )


def bm25_score_from_tf_sql(tf: str, dl: str, corpus: str, k: int = 20) -> str:
    """Okapi BM25 top-k scoring from a PRECOMPUTED term-frequency
    relation ``tf`` (doc_id, tk, tf — already restricted to the query
    terms), per-doc lengths ``dl`` and the 1-row (N, avgdl) scalar
    ``corpus`` — ONE copy of the scoring algebra, shared by the
    one-shot retrieval entry (tf aggregated from the token stream) and
    the persisted index store (tf read from term-filtered postings).
    See :func:`bm25_score_sql` for the IEEE/rounding discipline."""
    one = "CAST(1 AS DOUBLE)"
    half = "CAST(0.5 AS DOUBLE)"
    return (
        "WITH df AS (SELECT tk, CAST(COUNT(*) AS DOUBLE) AS df "
        f"  FROM {tf} GROUP BY tk), "
        "idf AS (SELECT tk, "
        f"    ROUND(ln({one} + (n - df + {half}) / (df + {half})), 6) AS idf "
        f"  FROM df CROSS JOIN {corpus} _c1), "
        "contrib AS (SELECT tf.doc_id, "
        "    CAST(ROUND(idf.idf * "
        f"      (CAST(tf.tf AS DOUBLE) * ({_K1} + {one})) / "
        f"      (CAST(tf.tf AS DOUBLE) + {_K1} * ({one} - {_B} + "
        f"        {_B} * CAST(dl.dl AS DOUBLE) / _c2.avgdl)), 6) "
        "      AS DECIMAL(18,6)) AS c "
        f"  FROM {tf} tf JOIN idf ON idf.tk = tf.tk "
        f"  JOIN {dl} dl ON dl.doc_id = tf.doc_id CROSS JOIN {corpus} _c2), "
        "scored AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score, "
        "    CAST(COUNT(*) AS BIGINT) AS n_terms_hit "
        "  FROM contrib GROUP BY doc_id) "
        f"SELECT doc_id, score, n_terms_hit FROM scored "
        f"ORDER BY score DESC, doc_id LIMIT {k}"
    )


def bm25_score_sql(tok: str, dl: str, corpus: str, k: int = 20) -> str:
    """Okapi BM25 top-k scoring over precomputed relations: ``tok`` the
    per-occurrence token stream, ``dl`` per-doc lengths, ``corpus`` the
    1-row (N, avgdl) scalar (CTE names for the oracle; checkpointed
    temp views on the Spark side — Spark re-inlines multi-referenced
    CTEs).

    idf = ln(1 + (N − df + ½)/(df + ½)) (the non-negative Robertson
    form); per-(doc, term) contribution idf · tf·(k1+1) / (tf +
    k1·(1 − b + b·dl/avgdl)) with k1 = 1.2, b = 0.75.  IEEE
    discipline: ln is ROUNDED to 6 dp before entering arithmetic and
    each term contribution is ROUNDED to 6 dp then accumulated in
    DECIMAL(18,6) (order-free exact sum) before ONE double cast, so
    last-ulp ln() differences between engines cannot flip ranks; rank
    ties break on doc_id (total order).

    Scale shape (100 TB): tf is computed ONLY for the query terms —
    the token stream is filtered BEFORE any aggregation (at scale this
    is the inverted-index posting lookup); df ships (term, count) for
    the query terms only; idf (|query| rows) and the corpus scalar are
    broadcast sides of the scoring join; top-k is ORDER BY + LIMIT =
    TakeOrderedAndProject, never a global sort."""
    terms = ", ".join(f"'{t}'" for t in _BM25_QUERY_TERMS)
    return (
        f"WITH qtok AS (SELECT doc_id, tk FROM {tok} WHERE tk IN ({terms})), "
        "tf AS (SELECT doc_id, tk, CAST(COUNT(*) AS BIGINT) AS tf "
        "  FROM qtok GROUP BY doc_id, tk)"
        + bm25_score_from_tf_sql("tf", dl, corpus, k).replace("WITH ", ", ", 1)
    )


def bm25_topk_sql(dialect: str, k: int = 20) -> str:
    """One-statement BM25 composition (the ORACLE form): token stream +
    doc lengths + corpus scalar as CTEs feeding :func:`bm25_score_sql`.
    The Spark entry checkpoints tok/dl/corpus instead (catalog_r10) —
    same text per stage, so the algorithm is shared by construction."""
    # multi-referenced CTE chains inline EXPONENTIALLY in DuckDB —
    # materialize the shared stages (Spark never runs this composition)
    mat = "MATERIALIZED " if dialect == DUCK else ""
    return (
        f"WITH tok AS {mat}({bm25_tok_sql(dialect)}), "
        f"dl AS {mat}({bm25_dl_sql('tok')}), "
        f"corpus AS {mat}({bm25_corpus_sql('dl')}), "
        f"scored_q AS ({bm25_score_sql('tok', 'dl', 'corpus', k)}) "
        "SELECT * FROM scored_q"
    )


# --------------------------------------------------------------------- #
# Persisted BM25 (inverted) index — r10, the text-retrieval member of
# the store matrix: postings/ ((doc_id, tk, tf) under chunk=<batch>
# partitions) and dl/ ((doc_id, dl) likewise) — exactly what a
# production BM25 deployment materializes once and queries many times.
# ADDITIVE merge class: tf/dl merge by SUM across chunks, so the read
# aggregates SUM over chunk rows, and the replay contract is the CMS
# store's — dynamic partition overwrite makes a replayed append replace
# its own chunk with byte-identical rows instead of doubling counts.
# The query path reads the postings scan FILTERED to the query terms
# (predicate pushdown — the posting-list lookup; plan-pinned) + the dl
# relation + a 1-row (N, avgdl) scalar derived from dl; the documents
# table is NEVER rescanned by a query.
# --------------------------------------------------------------------- #


def bm25_index_append(spark, path: str, table_expr: str, chunk: int) -> None:
    """Index one batch into its own ``chunk`` partitions: tokenize ONLY
    the increment (ONE checkpointed token stream feeds postings AND
    dl), aggregate per-(doc, term) tf and per-doc length, and
    dynamic-partition-overwrite ``chunk=<id>`` under postings/ and dl/.
    Chunk ids must be NON-NEGATIVE (the shared reserved-compact-id
    guard — in the additive class an append reusing a compact id would
    silently delete merged counters) and ABOVE the store's compaction
    watermark (r10 ADVICE: a pre-compaction id names a now-empty
    partition whose merged counts live in ``chunk=-1`` — re-using it
    would silently double-count tf/dl)."""
    import os

    from pyspark.sql import functions as F

    _check_append_chunk(chunk, store_path=path)
    tok = spark.sql(bm25_tok_sql(SPARK, src=table_expr)).localCheckpoint(
        eager=True
    )
    postings = tok.groupBy("doc_id", "tk").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))

    def _write(sub, df):
        (
            df.withColumn("chunk", F.lit(int(chunk)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("chunk")
            .parquet(os.path.join(path, sub))
        )

    # two independent sub-stores over one checkpointed token stream —
    # overlap the writes (guide §2.6)
    parallel_store_writes(
        lambda: _write("postings", postings), lambda: _write("dl", dl)
    )


def bm25_index_build(spark, path: str, table_expr: str) -> None:
    """Bootstrap: the build is the chunk-0 append into a CLEARED dir
    (the store is born additive; there is no frozen global state to
    initialize — idf/avgdl are derived at read time, so increments
    never go stale).  Clearing first keeps the replayed-bootstrap
    contract honest: without it a prior life's compaction watermark
    would reject the chunk-0 append, and a stale retention marker or
    merged chunk=-1 partition would leak into the logically fresh
    store (r11 review)."""
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    bm25_index_append(spark, path, table_expr, chunk=0)


def bm25_index_compact(spark, path: str, target_file_bytes: int = 256 << 20) -> int:
    """Compaction: SUM-merge every chunk of postings/ and dl/ into the
    RESERVED ``chunk=-1`` (appenders reject negative ids —
    in the additive class an append reusing the compact id would
    silently delete the merged counts).  For the additive class
    compaction IS the merge (exact integer addition), so the top-k
    before and after is bit-identical (pinned in tests/test_round10).
    Persists the COMPACTION WATERMARK (max chunk id merged, monotone)
    at the store root so appends can never re-use a merged id and
    double-count (r10 ADVICE; guard shared via
    ``store_layout._check_append_chunk``).  The merged postings relation is
    doc x term cardinality — the LARGEST persisted relation in the repo
    — so both sub-stores rewrite with a size-derived file count
    (``store_layout``, sized on the RAW pre-merge read so a shrinking
    merge errs toward more files), hash-partitioned and sorted on the
    merge keys so the term-pruned probe's pushed-down ``In(tk, ...)``
    keeps tight row-group stats; 1 file at fixture scale (r11 VERDICT's
    coalesce(1) straggler fix).  Returns the sub-store count
    rewritten (2)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    for sub, keys, lay, val in (
        ("postings", ["doc_id", "tk"], ["tk", "doc_id"], "tf"),
        ("dl", ["doc_id"], ["doc_id"], "dl"),
    ):
        cur = os.path.join(path, sub)
        with staged_swap(cur) as (tmp,):
            if sub == "postings":  # the appender guard, before any swap
                _mark_compacted_chunks(path, cur)
            raw = read_parquet(spark, cur)
            merged = (
                _bm25_retained(path, raw, spark=spark)
                .groupBy(*keys)
                .agg(F.sum(val).cast("long").alias(val))
                .localCheckpoint(eager=True)  # fully read before the swap
            )
            write_store_relation(
                merged,
                os.path.join(tmp, "chunk=-1"),
                *lay,  # tk-first layout: the probe prunes on tk
                sized_on=raw,
                target_file_bytes=target_file_bytes,
            )
    # the merged copies excluded tombstoned docs (scrubbed read), so
    # compaction doubles as the physical purge — drop the side table
    shutil.rmtree(os.path.join(path, _BM25_TOMBSTONE_DIR), ignore_errors=True)
    return 2


_BM25_RETENTION_FILE = ".retention"
_BM25_TOMBSTONE_DIR = ".tombstones"


def bm25_index_delete(ids, path: str) -> None:
    """Tombstone every ``doc_id`` in ``ids`` — right-to-be-forgotten
    for the BM25 index, completing the deletion matrix across ALL SIX
    doc-id-bearing store families (bitmap / setjoin / SimHash /
    semantic / LSH / BM25).  A dot-prefixed SET-class side-table
    append: no postings partition is rewritten, replays are idempotent
    (the scrubbed read DISTINCTs), unseen ids are a no-op.  The
    scrubbed read drops the docs from postings AND dl BEFORE the
    additive merge, so tf, dl and the derived (N, avgdl, idf) all
    shrink — deletion changes SCORES exactly as a rebuild over the
    survivors would.  Physical reclaim rides the next compact."""
    import os

    from pyspark.sql import functions as F

    ids.select(F.col("doc_id").cast("long").alias("doc_id")).distinct().write.mode(
        "append"
    ).parquet(os.path.join(path, _BM25_TOMBSTONE_DIR))


def _bm25_tombstones(spark, path: str):
    """The DISTINCT tombstoned doc_ids, or None when the store was
    never deleted from (callers skip the anti-join for None, keeping
    the never-deleted read plan unchanged)."""
    import os

    tomb = os.path.join(path, _BM25_TOMBSTONE_DIR)
    if os.path.isdir(tomb) and any(f.endswith(".parquet") for f in os.listdir(tomb)):
        return read_parquet(spark, tomb).distinct()
    return None


def bm25_index_expire(path: str, before_doc_id: int) -> None:
    """Retention cutoff for the BM25 index — drop every doc with
    ``doc_id < before_doc_id`` (ids are ingestion-ordered, so an id
    cutoff IS the time cutoff), METADATA-ONLY: a monotone store-root
    marker, no scan, no partition rewrite — O(1) however large the
    store (the day-partitioned stores' ``rollup_expire`` discipline,
    carried to a store whose partitions are chunks, not days).  Every
    read (tf, dl, and therefore N/avgdl/idf — the corpus statistics
    honestly shrink with the corpus) filters ``doc_id >= cutoff``;
    parquet min/max pruning skips whole expired row groups for free.
    The result equals the rebuild over the retained docs (pinned in
    tests/test_round11.py).  Physical reclaim rides the next COMPACT;
    the marker persists so a late append of pre-cutoff docs stays
    excluded — retention is a policy, not a one-shot delete."""
    _write_int_marker_monotone(path, _BM25_RETENTION_FILE, before_doc_id)


def _bm25_retained(path: str, df, spark=None):
    """Apply the retention cutoff and (when ``spark`` is passed) the
    tombstone scrub to a store-side relation — deleted/expired docs
    drop BEFORE the additive merge, so every derived statistic
    re-derives over the survivors."""
    from pyspark.sql import functions as F

    cut = _read_int_marker(path, _BM25_RETENTION_FILE)
    if cut is not None:
        df = df.filter(F.col("doc_id") >= cut)
    if spark is not None:
        tomb = _bm25_tombstones(spark, path)
        if tomb is not None:
            df = df.join(F.broadcast(tomb), "doc_id", "left_anti")
    return df


def _bm25_store_tf(spark, path: str):
    """The term-filtered additive tf read: postings scan PRUNED to the
    query terms (parquet predicate pushdown — the posting-list lookup),
    SUM-merged across chunks; retention-expired and tombstoned docs
    filtered before the merge."""
    import os

    from pyspark.sql import functions as F

    return (
        _bm25_retained(
            path, read_parquet(spark, os.path.join(path, "postings")), spark=spark
        )
        .filter(F.col("tk").isin(list(_BM25_QUERY_TERMS)))
        .groupBy("doc_id", "tk")
        .agg(F.sum("tf").cast("long").alias("tf"))
    )


def bm25_index_topk(spark, path: str, k: int = 20):
    """Answer the BM25 top-k from the store alone: the postings scan is
    FILTERED to the query terms (parquet predicate pushdown — the
    posting-list lookup), tf/dl SUM-merge across chunks (the additive
    read algebra; replays were absorbed by the per-chunk overwrite),
    the (N, avgdl) scalar derives from dl, and the scoring text is the
    shared :func:`bm25_score_from_tf_sql`.  The documents table is
    never rescanned."""
    import os

    from pyspark.sql import functions as F

    from ..session import register_temp_view

    # tf feeds TWO consumers (the df aggregate and the scoring join) —
    # checkpoint the term-pruned aggregate once; the pushdown pin in
    # tests/test_round10.py asserts the scan shape on the lazy form
    tf = _bm25_store_tf(spark, path).localCheckpoint(eager=True)
    dl = (
        _bm25_retained(path, read_parquet(spark, os.path.join(path, "dl")), spark=spark)
        .groupBy("doc_id")
        .agg(F.sum("dl").cast("long").alias("dl"))
        .localCheckpoint(eager=True)  # feeds the corpus scalar AND scoring
    )
    vtf = register_temp_view(tf, "_bm25x_tf")
    vdl = register_temp_view(dl, "_bm25x_dl")
    corpus = spark.sql(bm25_corpus_sql(vdl, n_src=None)).localCheckpoint(
        eager=True
    )
    vcorpus = register_temp_view(corpus, "_bm25x_corpus")
    return spark.sql(bm25_score_from_tf_sql(vtf, vdl, vcorpus, k))


def source_mix_sql(dialect: str) -> str:
    """Data-mixture report per (source, lang): doc count, char volume,
    distinct-content count — the table a training run's data card is
    built from.  COUNT(DISTINCT md5(text)) ships digests, not text,
    through the distinct aggregation."""
    return (
        "SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(n_chars) AS BIGINT) AS chars, "
        "CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts "
        "FROM documents GROUP BY source, lang"
    )


def quality_score_sql(dialect: str) -> str:
    """Heuristic quality score from length / punctuation / stopword /
    alpha ratios — the standard cheap pre-filter for pipeline text.

    score = 0.4·stopword_ratio + 0.3·alpha_ratio + 0.2·clamp(n_tokens/100)
            + 0.1·(1 - punct_ratio), rounded to 6 dp.
    """
    n_tok = arr_len(split_ws("text", dialect), dialect)
    n_stop = regexp_count("lower(text)", _pat(_STOPWORDS, dialect), dialect)
    n_alpha = regexp_count("text", "[A-Za-z]", dialect)
    n_punct = regexp_count("text", _pat(r"[^A-Za-z0-9\\s]", dialect), dialect)
    return (
        "WITH feats AS (SELECT doc_id, n_chars, "
        f"CAST({n_tok} AS DOUBLE) AS n_tok, CAST({n_stop} AS DOUBLE) AS n_stop, "
        f"CAST({n_alpha} AS DOUBLE) AS n_alpha, CAST({n_punct} AS DOUBLE) AS n_punct "
        "FROM documents) "
        "SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens, "
        "ROUND(n_stop / n_tok, 6) AS stopword_ratio, "
        "ROUND(n_punct / n_chars, 6) AS punct_ratio, "
        "ROUND(n_alpha / n_chars, 6) AS alpha_ratio, "
        "ROUND(0.4 * (n_stop / n_tok) + 0.3 * (n_alpha / n_chars) "
        "+ 0.2 * LEAST(n_tok / 100.0, 1.0) + 0.1 * (1.0 - n_punct / n_chars), 6) "
        "AS quality_score FROM feats"
    )


def quality_select_sql(dialect: str, table: str = "documents") -> str:
    """Embeddable (no WITH) quality-score query: ``SELECT doc_id,
    quality_score FROM …`` — nested subqueries only, so other builders
    can splice it into their CTE chains (the ``lang_select_sql``
    convention; used by the quality-aware dedup keeper).  Same formula
    as :func:`quality_score_sql`.  ``table`` points it at any
    (doc_id, text, n_chars) relation — the streaming quality monitor
    scores micro-batch views with it."""
    n_tok = arr_len(split_ws("text", dialect), dialect)
    n_stop = regexp_count("lower(text)", _pat(_STOPWORDS, dialect), dialect)
    n_alpha = regexp_count("text", "[A-Za-z]", dialect)
    n_punct = regexp_count("text", _pat(r"[^A-Za-z0-9\\s]", dialect), dialect)
    return (
        "SELECT doc_id, "
        "ROUND(0.4 * (n_stop / n_tok) + 0.3 * (n_alpha / n_chars) "
        "+ 0.2 * LEAST(n_tok / 100.0, 1.0) + 0.1 * (1.0 - n_punct / n_chars), 6) "
        "AS quality_score FROM (SELECT doc_id, n_chars, "
        f"CAST({n_tok} AS DOUBLE) AS n_tok, CAST({n_stop} AS DOUBLE) AS n_stop, "
        f"CAST({n_alpha} AS DOUBLE) AS n_alpha, CAST({n_punct} AS DOUBLE) AS n_punct "
        f"FROM {table}) feats"
    )


def quality_decile_curve_sql(dialect: str) -> str:
    """Threshold-CALIBRATION curve for the cascade's quality knob: the
    corpus ranked by (quality_score, doc_id) and cut into 10 dense rank
    deciles — per decile, doc count, min/max score and the decimal-exact
    mean, plus the share of docs the CASCADE would drop for a reason
    OTHER than low_quality (the cheap filters fire first, so the curve
    shows what a quality threshold would actually add at each score
    band).  This is the table an operator reads before moving the 0.45
    cutoff: `corpus_filter_cascade` reports the outcome of the chosen
    knobs; this reports the landscape around them.  Decile =
    ``floor(rank·10 / n)`` over the shared total order — exact integer
    arithmetic, identical both engines."""
    return (
        f"WITH {_cascade_doc_ctes(dialect)}, "
        "rk AS (SELECT doc_id, quality_score, decision, "
        "  ROW_NUMBER() OVER (ORDER BY quality_score, doc_id) - 1 AS rn, "
        "  COUNT(*) OVER () AS n FROM docdec), "
        "dd AS (SELECT CAST(FLOOR(rn * 10.0 / n) AS BIGINT) AS decile, "
        "  quality_score, decision FROM rk) "
        "SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "ROUND(MIN(quality_score), 6) AS min_score, "
        "ROUND(MAX(quality_score), 6) AS max_score, "
        "ROUND(CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE) "
        "  / COUNT(*), 6) AS mean_score, "
        "ROUND(SUM(CASE WHEN decision NOT IN ('keep', 'low_quality') "
        "  THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) "
        "  AS dropped_other_share "
        "FROM dd GROUP BY decile"
    )


def fingerprint_sql(dialect: str) -> str:
    """Content fingerprint of whitespace-normalized lowercase text — the
    canonical-form hash used for near-exact dedup (case/whitespace
    insensitive).  Also emits the first-shingle "anchor" prefix used as a
    cheap locality key."""
    if dialect == SPARK:
        norm = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"
    else:
        norm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    return (
        f"SELECT doc_id, md5({norm}) AS fingerprint, "
        f"substr(md5({norm}), 1, 8) AS fp_bucket FROM documents"
    )


def winnow_fingerprint_sql(
    dialect: str, window: int = 4, table: str = "documents"
) -> str:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): hash
    every word-3-gram, slide a ``window``-wide frame over the hash
    sequence, keep each frame's minimum, emit the distinct minima — the
    guarantee is any shared run of ≥ window+2 words yields a shared
    fingerprint, at ~1/window the density of full shingling.

    One scan + one window pass + one distinct: partition-parallel by
    doc_id, no joins.  Output: (doc_id, fp) rows."""
    from .portable import arr_el, arr_len, lateral_seq, split_ws

    el = lambda i: arr_el("w", i, dialect)  # noqa: E731
    lat = lateral_seq("1", f"{arr_len('w', dialect)} - 2", "pos", dialect)
    w = split_ws("lower(text)", dialect)
    return (
        f"WITH words AS (SELECT /*+ REPARTITION(32) */ doc_id, {w} AS w FROM {table}), "
        f"docs AS (SELECT doc_id, w FROM words WHERE {arr_len('w', dialect)} >= 3), "
        "hashes AS (SELECT doc_id, pos, "
        f"substr(md5(concat({el('pos')}, ' ', {el('pos + 1')}, ' ', {el('pos + 2')})), 1, 16) AS h "
        f"FROM docs {lat}), "
        "framed AS (SELECT doc_id, pos, "
        f"MIN(h) OVER (PARTITION BY doc_id ORDER BY pos "
        f"ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS fp, "
        "COUNT(*) OVER (PARTITION BY doc_id) AS n "
        "FROM hashes) "
        f"SELECT DISTINCT doc_id, fp FROM framed WHERE pos <= n - {window - 1}"
    )


__all__ = [
    "token_count_sql",
    "lang_id_sql",
    "quality_score_sql",
    "quality_select_sql",
    "quality_decile_curve_sql",
    "corpus_data_card_sql",
    "filter_cascade_sql",
    "fingerprint_sql",
    "winnow_fingerprint_sql",
    "winnow_index_build",
    "winnow_index_append",
    "winnow_index_compact",
    "winnow_index_probe",
    "tfidf_top_terms_sql",
    "bigram_cross_entropy_sql",
    "SPARK",
    "DUCK",
]


def filter_cascade_sql(dialect: str) -> str:
    """C4/Gopher-style quality-filter CASCADE: every document gets ONE
    keep/drop decision with a reason, adjudicated in fixed priority —
    ``too_short`` (<20 ws tokens) > ``high_repetition`` (3-gram repeat
    ratio > 0.05) > ``non_target_lang`` (marker lang-ID ≠ 'en') >
    ``low_quality`` (heuristic score < 0.45, the fixture median is
    ~0.48) > ``keep`` — then rolls up per (source, decision) with the
    source share.  This is the decision table a corpus-curation run
    writes before materializing the kept set: the cascade ORDER matters
    (a short doc is dropped as short even if also non-English — the
    cheap filters shield the expensive ones), and the per-source shares
    are the knob-tuning report.  One pass builds every feature; the
    only joins are per-doc feature tables on doc_id.  Thresholds are
    corpus knobs, deterministic on the fixture by construction (all
    ratios are exact rationals rounded to 6 dp)."""
    return (
        f"WITH {_cascade_doc_ctes(dialect)} "
        "SELECT source, decision, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY source) "
        "  AS DOUBLE), 6) AS source_share "
        "FROM docdec GROUP BY source, decision"
    )


def _cascade_doc_ctes(dialect: str) -> str:
    """The cascade's per-document CTE chain, ending in ``docdec``
    ``(doc_id, source, lang, n_tok, quality_score, rep_ratio, pred_lang,
    decision)`` — shared by :func:`filter_cascade_sql` (the decision
    rollup) and :func:`corpus_data_card_sql` (the per-source report),
    so the card's keep rate is BY CONSTRUCTION the cascade's."""
    n_tok = arr_len(split_ws("text", dialect), dialect)
    n_stop = regexp_count("lower(text)", _pat(_STOPWORDS, dialect), dialect)
    n_alpha = regexp_count("text", "[A-Za-z]", dialect)
    n_punct = regexp_count("text", _pat(r"[^A-Za-z0-9\\s]", dialect), dialect)
    from .dedup import _shingles_cte, _words_cte

    return (
        f"{_words_cte(dialect)}, {_shingles_cte(dialect, distinct=False)}, "
        "repc AS (SELECT doc_id, COUNT(*) AS total, COUNT(DISTINCT sh) AS uniq "
        "  FROM shingles GROUP BY doc_id), "
        "rep AS (SELECT doc_id, "
        "  ROUND(CAST(1 AS DOUBLE) - uniq / CAST(total AS DOUBLE), 6) AS rep_ratio "
        "  FROM repc), "
        "feats AS (SELECT doc_id, source, lang, n_chars, "
        f"  CAST({n_tok} AS DOUBLE) AS n_tok, CAST({n_stop} AS DOUBLE) AS n_stop, "
        f"  CAST({n_alpha} AS DOUBLE) AS n_alpha, CAST({n_punct} AS DOUBLE) AS n_punct "
        "  FROM documents), "
        "scored AS (SELECT doc_id, source, lang, n_tok, "
        "  ROUND(0.4 * (n_stop / n_tok) + 0.3 * (n_alpha / n_chars) "
        "  + 0.2 * LEAST(n_tok / 100.0, 1.0) + 0.1 * (1.0 - n_punct / n_chars), 6) "
        "  AS quality_score FROM feats), "
        f"lng AS ({lang_select_sql(dialect)}), "
        "docdec AS (SELECT s.doc_id, s.source, s.lang, s.n_tok, "
        "  s.quality_score, "
        "  COALESCE(r.rep_ratio, CAST(0 AS DOUBLE)) AS rep_ratio, "
        "  l.pred_lang, "
        "  CASE WHEN s.n_tok < 20 THEN 'too_short' "
        "       WHEN COALESCE(r.rep_ratio, CAST(0 AS DOUBLE)) > 0.05 "
        "         THEN 'high_repetition' "
        "       WHEN l.pred_lang <> 'en' THEN 'non_target_lang' "
        "       WHEN s.quality_score < 0.45 THEN 'low_quality' "
        "       ELSE 'keep' END AS decision "
        "  FROM scored s JOIN lng l ON l.doc_id = s.doc_id "
        "  LEFT JOIN rep r ON r.doc_id = s.doc_id)"
    )


def corpus_data_card_sql(dialect: str) -> str:
    """The per-source CORPUS DATA CARD — the one-stop summary table a
    training run publishes next to its dataset (datasheet/data-card
    practice): per source, volume (docs, whitespace tokens, mean
    doc length), composition (distinct gold langs, predicted-English
    share via the shared lang-ID classifier), redundancy (exact-dup
    ratio over md5 digests — text never shuffles), quality (mean
    heuristic score, mean 3-gram repetition), and the curation outcome
    (the cascade's keep share, BY CONSTRUCTION the same decisions as
    `corpus_filter_cascade` — both read the shared ``docdec`` chain).

    Determinism: counts and shares are exact rationals rounded to 6 dp;
    the two means accumulate in DECIMAL(18,6) before ONE double cast
    (scale ≤ 6 per the cross-engine decimal-cast rule), so the card is
    accumulation-order-independent — the same discipline as ``dsum``.
    At 100 TB every column is one pass over per-doc feature rows;
    nothing wider than (doc_id, digest, 6 numbers) shuffles."""
    return (
        f"WITH {_cascade_doc_ctes(dialect)}, "
        "md AS (SELECT doc_id, md5(text) AS h FROM documents) "
        "SELECT d.source, "
        "CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs, "
        "ROUND(SUM(CASE WHEN d.pred_lang = 'en' THEN 1 ELSE 0 END) "
        "  / CAST(COUNT(*) AS DOUBLE), 6) AS en_share, "
        "CAST(SUM(CAST(d.n_tok AS BIGINT)) AS BIGINT) AS n_tokens, "
        "ROUND(SUM(CAST(d.n_tok AS BIGINT)) / CAST(COUNT(*) AS DOUBLE), 6) "
        "  AS avg_tokens, "
        "ROUND(CAST(1 AS DOUBLE) "
        "  - COUNT(DISTINCT m.h) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_ratio, "
        "ROUND(CAST(SUM(CAST(d.quality_score AS DECIMAL(18,6))) AS DOUBLE) "
        "  / COUNT(*), 6) AS avg_quality, "
        "ROUND(CAST(SUM(CAST(d.rep_ratio AS DECIMAL(18,6))) AS DOUBLE) "
        "  / COUNT(*), 6) AS avg_repetition, "
        "ROUND(SUM(CASE WHEN d.decision = 'keep' THEN 1 ELSE 0 END) "
        "  / CAST(COUNT(*) AS DOUBLE), 6) AS keep_share "
        "FROM docdec d JOIN md m ON m.doc_id = d.doc_id "
        "GROUP BY d.source"
    )


def bigram_counts_sql(dialect: str) -> str:
    """Corpus bigram counts (w1, w2, c) from whitespace tokens of
    lowercased text with the >= 2-word floor — the SHARED count stage
    of the collocation surface (``text_collocations_pmi`` checkpoints
    it; ``text_top_bigrams`` and ``bigram_cross_entropy_sql`` build
    the same chain with extra per-doc columns — keep the three
    tokenizations in lockstep when editing any of them)."""
    el = lambda i: arr_el("w", i, dialect)  # noqa: E731
    lat = lateral_seq("1", f"{arr_len('w', dialect)} - 1", "i", dialect)
    w = split_ws("lower(text)", dialect)
    return f"""
SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM (
  SELECT {el("i")} AS w1, {el("i + 1")} AS w2
  FROM (SELECT w FROM
        (SELECT {w} AS w FROM documents) _w
        WHERE {arr_len("w", dialect)} >= 2) docs {lat}) bi
GROUP BY w1, w2"""


def bigram_cross_entropy_sql(dialect: str) -> str:
    """Per-document bigram-LM cross-entropy (nats/bigram) — the
    perplexity-style quality signal (CCNet-family) a pipeline uses to
    rank text against a reference LM.  The LM here is add-0.5-smoothed
    bigram counts over the corpus itself (self-scoring: outlier docs
    surface with high CE).

    Cross-engine determinism: p(w2|w1) = (c+0.5)/(ctx+0.5·V) is an
    exact rational from integer counts; each −ln(p) ROUNDS to 6 dp
    BEFORE accumulation and the per-doc sum runs in EXACT DECIMAL, so
    engine-level ln() ulp differences cannot reorder or drift the sum
    (the tfidf round-before-rank rule, applied to accumulation).

    Scale shape: the LM (bigram counts + context totals) is corpus-
    bounded and joins the exploded doc bigrams on (w1, w2) — the model
    side is the small side, bucketable at 100 TB; the per-doc average
    is one map-side-combinable aggregate.

    Tokenization is LOCAL with a ≥2-word floor (a 2-word doc has one
    valid bigram), not the shingle pipeline's ≥3-word stage."""
    el = lambda i: arr_el("w", i, dialect)  # noqa: E731
    lat = lateral_seq("1", f"{arr_len('w', dialect)} - 1", "i", dialect)
    w = split_ws("lower(text)", dialect)
    return (
        f"WITH words AS (SELECT /*+ REPARTITION(32) */ doc_id, {w} AS w "
        "  FROM documents), "
        f"docs AS (SELECT doc_id, w FROM words WHERE {arr_len('w', dialect)} >= 2), "
        "bi AS (SELECT doc_id, "
        f"  {el('i')} AS w1, {el('i + 1')} AS w2 FROM docs {lat}), "
        "lm AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c "
        "  FROM bi GROUP BY w1, w2), "
        "ctx AS (SELECT w1, CAST(SUM(c) AS DOUBLE) AS n_ctx FROM lm GROUP BY w1), "
        "vocab AS (SELECT CAST(COUNT(DISTINCT w2) AS DOUBLE) AS v FROM bi), "
        "scored AS (SELECT bi.doc_id, "
        "  CAST(ROUND(-LN((lm.c + 0.5) / (ctx.n_ctx + 0.5 * vocab.v)), 6) "
        "       AS DECIMAL(18,6)) AS nll "
        "  FROM bi JOIN lm ON bi.w1 = lm.w1 AND bi.w2 = lm.w2 "
        "  JOIN ctx ON bi.w1 = ctx.w1 CROSS JOIN vocab) "
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, "
        "ROUND(CAST(CAST(SUM(nll) AS DECIMAL(38,6)) AS DOUBLE) / COUNT(*), 6) "
        "  AS cross_entropy "
        "FROM scored GROUP BY doc_id"
    )


# --------------------------------------------------------------------- #
# Persisted winnowing-fingerprint index — provenance ATTRIBUTION: not
# just "is this a near-dup" (the LSH index answers that) but "WHICH
# corpus document did this batch document copy from".  The stored unit
# is the (doc_id, fp) winnow table — ~1/window the density of full
# shingling with the shared-run guarantee, which is why plagiarism
# checkers (MOSS) store exactly this.  Same verb family as the other
# stores; fingerprint rows are append-only facts keyed by doc, so
# appends of NEW docs are trivially safe and replays are absorbed by
# the probe's DISTINCT reads.
# --------------------------------------------------------------------- #


def winnow_index_build(spark, path: str, table: str = "documents") -> None:
    """Materialize the corpus winnow-fingerprint table at ``path``."""
    spark.sql(winnow_fingerprint_sql(SPARK, table=table)).write.mode(
        "overwrite"
    ).parquet(path)


def winnow_index_append(spark, path: str, table: str) -> None:
    """Fold a new batch's fingerprints into the store (new docs only —
    per-doc fact rows; replayed appends are absorbed by the probe's
    DISTINCT reads)."""
    spark.sql(winnow_fingerprint_sql(SPARK, table=table)).write.mode(
        "append"
    ).parquet(path)


def winnow_index_probe(spark, path: str, table: str):
    """Attribute every batch document against the store: ``(doc_id,
    n_fp, n_matched, best_match_id, n_common)`` — fingerprint count,
    how many hit the store, and the corpus doc sharing the MOST
    fingerprints (ties by lowest id; −1 / 0 when nothing matches).
    The probe joins fingerprint digests only; at 100 TB the store join
    keys on fp (a 16-hex digest) and the batch's text is read once, in
    the fingerprint pass."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    bf = spark.sql(winnow_fingerprint_sql(SPARK, table=table)).localCheckpoint(
        eager=True
    )
    # DISTINCT absorbs replayed appends; checkpointed so the three
    # consumers (attribution join, fp-set, distinct) share one store scan
    store = (
        read_parquet(spark, path)
        .select(F.col("doc_id").alias("cid"), "fp")
        .distinct()
        .localCheckpoint(eager=True)
    )
    match = (
        bf.join(store, "fp")
        .groupBy("doc_id", "cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    best = (
        match.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("n_common").desc(), F.col("cid").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cid").alias("best_match_id"), "n_common")
    )
    nf = bf.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_fp"))
    nm = (
        bf.join(store.select("fp").distinct(), "fp")
        .groupBy("doc_id")
        .agg(F.countDistinct("fp").cast("long").alias("n_matched"))
    )
    return (
        nf.join(nm, "doc_id", "left")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "n_fp",
            F.coalesce(F.col("n_matched"), F.lit(0)).cast("long").alias("n_matched"),
            F.coalesce(F.col("best_match_id"), F.lit(-1))
            .cast("long")
            .alias("best_match_id"),
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
        )
    )


def winnow_index_compact(spark, path: str, target_file_bytes: int = 256 << 20) -> int:
    """Rewrite the accumulated per-append files as distinct (doc_id,
    fp) rows; replayed appends (duplicate fact rows) are absorbed here
    exactly as the probe's DISTINCT read absorbs them, so compaction
    never changes a probe decision.  The fingerprint relation is corpus
    cardinality, so the rewrite uses a size-derived file count
    hash-partitioned on doc_id (``store_layout``; 1 file at fixture
    scale, never one task for a TB store).  Returns the data-file count
    after."""
    with staged_swap(path) as (tmp,):
        raw = read_parquet(spark, path)
        write_store_relation(
            raw.distinct(), tmp, "doc_id", sized_on=raw, target_file_bytes=target_file_bytes
        )
    return _data_file_count(path)
